"""The workloads: which call each op makes, how many input rows it
reads, and how its output is checked.

An op is one closed-loop request: a call into the workload's layer that
returns a lazy DataFrame (timed as the plan call), then one action
through a sink (timed as the action). Checks run outside both.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Callable

import pyarrow.parquet as pq

from sensor_time_series_pyspark_spark.cli import compare, duck_con
from sensor_time_series_pyspark_spark.plans.sensor_etl import sensor_etl
from sensor_time_series_pyspark_spark.queries import ORACLE_SQL, QUERIES
from sensor_time_series_pyspark_spark.sources.sinks import write_parquet


@dataclass
class OpSpec:
    name: str
    layer: str                       # layer the plan call goes into
    tables: tuple[str, ...]          # tables it scans (for input rows)
    plan: Callable                   # (spark, data_dir) -> DataFrame
    # "parquet": written through sources.sinks and read back to check
    # every op; "noop": nothing comes back, so each op name's output is
    # collected once after the loop and checked
    sink: str = "noop"


def _query(name: str, *tables: str, sink: str = "noop") -> OpSpec:
    return OpSpec(name, "queries", tables, lambda spark, d: QUERIES[name](spark, d), sink)


WORKLOADS = {
    # batch jobs write their results
    "batch_pipeline": [
        OpSpec("sensor_etl", "plans", ("events", "customer", "nation"),
               lambda spark, d: sensor_etl(spark, d), sink="parquet"),
        _query("q24_holt_forecast", "events", sink="parquet"),
        _query("q19_jaccard_pairs", "documents", sink="parquet"),
    ],
    "analyst_queries": [
        _query("q05_event_type_pivot", "events"),
        _query("q11_resample_30min", "events"),
        _query("q14_interpolate", "events"),
        _query("q15_sessionize", "events"),
        _query("q29_asof_join", "events", "orders"),
    ],
}


def table_rows(data_dir: str, tables: tuple[str, ...]) -> int:
    return sum(pq.ParquetFile(os.path.join(data_dir, f"{t}.parquet")).metadata.num_rows
               for t in tables)


def run_sink(df, sink: str, out_dir: str) -> None:
    if sink == "parquet":
        write_parquet(df, out_dir)
    else:
        df.write.format("noop").mode("overwrite").save()


class Checker:
    """Oracle answers are computed once per run (DuckDB over the
    generated files) and compared against each checked output."""

    def __init__(self, data_dir: str, meta: dict):
        self.meta = meta
        self._con = duck_con(data_dir)
        self._oracle: dict = {}

    def close(self) -> None:
        self._con.close()

    def _expected(self, query: str):
        if query not in self._oracle:
            self._oracle[query] = self._con.execute(ORACLE_SQL[query]).fetchdf()
        return self._oracle[query]

    def check(self, op: str, got) -> tuple[list[str], int]:
        """(problems, output rows) for one op's output (a pandas frame)."""
        oracle_name = "flagship_hourly_wide" if op == "sensor_etl" else op
        problems = []
        if oracle_name in ORACLE_SQL:
            problems += compare(oracle_name, got, self._expected(oracle_name))
        if op == "q19_jaccard_pairs":
            found = set(zip(got["id_a"].tolist(), got["id_b"].tolist()))
            missed = [p for p in self.meta["planted_doc_pairs"] if tuple(p) not in found]
            if missed:
                problems.append(f"{len(missed)} planted near-dup pairs missing, e.g. {missed[0]}")
        if len(got) == 0:
            problems.append("empty output")
        return problems, len(got)
