"""Seeded workload benchmark for the sensor time-series package.

    python3 perfbench/run.py --workload batch_pipeline --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload all --seed 1      # every workload, one table

Run from the repository root. One run:

1. pins the machine-dependent settings (cores, local dirs, driver
   memory), prints them with load1 and flags a loaded machine;
2. generates (or reuses) the seeded inputs for the workload;
3. sets up once: ``session.get_spark`` on ``local[nproc]`` (which
   starts the JVM) plus one warm-up of every op type; that cold time is
   ``setup_s``. The session stays up for the rest of the run, and
   nothing is uncached;
4. runs the workload's ops closed-loop with one client, in whole
   cycles, until ``--seconds`` of measured time have passed and at
   least ``MIN_CYCLES`` cycles have run;
5. checks outputs outside the timed windows (DuckDB oracles over the
   generated files, planted near-duplicate pairs);
6. prints every metric with unit and sample count, then one JSON line.

``--trace 1`` measures the same loop with spans around every layer call
and Spark's counters diffed after each action, and reports the
per-layer metrics instead of the end-to-end ones.
"""

from __future__ import annotations

import argparse
import functools
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

from gen import SIZES, generate
from probe import RssSampler, SparkCounters, Tracer, cpu_steal, tree_pids, tree_usage

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".perfbench")
PACKAGE = "sensor_time_series_pyspark_spark"
WORKLOADS = tuple(SIZES)
# every op type gets at least this many samples: the first measured
# cycle still pays JIT compilation, and a median of three leaves it out
MIN_CYCLES = 3
RSS_NOTE = "peak of driver + JVM + Python workers in the measured loop, sampled every 0.25 s"

# layer functions whose calls get a span in traced runs, wherever the
# package or this benchmark imported them
LAYER_FUNCS = {
    "sources": [("sources.readers", "read_table")],
    "plans": [("plans.sensor_etl", "sensor_etl")],
    "operators": [("operators.dedup", "jaccard_pairs"), ("operators.pivot", "pivot_wide"),
                  ("operators.resample", "resample"), ("operators.sessionize", "sessionize"),
                  ("operators.asof", "asof_join"), ("operators.windows", "interpolate_linear")],
    "ml": [("ml.forecast", "fit_forecast")],
}


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def pin_environment() -> dict[str, str]:
    """Machine-dependent settings, pinned here rather than inherited."""
    nproc = len(os.sched_getaffinity(0))
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (1 << 20)
    tmp = os.path.join(CACHE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    pinned = {
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_LOCAL_DIRS": os.path.join(CACHE, "spark-local"),
        # well below physical RAM (the session default is 16g)
        "SPARK_GRAFT_DRIVER_MEM": f"{min(3072, phys_mb // 4)}m",
        "TMPDIR": tmp,
        # every JVM (the launcher's too) keeps its temp files in here
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        # Python workers import the package from this checkout
        "PYTHONPATH": ROOT,
    }
    os.environ.update(pinned)
    os.environ.pop("SPARK_MASTER", None)
    return pinned


def import_package():
    """Import the package from this checkout, and only from here."""
    sys.path.insert(0, ROOT)
    try:
        import sensor_time_series_pyspark_spark as pkg
    except ImportError as exc:
        sys.exit(f"perfbench: cannot import {PACKAGE} from {ROOT}: {exc}")
    if not os.path.abspath(pkg.__file__).startswith(ROOT + os.sep):
        sys.exit(f"perfbench: {PACKAGE} resolved outside the checkout: {pkg.__file__}")
    return pkg


def _spanned(tracer, fn, layer: str, name: str):
    @functools.wraps(fn)
    def wrapped(*a, **k):
        with tracer.span(name, layer=layer):
            return fn(*a, **k)
    return wrapped


def instrument(tracer) -> None:
    """Wrap each layer function in a span, in every module that bound it."""
    import importlib

    for layer, funcs in LAYER_FUNCS.items():
        for mod_name, fn_name in funcs:
            orig = getattr(importlib.import_module(f"{PACKAGE}.{mod_name}"), fn_name)
            wrapped = _spanned(tracer, orig, layer, f"{layer}.{fn_name}")
            for mod in list(sys.modules.values()):
                if getattr(mod, fn_name, None) is orig:
                    setattr(mod, fn_name, wrapped)


def shutdown(spark) -> None:
    """Stop the session, the JVM behind it and every process they left."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 30
    while len(tree_pids(os.getpid())) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in tree_pids(os.getpid())[1:]:
        try:
            os.kill(pid, 9)
            os.waitpid(pid, 0)
        except (ProcessLookupError, ChildProcessError):
            pass


class Run:
    def __init__(self, args, nproc: int):
        from workloads import WORKLOADS as OPS, table_rows

        self.args = args
        self.nproc = nproc
        self.op_specs = OPS[args.workload]
        self.by_name = {op.name: op for op in self.op_specs}
        self.data_dir, self.meta = generate(os.path.join(CACHE, "data"), args.workload, args.seed)
        self.rows = {op.name: table_rows(self.data_dir, op.tables) for op in self.op_specs}
        self.out_root = os.path.join(CACHE, "out", f"{os.getpid()}")
        self.tracer = Tracer(bool(args.trace))
        self.spark = None
        self.ops: list[dict] = []

    # -- set-up ----------------------------------------------------------
    def set_up(self) -> None:
        from sensor_time_series_pyspark_spark.session import get_spark

        extra = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(CACHE, "warehouse"),
        }
        t0 = time.perf_counter()
        with self.tracer.span("session.get_spark"):
            self.spark = get_spark("perfbench", master=f"local[{self.nproc}]", extra_conf=extra)
        t1 = time.perf_counter()
        with self.tracer.span("session.warmup"):
            for op in self.op_specs:
                with self.tracer.span(f"warmup.{op.name}"):
                    self._action(op, op.plan(self.spark, self.data_dir), "warm")
        self.get_spark_s, self.warmup_s = t1 - t0, time.perf_counter() - t1

    def _action(self, op, df, tag: str) -> None:
        from workloads import run_sink

        run_sink(df, op.sink, os.path.join(self.out_root, f"{op.name}-{tag}"))

    # -- measured loop ---------------------------------------------------
    def measure(self) -> None:
        counters = None
        if self.args.trace:
            instrument(self.tracer)
            counters = SparkCounters(self.spark)
            self.cache_after_setup = counters.storage_bytes()
        me = os.getpid()
        n_ops = len(self.op_specs)
        steal0 = cpu_steal()
        with RssSampler(me) as rss:
            start, bookkeeping, i = time.perf_counter(), 0.0, 0
            while (i < MIN_CYCLES * n_ops or i % n_ops
                   or time.perf_counter() - start - bookkeeping < self.args.seconds):
                op = self.op_specs[i % n_ops]
                rec = {"op": op.name, "i": i, "rows": self.rows[op.name], "error": None}
                cpu0 = tree_usage(me)[0]
                t0 = time.perf_counter()
                try:
                    with self.tracer.span(f"op.{op.name}"):
                        with self.tracer.span(f"{op.layer}.plan_call", layer=op.layer):
                            df = op.plan(self.spark, self.data_dir)
                        t1 = time.perf_counter()
                        with self.tracer.span("sources.sink"):
                            self._action(op, df, f"op{i}")
                except Exception:  # a failed op is counted, and the loop goes on
                    rec["error"] = traceback.format_exc(limit=3)
                    t1 = time.perf_counter()
                t2 = time.perf_counter()
                rec.update(plan_s=t1 - t0, action_s=t2 - t1, wall_s=t2 - t0,
                           cpu_s=tree_usage(me)[0] - cpu0)
                if counters is not None:
                    tb = time.perf_counter()
                    rec["counters"] = counters.diff()
                    rec["cache.storage_bytes"] = counters.storage_bytes()
                    bookkeeping += time.perf_counter() - tb
                self.ops.append(rec)
                i += 1
        self.trace_overhead_s = bookkeeping
        self.peak_rss_mb = rss.peak / (1 << 20)
        steal1 = cpu_steal()
        self.steal_share = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])

    # -- checks ----------------------------------------------------------
    def check(self) -> None:
        import pyarrow.parquet as pq

        from workloads import Checker

        checker = Checker(self.data_dir, self.meta)
        verdicts: dict[str, tuple[list[str], int]] = {}

        def verdict(name: str, fetch) -> tuple[list[str], int]:
            try:
                return checker.check(name, fetch())
            except Exception:  # a check that cannot run fails its op
                return [f"check raised: {traceback.format_exc(limit=2)}"], 0

        try:
            for rec in self.ops:
                if rec["error"]:
                    continue
                op = self.by_name[rec["op"]]
                with self.tracer.span(f"check.{op.name}"):
                    if op.sink == "parquet":
                        out = os.path.join(self.out_root, f"{op.name}-op{rec['i']}")
                        rec["problems"], rec["out_rows"] = verdict(
                            op.name, lambda: pq.read_table(out).to_pandas())
                        continue
                    if op.name not in verdicts:
                        verdicts[op.name] = verdict(
                            op.name, lambda: op.plan(self.spark, self.data_dir).toPandas())
                    rec["problems"], rec["out_rows"] = verdicts[op.name]
        finally:
            checker.close()
            shutil.rmtree(self.out_root, ignore_errors=True)

    # -- report ----------------------------------------------------------
    def end_to_end(self) -> dict[str, tuple[float, str, str]]:
        """Timing metrics are built from each op type's median, so they
        describe a median cycle (one op of each type) and do not depend
        on how many cycles fit in the run or on a stray slow op."""
        walls: dict[str, list[float]] = {}
        cpus: dict[str, list[float]] = {}
        for r in self.ops:
            walls.setdefault(r["op"], []).append(r["wall_s"])
            cpus.setdefault(r["op"], []).append(r["cpu_s"])
        rows = sum(self.rows[k] for k in walls)
        wall = sum(statistics.median(v) for v in walls.values())
        counts = ", ".join(f"{k} n={len(v)}" for k, v in walls.items())
        return {
            "setup_s": (self.get_spark_s + self.warmup_s, "s",
                        "one cold set-up: JVM start, get_spark, warm-up of every op type"),
            "rows_per_s": (rows / wall, "rows/s",
                           f"{rows} input rows per cycle / {wall:.3f} s median cycle; {counts}"),
            "cpu_s_per_mrow": (sum(statistics.median(v) for v in cpus.values()) / rows * 1e6, "s/Mrow",
                               f"process-tree CPU of a median cycle; {counts}"),
        }

    def per_layer(self) -> dict[str, tuple[float, str, str]]:
        ops, n = self.ops, len(self.ops)
        tot: dict[str, float] = {}
        for r in ops:
            for k, v in r.get("counters", {}).items():
                tot[k] = max(tot.get(k, 0.0), v) if k == "agg.peak_memory_bytes" else tot.get(k, 0.0) + v
        mean = lambda k: tot.get(k, 0.0) / n  # noqa: E731
        wall = sum(r["wall_s"] for r in ops)
        action = sum(r["action_s"] for r in ops)
        writes = [r["action_s"] for r in ops if self.by_name[r["op"]].sink == "parquet"]
        dedup = [r for r in ops if r["op"] == "q19_jaccard_pairs"]
        cand = sum(r["counters"].get("join.output_rows", 0.0) for r in dedup)
        pairs = sum(r.get("out_rows", 0) for r in dedup)
        per_op = f"per-op mean over n={n} ops"
        out = {
            "session.get_spark_s": (self.get_spark_s, "s", "JVM start included"),
            "session.warmup_s": (self.warmup_s, "s", "first run of every op type"),
            "exec.plan_s": (sum(r["plan_s"] for r in ops) / n, "s", per_op),
            "exec.plan_share": (sum(r["plan_s"] for r in ops) / wall, "ratio", "plan call / op wall"),
            "exec.wall_s": (wall / n, "s", per_op),
            "exec.core_busy_ratio": (tot.get("exec.executor_run_s", 0.0) / (action * self.nproc), "ratio",
                                     f"executor run time / (action wall x {self.nproc} cores)"),
            "sources.write_s": (sum(writes) / len(writes) if writes else 0.0, "s",
                                f"write_parquet call per parquet-sink op, n={len(writes)}"
                                + ("" if writes else "; no op of this workload writes")),
            "agg.peak_memory_bytes": (tot.get("agg.peak_memory_bytes", 0.0), "bytes", "max over aggregate nodes"),
            "operators.dedup.candidate_rows": (cand / max(1, len(dedup)), "rows",
                                               f"join output rows per jaccard_pairs op, n={len(dedup)}"),
            "operators.dedup.pairs_out": (pairs / max(1, len(dedup)), "rows", f"n={len(dedup)}"),
            "operators.dedup.useful_ratio": (pairs / cand if cand else 0.0, "ratio", "pairs / candidates"),
            "cache.storage_bytes": (max(r["cache.storage_bytes"] for r in ops), "bytes",
                                    "max after any op; persisted blocks are never released"),
            "trace.overhead_s": (self.trace_overhead_s, "s",
                                 f"counter reads between ops, n={n}; see README"),
            "process.peak_rss_mb": (self.peak_rss_mb, "MB", RSS_NOTE),
        }
        units = {"exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
                 "exec.executor_run_s": "s", "exec.executor_cpu_s": "s", "exec.gc_s": "s",
                 "sources.scan_bytes": "bytes", "sources.scan_rows": "rows",
                 "sources.files_read": "count", "sources.write_bytes": "bytes",
                 "shuffle.write_bytes": "bytes", "shuffle.read_bytes": "bytes",
                 "spill.memory_bytes": "bytes",
                 "spill.disk_bytes": "bytes", "agg.build_s": "s", "join.broadcast_bytes": "bytes",
                 "ml.python_bytes_sent": "bytes", "ml.python_bytes_returned": "bytes",
                 "ml.python_rows_returned": "rows"}
        for k, unit in units.items():
            out[k] = (mean(k), unit, per_op)
        # layers every workload calls; plans and ml are printed only
        plan_times = self.layer_plan_times()
        for layer in ("queries", "operators", "sources"):
            out[f"{layer}.plan_s"] = (plan_times.get(f"{layer}.plan_s", 0.0), "s",
                                      "per-op mean in the layer's outermost calls")
        return out

    def layer_plan_times(self) -> dict[str, float]:
        """Per-op mean time inside each layer's outermost calls made
        while planning a measured op."""
        spans = self.tracer.spans
        out: dict[str, float] = {}
        for s in spans:
            layer, p, in_op = s.get("layer"), s["parent"], False
            if layer is None:
                continue
            outermost = True
            while p is not None:
                outermost &= spans[p].get("layer") != layer
                in_op |= spans[p]["name"].startswith("op.")
                p = spans[p]["parent"]
            if outermost and in_op:
                out[layer] = out.get(layer, 0.0) + s["end"] - s["start"]
        return {f"{k}.plan_s": v / len(self.ops) for k, v in sorted(out.items())}


def run_one(args) -> int:
    settings = pin_environment()
    load1 = os.getloadavg()[0]
    nproc = int(settings["SPARK_GRAFT_CPUS"])
    print(f"perfbench workload={args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace}")
    print("settings: " + " ".join(f"{k}={v}" for k, v in settings.items()
                                  if k in ("SPARK_GRAFT_CPUS", "SPARK_LOCAL_DIRS", "SPARK_GRAFT_DRIVER_MEM")))
    flag = f"FLAGGED: load1 > nproc={nproc}, timings are contended" if load1 > nproc else "ok"
    print(f"load1 before run: {load1:.2f} ({flag})")
    import_package()

    run = Run(args, nproc)
    print(f"inputs: {run.data_dir} rows per op: {run.rows}")
    phases = [("start", time.perf_counter())]
    try:
        run.set_up()
        phases.append(("setup", time.perf_counter()))
        run.measure()
        phases.append(("measure", time.perf_counter()))
        run.check()
        phases.append(("check", time.perf_counter()))
    finally:
        if run.spark is not None:
            shutdown(run.spark)
    phases.append(("shutdown", time.perf_counter()))
    print("phases: " + ", ".join(f"{name} {t - phases[i][1]:.1f} s"
                                 for i, (name, t) in enumerate(phases[1:])))

    failed = sum(1 for r in run.ops if r["error"] or r.get("problems"))
    for r in run.ops:
        if r["error"] or r.get("problems"):
            print(f"FAILED op {r['i']} {r['op']}: {r['error'] or '; '.join(r['problems'])}")
    attempted = len(run.ops)
    print(f"cpu steal during the measured loop: {run.steal_share:.1%}")
    print("op walls (s): " + " ".join(f"{r['op'][:3]}={r['wall_s']:.3f}/{r['cpu_s']:.2f}" for r in run.ops))
    e2e = run.end_to_end()
    metrics = run.per_layer() if args.trace else e2e
    for name, (value, unit, note) in e2e.items():
        print(f"{name} = {value:.6g} {unit}  ({note})")
    # printed, not in the JSON metrics: see perfbench/README.md
    print(f"op_p50_s = {statistics.median(r['wall_s'] for r in run.ops):.6g} s  "
          f"(median wall time of n={attempted} ops)")
    print(f"peak_rss_mb = {run.peak_rss_mb:.6g} MB  ({RSS_NOTE})")
    print(f"op_p90_s = n/a ({attempted} ops; a p90 needs >= 100 so ten samples lie beyond it)")
    print(f"fail_ratio = {failed}/{attempted} = {failed / attempted:.4g}")
    if args.trace:
        for name, (value, unit, note) in metrics.items():
            print(f"{name} = {value:.6g} {unit}  ({note})")
        for name, value in run.layer_plan_times().items():
            if name not in metrics:
                print(f"{name} = {value:.6g} s  (per-op mean in the layer's outermost calls)")
        print("cache.storage_bytes after set-up, then after each op: "
              + " ".join(str(v) for v in [run.cache_after_setup] + [r["cache.storage_bytes"] for r in run.ops]))
        fetch_wait = sum(r["counters"].get("shuffle.fetch_wait_s", 0.0) for r in run.ops)
        print(f"shuffle.fetch_wait_s = {fetch_wait / attempted:.6g} s  (per-op mean; "
              "local mode reads every shuffle block locally)")
        os.makedirs(os.path.join(CACHE, "traces"), exist_ok=True)
        path = os.path.join(CACHE, "traces", f"{args.workload}-seed{args.seed}.json")
        run.tracer.write(path)
        print(f"spans: {path}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u, _) in metrics.items()},
    }))
    return 0


def run_all(args) -> int:
    """Every workload in its own process (each gets a cold JVM), then a table."""
    rows = []
    for w in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace)]
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
        sys.stdout.write(proc.stdout)
        if proc.returncode != 0:
            return proc.returncode
        rows.append((w, json.loads(proc.stdout.strip().splitlines()[-1])))
    print("\nworkload            " + "".join(f"{k:>16}" for k in rows[0][1]["metrics"]) + "   failed/attempted")
    for w, res in rows:
        print(f"{w:<20}" + "".join(f"{m['value']:>16.6g}" for m in res["metrics"].values())
              + f"   {res['failed']}/{res['attempted']}")
    print(json.dumps({
        "correct": all(r["correct"] for _, r in rows),
        "attempted": sum(r["attempted"] for _, r in rows),
        "failed": sum(r["failed"] for _, r in rows),
        "metrics": {f"{w}.{k}": v for w, r in rows for k, v in r["metrics"].items()},
    }))
    return 0


def main(argv=None) -> int:
    args = parse_args(argv)
    return run_all(args) if args.workload == "all" else run_one(args)


if __name__ == "__main__":
    sys.exit(main())
