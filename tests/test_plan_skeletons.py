"""Golden plan skeletons for all 13 headline bench queries
(VERDICT r6 next-round #7), plus the four other near-dup operators of
operators/dedup.py (q20 MinHash, q21 SimHash, q45 char-gram prefix
Jaccard, q160 TF-IDF cosine).

test_plans.py pins individual properties (broadcast in the flagship,
no cartesians, shuffle budgets as <= bounds). This module pins the
FULL structural skeleton — exact counts of every cost-bearing physical
operator (exchanges, join strategies, aggregates, windows, sorts,
generates) — so a future edit that un-broadcasts a dim join, adds an
exchange, or flips a WindowGroupLimit into a full sort fails CI here,
not in the bench numbers.

Counts were frozen from the formatted explain at sf0.001 under the
conftest session (shuffle_partitions=8). Notable shapes the pins
protect:
- flagship / q03: exactly 2 BroadcastHashJoins and ONE shuffle —
  the SURVEY §7 target (a regression to SortMergeJoin doubles the
  exchanges);
- q01/q05/q11/q17: pure two-phase hash aggregate, ONE shuffle;
- q09/q23: WindowGroupLimit (top-k pushdown) present — losing it
  means a full per-partition sort of all rows, catastrophic at scale;
- q19: 3 exchanges total (shingle explode + inverted index + pair
  agg) and a BroadcastHashJoin for the df-valve — its cost envelope;
- q23: the ONE BroadcastNestedLoopJoin this suite allows by design
  (broadcast queries x corpus scan, the declared verification tier);
- q22: a single exchange (doc-grain rollup), everything else
  map-side;
- q20/q21/q45/q160: built from dedup.py's shared shingle → band →
  verify stages; the pins hold those stages' plans fixed.

If a pin moves because of a DELIBERATE plan improvement, re-freeze the
skeleton in the same commit and say why in its message.
"""

from __future__ import annotations

import re

import __spark_entry__ as entrymod

SF = "/root/testdata/sf0.001"

# physical operators that carry the cost structure of a plan
_STRUCTURAL = (
    "Exchange",
    "BroadcastExchange",
    "BroadcastHashJoin",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
    "HashAggregate",
    "ObjectHashAggregate",
    "SortAggregate",
    "Window",
    "WindowGroupLimit",
    "Sort",
    "Generate",
    "Expand",
)

SKELETONS: dict[str, dict[str, int]] = {
    "flagship_hourly_wide": {
        "BroadcastExchange": 2,
        "BroadcastHashJoin": 2,
        "HashAggregate": 2,
        "Exchange": 1,
    },
    "q01_pricing_summary": {"HashAggregate": 2, "Exchange": 1},
    "q03_segment_revenue": {
        "BroadcastExchange": 2,
        "BroadcastHashJoin": 2,
        "HashAggregate": 2,
        "Exchange": 1,
    },
    "q05_event_type_pivot": {"HashAggregate": 2, "Exchange": 1},
    "q09_top_orders_per_customer": {
        "Sort": 2,
        "WindowGroupLimit": 2,
        "Exchange": 1,
        "Window": 1,
    },
    "q11_resample_30min": {"HashAggregate": 2, "Exchange": 1},
    # 2 Sorts/Windows since the round-7 O(n²) fix: the forward lookup
    # runs on its own DESC-ordered running frame (asc + desc sorts of
    # the same entity partition, still ONE exchange) instead of the
    # quadratic (0, unboundedFollowing) frame that wedged on the zipf
    # hot key
    "q14_interpolate": {"Exchange": 1, "Sort": 2, "Window": 2},
    "q15_sessionize": {
        "Exchange": 1,
        "Sort": 1,
        "Window": 2,
        "HashAggregate": 2,
    },
    "q17_dedup_exact": {"HashAggregate": 2, "Exchange": 1},
    "q19_jaccard_pairs": {
        "Sort": 2,
        "SortAggregate": 2,
        "Exchange": 3,
        "Generate": 1,
        "BroadcastExchange": 1,
        "BroadcastHashJoin": 1,
        "HashAggregate": 2,
    },
    "q22_doc_stats": {"Exchange": 1},
    "q23_topk_cosine": {
        "BroadcastExchange": 1,
        "BroadcastNestedLoopJoin": 1,
        "Sort": 2,
        "WindowGroupLimit": 2,
        "Exchange": 1,
        "Window": 1,
    },
    "q29_asof_join": {
        "HashAggregate": 2,
        "Exchange": 2,
        "Sort": 1,
        "Window": 1,
    },
    "q20_minhash_lsh": {
        "Sort": 2,
        "SortAggregate": 2,
        "Exchange": 4,
        "Generate": 4,
        "HashAggregate": 6,
        "BroadcastExchange": 3,
        "BroadcastHashJoin": 3,
    },
    "q21_simhash": {
        "Sort": 2,
        "SortAggregate": 2,
        "Exchange": 4,
        "Generate": 3,
        "HashAggregate": 4,
        "BroadcastExchange": 1,
        "BroadcastHashJoin": 1,
    },
    "q45_char_ngram_jaccard": {
        "Sort": 4,
        "SortAggregate": 4,
        "Exchange": 7,
        "Generate": 4,
        "HashAggregate": 4,
        "BroadcastExchange": 4,
        "BroadcastHashJoin": 4,
        "ObjectHashAggregate": 2,
    },
    "q160_tfidf_pairs": {
        "Sort": 10,
        "SortAggregate": 8,
        "Exchange": 17,
        "Generate": 4,
        "HashAggregate": 28,
        "BroadcastExchange": 12,
        "BroadcastHashJoin": 12,
        "Window": 2,
    },
}


def _skeleton(df) -> dict[str, int]:
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    counts: dict[str, int] = {}
    for op in re.findall(r"\(\d+\) ([A-Za-z]+)", plan):
        if op in _STRUCTURAL:
            counts[op] = counts.get(op, 0) + 1
    return counts


def test_headline_plan_skeletons(spark):
    qs = entrymod.queries()
    diffs = {}
    for name, want in SKELETONS.items():
        # cached frames from earlier tests or entries (q20 and q21
        # persist the same shingle sets) would splice InMemoryTableScan
        # into subtrees and change the counts — start each one clean
        spark.catalog.clearCache()
        got = _skeleton(qs[name](spark, SF))
        if got != want:
            diffs[name] = {"want": want, "got": got}
    assert not diffs, f"plan skeletons moved: {diffs}"
