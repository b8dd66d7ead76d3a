"""Seeded benchmark inputs, written with numpy + pyarrow (never Spark).

Every table has the column names and parquet types of the package's
star-schema fixture (events / customer / nation / orders / documents), so the registered queries and their DuckDB oracles run on
it unchanged. Event timestamps fall in 2024-01-01 .. 2024-01-30 because
queries hard-code split dates inside that month.

A dataset is cached on disk by (workload, seed, size); generation is
never part of a timed or set-up figure. ``generate`` returns the
directory plus a small ``meta`` dict (sizes, skew, planted pairs).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
LANGS = ["en", "de", "es", "fr", "zh"]
VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window order data column join small customer query "
    "big stream filter group vector sensor gas reading terminal hour day "
    "alarm level drift spike calm"
).split()

JAN_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00 in epoch micros
DAY_US = 86_400_000_000
N_DAYS = 30

# (workload) -> size parameters; the README and BENCHMARK.json quote
# these figures, so change them together. Each figure's source is
# named next to it; "sf0.1" is the package's star-schema test fixture
# (100k events, 1,500 users, 15,000 customers, 150,000 orders, 5,000
# documents), measured with DuckDB.
SIZES = {
    "batch_pipeline": {
        "events": 400_000,        # 4x sf0.1; the ETL scan grows with it
        "users": 1_500,           # sf0.1's user domain, kept as the events grow
        "zipf_s": 1.2,            # the skew law of scripts/gen_scale_fixture.py
        "customers": 15_000,      # sf0.1
        # sf0.1 and sources.sensor_sim have no NULL readings; see the
        # README's findings for what q24 does with them
        "null_share": 0.0,
        "documents": 5_000,       # sf0.1
        "near_dup_share": 0.0482,  # sf0.1: 241 q19 pairs over 5,000 documents
        "exact_dup_share": 0.0016,  # sf0.1: 8 exact copies over 5,000 documents
    },
    "analyst_queries": {"events": 100_000, "users": 1_500, "customers": 15_000,
                        "orders": 150_000},  # all sf0.1
}

# at most this many cached datasets are kept; older ones are deleted
CACHE_KEEP = 6


def _write(tables: dict[str, pa.Table], out: str) -> None:
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out, f"{name}.parquet"))


def _nation() -> pa.Table:
    keys = np.arange(25, dtype=np.int32)
    return pa.table({
        "n_nationkey": keys,
        "n_name": [f"NATION_{k}" for k in keys],
        "n_regionkey": (keys % 5).astype(np.int32),
    })


def _customer(rng: np.random.Generator, n: int) -> pa.Table:
    return pa.table({
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": [f"Customer#{k:09d}" for k in range(n)],
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, len(SEGMENTS), n)],
    })


def _events(rng: np.random.Generator, user_id: np.ndarray, null_share: float = 0.0) -> pa.Table:
    """One row per user_id entry: uniform timestamps over the month
    (sorted, so event_id follows time like the fixture), 2-decimal
    positive readings, optional NULL readings."""
    n = len(user_id)
    ts = np.sort(JAN_2024_US + rng.integers(0, N_DAYS * DAY_US, n))
    value = np.round(rng.gamma(1.0, 50.0, n), 2)
    mask = rng.random(n) < null_share if null_share else None
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": user_id.astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": pa.array(value, mask=mask),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def _orders(rng: np.random.Generator, n: int, n_cust: int) -> pa.Table:
    """Orders over sf0.1's customer domain and date range (1995-01-01 ..
    2001-08-01)."""
    day0 = np.datetime64("1995-01-01", "D").astype(np.int64)
    n_days = int((np.datetime64("2001-08-01") - np.datetime64("1995-01-01")).astype(int))
    days = day0 + rng.integers(0, n_days + 1, n)
    return pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n)],
        "o_totalprice": np.round(rng.uniform(900.0, 500_000.0, n), 2),
        "o_orderdate": pa.array(days * DAY_US, type=pa.timestamp("us")),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n)],
    })


def _zipf_keys(rng: np.random.Generator, n: int, n_keys: int, s: float) -> np.ndarray:
    """n draws from a Zipf(s) law over n_keys keys; which key is hot is
    a seeded permutation, so skew does not always land on key 0."""
    p = 1.0 / np.arange(1, n_keys + 1) ** s
    p /= p.sum()
    ranks = rng.choice(n_keys, size=n, p=p)
    return rng.permutation(n_keys)[ranks]


def _documents(rng: np.random.Generator, p: dict) -> tuple[pa.Table, list[list[int]]]:
    """Random word documents of 10..100 words, as in sf0.1. A share are
    near-duplicates of a distinct earlier original and a share are exact
    copies. A near-duplicate has one word appended or its last word
    dropped, the edit behind 236 of sf0.1's 241 q19 pairs. The planted
    near-dup pairs are returned as (original_id, dup_id)."""
    n = p["documents"]
    n_near = round(n * p["near_dup_share"])
    n_exact = round(n * p["exact_dup_share"])
    n_orig = n - n_near - n_exact
    words = np.array(VOCAB)
    texts = [list(words[rng.integers(0, len(VOCAB), rng.integers(10, 101))]) for _ in range(n_orig)]
    planted: list[list[int]] = []
    for src in rng.choice(n_orig, size=n_near, replace=False):
        toks = texts[src][:-1] if rng.random() < 0.5 else texts[src] + [str(rng.choice(words))]
        planted.append([int(src), len(texts)])
        texts.append(toks)
    for src in rng.integers(0, n_orig, n_exact):
        texts.append(list(texts[src]))
    text = [" ".join(t) for t in texts]
    tbl = pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": text,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n)],
        "source": [f"src{k}" for k in rng.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in text], dtype=np.int64),
    })
    return tbl, planted


def _build(workload: str, seed: int) -> tuple[dict[str, pa.Table], dict]:
    p = SIZES[workload]
    rng = np.random.default_rng([seed, sorted(SIZES).index(workload)])
    meta: dict = {"workload": workload, "seed": seed, "size": p}
    if workload == "batch_pipeline":
        users = _zipf_keys(rng, p["events"], p["users"], p["zipf_s"])
        docs, meta["planted_doc_pairs"] = _documents(rng, p)
        tables = {
            "nation": _nation(),
            "customer": _customer(rng, p["customers"]),
            "events": _events(rng, users, p["null_share"]),
            "documents": docs,
        }
    elif workload == "analyst_queries":
        users = rng.integers(0, p["users"], p["events"])
        tables = {
            "events": _events(rng, users),
            "orders": _orders(rng, p["orders"], p["customers"]),
        }
    else:
        raise ValueError(f"unknown workload {workload!r}")
    return tables, meta


def generate(cache_root: str, workload: str, seed: int) -> tuple[str, dict]:
    """Return (directory, meta) for the workload's inputs at ``seed``,
    generating them on a cache miss."""
    size_tag = json.dumps(SIZES[workload], sort_keys=True).encode()
    key = f"{workload}-s{seed}-{hashlib.sha1(size_tag).hexdigest()[:8]}"
    out = os.path.join(cache_root, key)
    meta_path = os.path.join(out, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as fh:
            return out, json.load(fh)
    tables, meta = _build(workload, seed)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    _write(tables, tmp)
    with open(os.path.join(tmp, "meta.json"), "w") as fh:
        json.dump(meta, fh)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    _evict(cache_root, keep=out)
    return out, meta


def _evict(cache_root: str, keep: str) -> None:
    dirs = [
        os.path.join(cache_root, d) for d in os.listdir(cache_root)
        if os.path.exists(os.path.join(cache_root, d, "meta.json"))
    ]
    dirs.sort(key=os.path.getmtime, reverse=True)
    for d in dirs[CACHE_KEEP:]:
        if d != keep:
            shutil.rmtree(d, ignore_errors=True)
