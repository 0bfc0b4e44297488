"""Seeded sf0.1-shaped corpus and the time-ordered replay staging.

The benchmark makes its own inputs from its seed instead of reading the
shared fixture directory, so a run needs nothing outside its checkout.
Every table has the fixture's parquet schema, its row counts at sf0.1
and the same value domains (TESTDATA.md, FIXTURES.md): a uniform
TPC-H-like star schema, an `events` stream whose timestamps rise with
`event_id` (a Poisson arrival process over 30 days), a word-salad
`documents` table with 5% near duplicates ("<other doc> dup"), and unit
64-d `embeddings`. Generation is numpy + pyarrow only, so it costs well
under a second per table and no Spark job.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF = 0.1
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
# tables the streaming workloads read (events + the enrichment dimension)
STREAM_TABLES = ("customer", "events")

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]

_US_PER_DAY = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), type=pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, first: str, last: str, n: int) -> pa.Array:
    lo = np.datetime64(first, "D").astype(np.int64)
    hi = np.datetime64(last, "D").astype(np.int64)
    return _ts(rng.integers(lo, hi + 1, n) * _US_PER_DAY)


def _keys(n: int) -> np.ndarray:
    return np.arange(n, dtype=np.int64)


def _gen_region(rng) -> pa.Table:
    return pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })


def _gen_nation(rng) -> pa.Table:
    return pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })


def _gen_customer(rng) -> pa.Table:
    n = int(150_000 * SF)
    return pa.table({
        "c_custkey": _keys(n),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n)],
    })


def _gen_supplier(rng) -> pa.Table:
    n = int(10_000 * SF)
    return pa.table({
        "s_suppkey": _keys(n),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n),
    })


def _gen_part(rng) -> pa.Table:
    n = int(200_000 * SF)
    names = np.char.add(
        np.char.add(np.array(PART_ADJ)[rng.integers(0, 8, n)], " "),
        np.array(PART_NOUN)[rng.integers(0, 8, n)],
    )
    k = _keys(n)
    return pa.table({
        "p_partkey": k,
        "p_name": names,
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n).astype(str)),
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n)],
        "p_size": rng.integers(1, 51, n).astype(np.int32),
        "p_retailprice": np.round(900.0 + (k % 1000) / 10.0, 1),
    })


def _gen_orders(rng) -> pa.Table:
    n = int(1_500_000 * SF)
    return pa.table({
        "o_orderkey": _keys(n),
        "o_custkey": rng.integers(0, int(150_000 * SF), n),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n)],
    })


def _gen_lineitem(rng) -> pa.Table:
    n = int(6_000_000 * SF)
    return pa.table({
        "l_orderkey": rng.integers(0, int(1_500_000 * SF), n),
        "l_partkey": rng.integers(0, int(200_000 * SF), n),
        "l_suppkey": rng.integers(0, int(10_000 * SF), n),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n), 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n),
    })


def _gen_events(rng) -> pa.Table:
    n = 100_000
    # Poisson arrivals: mean gap 25.92 s spreads n events over ~30 days,
    # and ts rises strictly with event_id (microsecond resolution)
    gaps = np.maximum(rng.exponential(25.92e6, n).astype(np.int64), 1)
    return pa.table({
        "event_id": _keys(n),
        "ts": _ts(_EPOCH_2024 + np.cumsum(gaps)),
        "user_id": rng.integers(0, 1500, n),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def _gen_documents(rng) -> pa.Table:
    n = 5000
    words = np.array(WORDS)
    texts = [
        " ".join(words[rng.integers(0, len(WORDS), int(m))])
        for m in rng.integers(10, 101, n)
    ]
    for i in rng.choice(n, n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    return pa.table({
        "doc_id": _keys(n),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _gen_embeddings(rng) -> pa.Table:
    n, dim = 2000, 64
    x = rng.standard_normal((n, dim))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": _keys(n),
        "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n).astype(np.int32),
    })


_GENERATORS = {name: globals()[f"_gen_{name}"] for name in TABLES}


def write_corpus(out_dir: str, seed: int, tables=TABLES) -> str:
    """Write `tables` as `<name>.parquet` under `out_dir`; each table
    draws from its own stream of `seed`, so a subset equals the same
    tables of the full corpus."""
    os.makedirs(out_dir, exist_ok=True)
    for i, name in enumerate(TABLES):
        if name in tables:
            rng = np.random.default_rng([seed, i])
            pq.write_table(
                _GENERATORS[name](rng), os.path.join(out_dir, f"{name}.parquet")
            )
    return out_dir


def stage_time_ordered(events_path: str, out_dir: str, n_files: int) -> list[str]:
    """Stage the events table for a file-source replay: sort by `ts`,
    cut into `n_files` contiguous slices and write them as
    `part-00000.parquet` ... in that order, so a replay that releases
    files by name releases event time in order.

    Event time must be monotone across files: the file source lists a
    directory in name order, and the windowed stream drops anything
    more than 15 minutes older than the newest event seen. A hash
    `repartition(n)` staging scatters each file over the whole month;
    on the fixture that replay drops 73,659 of 100,000 events as late
    and emits 14,455 windows instead of 73,371."""
    table = pq.read_table(events_path).sort_by("ts")
    os.makedirs(out_dir, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    paths = []
    for i in range(n_files):
        path = os.path.join(out_dir, f"part-{i:05d}.parquet")
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]), path)
        paths.append(path)
    return paths
