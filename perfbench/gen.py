"""Seeded generator for the benchmark's input tables.

Writes the ten tables the engine's operators read (the TPC-H-ish star
schema, ``events``, ``documents`` and ``embeddings``) as one parquet
file each, with the schemas and value domains of the engine's
fixtures (FIXTURES.md). The same seed gives byte-identical
files; only values and row order change with the seed, never row
counts, so the work per pass stays comparable across seeds.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Rows per table. ``events`` and the two text/vector tables are sized
# above the star schema so the write-heavy and compute-bound workloads
# have enough rows to move bytes; the star schema is sf0.01-shaped.
SIZES = {
    "supplier": 100,
    "customer": 1_500,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 40_000,
    "documents": 1_500,
    "embeddings": 1_000,
}

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PART_ADJ = ("blue", "cold", "hot", "large", "old", "red", "small")
_PART_NOUN = ("anvil", "bolt", "gear", "plate", "ring", "rod", "widget")
_PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_LANGS = ("de", "en", "es", "fr", "zh")
_LANG_P = (0.15, 0.40, 0.15, 0.15, 0.15)
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_NEAR_DUP_SHARE = 0.05   # docs that copy an earlier doc and append " dup"
_EXACT_DUP_SHARE = 0.002  # docs that copy an earlier doc verbatim
_EMB_DIM = 64
_EVENT_USERS_PER_ROW = 1 / 66  # ~66 events per user, as in the fixtures


def _days(rng, n: int, start: str, end: str) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int)
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, choices, n: int, p=None) -> np.ndarray:
    return np.asarray(choices, dtype=object)[rng.choice(len(choices), n, p=p)]


def _documents(rng, n: int) -> pa.Table:
    words = np.asarray(_WORDS, dtype=object)
    lengths = rng.integers(10, 101, n)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lengths]
    roles = rng.random(n)
    for i in range(1, n):
        if roles[i] < _NEAR_DUP_SHARE:
            texts[i] = texts[rng.integers(0, i)] + " dup"
        elif roles[i] < _NEAR_DUP_SHARE + _EXACT_DUP_SHARE:
            texts[i] = texts[rng.integers(0, i)]
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": _pick(rng, _LANGS, n, _LANG_P),
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.fromiter((len(t) for t in texts), np.int64, n),
    })


def _embeddings(rng, n: int) -> pa.Table:
    labels = rng.integers(0, 10, n).astype(np.int32)
    centroids = rng.normal(0.0, 0.6, (10, _EMB_DIM))
    vecs = rng.normal(0.0, 1.0, (n, _EMB_DIM)) + centroids[labels]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": labels,
    })


def _events(rng, n: int) -> pa.Table:
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86_400 * 1_000_000
    ts = start + np.sort(rng.integers(0, span_us, n)).astype("timedelta64[us]")
    users = max(1, int(n * _EVENT_USERS_PER_ROW))
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": rng.integers(0, users, n).astype(np.int64),
        "event_type": _pick(rng, _EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def build_tables(seed: int) -> dict[str, pa.Table]:
    """Every input table for ``seed``, as Arrow tables (no I/O)."""
    # one child stream per table: resizing one table leaves the others'
    # values unchanged for the same seed
    streams = dict(zip(TABLES, np.random.default_rng(seed).spawn(len(TABLES))))
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(_REGIONS),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    rng, n = streams["supplier"], SIZES["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "s_acctbal": _money(rng, n, -999.99, 9999.99),
    })
    rng, n = streams["customer"], SIZES["customer"]
    t["customer"] = pa.table({
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": _money(rng, n, -999.99, 9999.99),
        "c_mktsegment": _pick(rng, _SEGMENTS, n),
    })
    rng, n = streams["part"], SIZES["part"]
    keys = np.arange(n, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": keys,
        "p_name": [f"{a} {b}" for a, b in zip(_pick(rng, _PART_ADJ, n),
                                               _pick(rng, _PART_NOUN, n))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": _pick(rng, _PART_TYPES, n),
        "p_size": rng.integers(1, 51, n).astype(np.int32),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 2),
    })
    rng, n = streams["orders"], SIZES["orders"]
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, SIZES["customer"], n).astype(np.int64),
        "o_orderstatus": _pick(rng, ("F", "O", "P"), n),
        "o_totalprice": _money(rng, n, 1000.0, 500000.0),
        "o_orderdate": pa.array(_days(rng, n, "1995-01-01", "2001-08-01"),
                                pa.timestamp("us")),
        "o_orderpriority": _pick(rng, _PRIORITIES, n),
    })
    rng, n = streams["lineitem"], SIZES["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, SIZES["orders"], n).astype(np.int64),
        "l_partkey": rng.integers(0, SIZES["part"], n).astype(np.int64),
        "l_suppkey": rng.integers(0, SIZES["supplier"], n).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, n, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": _pick(rng, ("A", "N", "R"), n),
        "l_linestatus": _pick(rng, ("F", "O"), n),
        "l_shipdate": pa.array(_days(rng, n, "1995-01-02", "2001-11-04"),
                               pa.timestamp("us")),
    })
    t["events"] = _events(streams["events"], SIZES["events"])
    t["documents"] = _documents(streams["documents"], SIZES["documents"])
    t["embeddings"] = _embeddings(streams["embeddings"], SIZES["embeddings"])
    return t


def write_tables(seed: int, out_dir: str) -> None:
    """Write every table to ``out_dir/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in build_tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       compression="snappy")
