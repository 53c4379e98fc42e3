"""Seeded generator for the benchmark's input lake.

Writes the ten tables the query registry reads (``region nation customer
supplier part orders lineitem events documents embeddings``), one parquet
file each, with the column names and types of the project's sf* test
lake.  Row counts follow the TPC-H scale factor ``sf``; the same
(seed, sf) always writes byte-identical files.

Two properties the lake workloads rely on, which the test lake does not
guarantee:

- ``(l_orderkey, l_linenumber)`` is unique, so MOR upserts and deletes
  keyed on it have one well-defined outcome;
- ``events.event_id`` is dense and ordered by ``ts``, so an ``event_id``
  range is a time-ordered micro-batch.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "plate", "ring", "rod", "widget")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.41, 0.14, 0.15, 0.15, 0.15)
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
# Several row groups per file: a key-range micro-batch read skips the
# others by their footer min/max, as it would in any real lake file.
ROW_GROUP_ROWS = 16_384
EMBED_DIM = 64
EMBED_CLUSTERS = 10

_US_PER_DAY = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def row_counts(sf: float) -> dict[str, int]:
    def n(base: int, floor: int = 1) -> int:
        return max(floor, int(round(base * sf)))

    return {
        "region": 5,
        "nation": 25,
        "customer": n(150_000, 50),
        "supplier": n(10_000, 5),
        "part": n(200_000, 50),
        "orders": n(1_500_000, 200),
        "events": n(1_000_000, 500),
        "documents": n(50_000, 200),
        "embeddings": n(20_000, 200),
    }


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), type=pa.int64()).cast(pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _text(rng: np.random.Generator, n: int) -> list[str]:
    lengths = rng.integers(8, 100, n)
    words = rng.integers(0, len(VOCAB), int(lengths.sum()))
    out, pos = [], 0
    for k in lengths:
        out.append(" ".join(VOCAB[w] for w in words[pos:pos + k]))
        pos += k
    return out


TABLE_ORDER = ("region", "nation", "customer", "supplier", "part", "orders",
               "lineitem", "events", "documents", "embeddings")


def generate(out_dir: str, seed: int, sf: float, only=None) -> dict[str, int]:
    """Write the tables named in ``only`` (default: all) under ``out_dir``;
    returns their row counts.  Each table draws from its own stream of the
    seed, so a subset is identical to the same tables of a full lake."""
    counts = row_counts(sf)
    wanted = [t for t in TABLE_ORDER if only is None or t in only]
    os.makedirs(out_dir, exist_ok=True)
    out = {}
    for name in wanted:
        rng = np.random.default_rng([seed, TABLE_ORDER.index(name)])
        table = _BUILDERS[name](rng, counts, seed)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=ROW_GROUP_ROWS)
        out[name] = table.num_rows
    return out


def _region(rng, counts, seed):
    return pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(REGIONS),
    })


def _nation(rng, counts, seed):
    return pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })


def _customer(rng, counts, seed):
    n = counts["customer"]
    return pa.table({
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n)],
    })


def _supplier(rng, counts, seed):
    n = counts["supplier"]
    return pa.table({
        "s_suppkey": np.arange(n, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n),
    })


def _part(rng, counts, seed):
    n = counts["part"]
    keys = np.arange(n, dtype=np.int64)
    return pa.table({
        "p_partkey": keys,
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n), rng.integers(0, 7, n))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n)],
        "p_size": rng.integers(1, 51, n).astype(np.int32),
        "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 1),
    })


def _order_shape(seed, counts):
    """Order dates and line counts, shared by orders and lineitem."""
    rng = np.random.default_rng([seed, TABLE_ORDER.index("orders"), 1])
    n = counts["orders"]
    return rng.integers(0, 2404, n), rng.integers(1, 8, n)  # 1995-01-01 .. 2001-08-01


def _orders(rng, counts, seed):
    n = counts["orders"]
    days, _ = _order_shape(seed, counts)
    return pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, counts["customer"], n),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n),
        "o_orderdate": _ts(_EPOCH_1995 + days * _US_PER_DAY),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n)],
    })


def _lineitem(rng, counts, seed):
    # 1-7 lines per order, numbered 1..k: (l_orderkey, l_linenumber) unique
    days, lines = _order_shape(seed, counts)
    n = int(lines.sum())
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    ship = np.repeat(days, lines) + rng.integers(1, 122, n)
    return pa.table({
        "l_orderkey": np.repeat(np.arange(len(lines), dtype=np.int64), lines),
        "l_partkey": rng.integers(0, counts["part"], n),
        "l_suppkey": rng.integers(0, counts["supplier"], n),
        "l_linenumber": (np.arange(n) - starts + 1).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n),
        "l_discount": np.round(rng.integers(0, 11, n) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n) * 0.01, 2),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n)],
        "l_shipdate": _ts(_EPOCH_1995 + ship * _US_PER_DAY),
    })


def _events(rng, counts, seed):
    n = counts["events"]
    ts = np.sort(rng.integers(0, 30 * _US_PER_DAY, n))
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": _ts(_EPOCH_2024 + ts),
        "user_id": rng.integers(0, max(10, n // 66), n),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def _documents(rng, counts, seed):
    n = counts["documents"]
    text = _text(rng, n)
    # a few exact re-posts: the exact-dup queries always find groups
    for dst, src in zip(rng.choice(np.arange(1, n), n // 600 + 1, replace=False),
                        rng.integers(0, n, n // 600 + 1)):
        if src != dst:
            text[dst] = text[src]
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": text,
        "lang": [LANGS[i] for i in rng.choice(5, n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in text], dtype=np.int64),
    })


def _embeddings(rng, counts, seed):
    n = counts["embeddings"]
    centers = rng.normal(size=(EMBED_CLUSTERS, EMBED_DIM))
    label = rng.integers(0, EMBED_CLUSTERS, n)
    vec = centers[label] + rng.normal(scale=1.5, size=(n, EMBED_DIM))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": label.astype(np.int32),
    })


_BUILDERS = {name: globals()[f"_{name}"] for name in TABLE_ORDER}
