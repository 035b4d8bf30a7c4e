"""Seeded generator for the engine's input tables.

Writes the ten tables the registry reads (``io.TABLES``) as one parquet
file each, ``<out_dir>/<table>.parquet``, in the same layout, column
names, Arrow types and value domains as the engine's reference test
data: a TPC-H-like star schema (region, nation, customer, supplier,
part, orders, lineitem), an ``events`` stream table, a ``documents``
corpus over a 30-word vocabulary with about 5% near-duplicates, and
64-dimensional unit ``embeddings`` clustered by label. Row counts
scale with ``sf`` as the reference data's do. The same ``(sf, seed)``
always yields byte-identical values and row order.

``events.ts``, ``o_orderdate`` and ``l_shipdate`` are microsecond
timestamps without UTC adjustment, as in the current reference files,
which Spark reads as ``TIMESTAMP_NTZ``. (Earlier generations of those
files stored ``events.ts`` in nanoseconds and the two dates in
milliseconds; ``io.read_table`` accepts either.)
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
EMBED_DIM = 64
N_LABELS = 10

_US_PER_DAY = 86_400_000_000


def table_counts(sf: float) -> dict[str, int]:
    """Row count per table at scale factor ``sf``."""
    return {
        "region": 5, "nation": 25,
        "customer": max(1, round(150_000 * sf)),
        "supplier": max(1, round(10_000 * sf)),
        "part": max(1, round(200_000 * sf)),
        "orders": max(1, round(1_500_000 * sf)),
        "lineitem": max(1, round(6_000_000 * sf)),
        "events": max(1, round(1_000_000 * sf)),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _days(rng: np.random.Generator, first: str, last: str, n: int) -> np.ndarray:
    lo = np.datetime64(first, "D")
    span = int((np.datetime64(last, "D") - lo).astype(int))
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _pick(rng: np.random.Generator, values: list[str], n: int,
          p: list[float] | None = None) -> np.ndarray:
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    words = np.asarray(WORDS, dtype=object)
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            # near-duplicate of an earlier document, as in the reference
            # corpus: the same text with one or two "dup" tokens appended
            base = texts[int(rng.integers(0, i))]
            texts.append(base + " dup" * int(rng.integers(1, 3)))
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(words[rng.integers(0, len(WORDS), k)]))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(_pick(rng, LANGS, n, LANG_P), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    centers = rng.normal(size=(N_LABELS, EMBED_DIM))
    labels = rng.integers(0, N_LABELS, n)
    vecs = centers[labels] + 1.5 * rng.normal(size=(n, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
    offsets = pa.array(np.arange(0, (n + 1) * EMBED_DIM, EMBED_DIM, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(labels.astype(np.int32)),
    })


def build_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """All ten tables at scale ``sf``, drawn from ``seed``."""
    rng = np.random.default_rng(seed)
    c = table_counts(sf)
    i64 = lambda n: pa.array(np.arange(n, dtype=np.int64))  # noqa: E731
    nc, ns, npart, no, nl, ne = (c["customer"], c["supplier"], c["part"],
                                 c["orders"], c["lineitem"], c["events"])
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS, pa.string()),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    t["customer"] = pa.table({
        "c_custkey": i64(nc),
        "c_name": pa.array(_names("Customer", nc), pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc)),
        "c_mktsegment": pa.array(_pick(rng, SEGMENTS, nc), pa.string()),
    })
    t["supplier"] = pa.table({
        "s_suppkey": i64(ns),
        "s_name": pa.array(_names("Supplier", ns), pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns)),
    })
    adj = _pick(rng, PART_ADJ, npart)
    noun = _pick(rng, PART_NOUN, npart)
    t["part"] = pa.table({
        "p_partkey": i64(npart),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(adj, noun)], pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, npart)],
                            pa.string()),
        "p_type": pa.array(_pick(rng, PART_TYPES, npart), pa.string()),
        "p_size": pa.array(rng.integers(1, 51, npart).astype(np.int32)),
        "p_retailprice": pa.array(900.0 + (np.arange(npart) % 1000) / 10.0),
    })
    t["orders"] = pa.table({
        "o_orderkey": i64(no),
        "o_custkey": pa.array(rng.integers(0, nc, no)),
        "o_orderstatus": pa.array(_pick(rng, ["F", "O", "P"], no), pa.string()),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, no)),
        "o_orderdate": pa.array(_days(rng, "1995-01-01", "2001-08-01", no)),
        "o_orderpriority": pa.array(_pick(rng, PRIORITIES, no), pa.string()),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl)),
        "l_partkey": pa.array(rng.integers(0, npart, nl)),
        "l_suppkey": pa.array(rng.integers(0, ns, nl)),
        "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, nl)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": pa.array(_pick(rng, ["A", "N", "R"], nl), pa.string()),
        "l_linestatus": pa.array(_pick(rng, ["F", "O"], nl), pa.string()),
        "l_shipdate": pa.array(_days(rng, "1995-01-02", "2001-11-04", nl)),
    })
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(rng.integers(0, 30 * _US_PER_DAY, ne)) + start
    t["events"] = pa.table({
        "event_id": i64(ne),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": pa.array(rng.integers(0, max(1, round(15_000 * sf)), ne)),
        "event_type": pa.array(_pick(rng, EVENT_TYPES, ne), pa.string()),
        "value": pa.array(np.maximum(0.01, np.round(rng.exponential(50.0, ne), 2))),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
                          pa.string()),
    })
    t["documents"] = _documents(rng, c["documents"])
    t["embeddings"] = _embeddings(rng, c["embeddings"])
    return t


def shuffle_rows(table: pa.Table, rng: np.random.Generator) -> pa.Table:
    return table.take(pa.array(rng.permutation(table.num_rows)))


def generate(out_dir: str, sf: float, seed: int,
             shuffle: tuple[str, ...] = ()) -> dict[str, int]:
    """Write every table under ``out_dir``; tables named in ``shuffle``
    are also written in a seed-drawn row order. Returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    tables = build_tables(sf, seed)
    rng = np.random.default_rng([seed, 1])
    counts = {}
    for name, table in tables.items():
        if name in shuffle:
            table = shuffle_rows(table, rng)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
