"""Seeded generator for the benchmark's input tables.

Writes one Parquet file per table (``<out_dir>/<name>.parquet``) with the
schemas in FIXTURES.md: a TPC-H-like star schema plus the ``events``,
``documents`` and ``embeddings`` tables. The same ``(sf, seed)`` always
yields byte-identical data. Unlike the fixed test fixtures,
``(l_orderkey, l_linenumber)`` is unique here, so ``l_orderkey * 8 +
l_linenumber`` is a unique row key for the lakehouse workloads.
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
ADJECTIVES = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
NOUNS = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()

#: Line items per order are 1..MAX_LINES, so ``l_orderkey * KEY_STRIDE +
#: l_linenumber`` never collides.
MAX_LINES = 7
KEY_STRIDE = 8

_DAY0 = np.datetime64("1995-01-01", "D")
_ORDER_DAYS = int((np.datetime64("2001-08-01", "D") - _DAY0).astype(int)) + 1
_EVENT_T0 = np.datetime64("2024-01-01T00:00:00", "us")
_EVENT_SPAN_US = 30 * 86400 * 10**6


def row_counts(sf: float) -> dict[str, int]:
    """Rows per table at scale factor ``sf`` (lineitem ~ 4 x orders)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(150, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(200, int(200_000 * sf)),
        "orders": max(1_500, int(1_500_000 * sf)),
        "events": max(1_000, int(1_000_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _ts(days: np.ndarray) -> pa.Array:
    return pa.array((_DAY0 + days).astype("datetime64[us]"), pa.timestamp("us"))


def _write(out_dir: str, name: str, table: pa.Table) -> None:
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), compression="snappy")


def generate(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write every table for ``(sf, seed)`` into ``out_dir``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, int(sf * 1_000_000)])
    n = row_counts(sf)
    counts: dict[str, int] = {}

    def emit(name: str, cols: dict) -> None:
        table = pa.table(cols)
        _write(out_dir, name, table)
        counts[name] = table.num_rows

    emit("region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": REGIONS,
    })
    emit("nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })

    nc = n["customer"]
    emit("customer", {
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc, dtype=np.int32)),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)],
    })

    ns = n["supplier"]
    emit("supplier", {
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns, dtype=np.int32)),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2),
    })

    npart = n["part"]
    price = np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 2)
    names = np.array([f"{a} {b}" for a in ADJECTIVES for b in NOUNS])
    emit("part", {
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": names[rng.integers(0, len(names), npart)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart, dtype=np.int32)),
        "p_retailprice": price,
    })

    no = n["orders"]
    odays = rng.integers(0, _ORDER_DAYS, no)
    emit("orders", {
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no, dtype=np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, no), 2),
        "o_orderdate": _ts(odays),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)],
    })

    lines = rng.integers(1, MAX_LINES + 1, no)
    nl = int(lines.sum())
    okey = np.repeat(np.arange(no, dtype=np.int64), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    lineno = (np.arange(nl) - starts + 1).astype(np.int32)
    pkey = rng.integers(0, npart, nl, dtype=np.int64)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    order = rng.permutation(nl)  # fixture row order is not key order
    emit("lineitem", {
        "l_orderkey": okey[order],
        "l_partkey": pkey[order],
        "l_suppkey": rng.integers(0, ns, nl, dtype=np.int64)[order],
        "l_linenumber": pa.array(lineno[order]),
        "l_quantity": qty[order],
        "l_extendedprice": np.round(qty * price[pkey], 2)[order],
        "l_discount": (rng.integers(0, 11, nl) / 100.0)[order],
        "l_tax": (rng.integers(0, 9, nl) / 100.0)[order],
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)][order],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)][order],
        "l_shipdate": _ts((np.repeat(odays, lines) + rng.integers(1, 122, nl))[order]),
    })

    ne = n["events"]
    ts = _EVENT_T0 + np.sort(rng.integers(0, _EVENT_SPAN_US, ne)).astype("timedelta64[us]")
    emit("events", {
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, max(150, nc // 10), ne, dtype=np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, ne)],
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, ne), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })

    nd = n["documents"]
    texts: list[str] = []
    for i in range(nd):
        if i > 0 and rng.random() < 0.05:
            # near-duplicate of an earlier document: one word swapped
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = "dup"
        else:
            words = [WORDS[j] for j in rng.integers(0, len(WORDS), int(rng.integers(10, 100)))]
        texts.append(" ".join(words))
    emit("documents", {
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, nd, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })

    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv)
    centroids = rng.normal(size=(10, 64))
    vecs = centroids[labels] + rng.normal(scale=1.5, size=(nv, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emit("embeddings", {
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })
    return counts


def row_key(orderkey, linenumber):
    """The unique row key the lakehouse workloads add to lineitem."""
    return orderkey * KEY_STRIDE + linenumber

