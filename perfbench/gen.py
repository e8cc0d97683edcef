"""Seeded input generation for the benchmark.

Writes the ten catalog tables (TPC-H-like star schema, an ``events``
stream and the ``documents``/``embeddings`` curation corpus) as one
parquet file each. The same seed gives byte-identical inputs; the
program under test only ever sees these files.

The column distributions follow the engine's reference test tables:
uniform keys, so ``lineitem`` carries duplicate ``(l_orderkey,
l_linenumber)`` pairs that the STG layer removes; documents drawn from a
31-word vocabulary with 5% near-duplicates (an earlier text plus " dup")
and 2% exact copies; unit-norm random 64-d embeddings.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Rows per table at the benchmark's scale (the reference tables' sf0.01).
SIZES = {
    "region": 5,
    "nation": 25,
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "documents": 500,
    "embeddings": 500,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return rng.integers(lo, hi + 1, n).astype("datetime64[D]").astype("datetime64[us]")


def _money(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def tables(seed: int) -> dict[str, pa.Table]:
    """Every input table for ``seed`` as an Arrow table."""
    rng = np.random.default_rng(seed)
    n = SIZES
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    nc = n["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": np.arange(nc, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
            "c_acctbal": _money(rng.uniform(-999.99, 9999.99, nc)),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)],
        }
    )
    ns = n["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(ns, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
            "s_acctbal": _money(rng.uniform(-999.99, 9999.99, ns)),
        }
    )
    npart = n["part"]
    names = [f"{a} {b}" for a in P_ADJ for b in P_NOUN]
    out["part"] = pa.table(
        {
            "p_partkey": np.arange(npart, dtype=np.int64),
            "p_name": np.array(names)[rng.integers(0, len(names), npart)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
            "p_type": np.array(P_TYPES)[rng.integers(0, len(P_TYPES), npart)],
            "p_size": rng.integers(1, 51, npart).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 2),
        }
    )
    no = n["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(no, dtype=np.int64),
            "o_custkey": rng.integers(0, nc, no).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
            "o_totalprice": _money(rng.uniform(1000.0, 500000.0, no)),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", no),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)],
        }
    )
    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype(np.float64)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
            "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
            "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": _money(qty * rng.uniform(900.0, 2100.0, nl)),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", nl),
        }
    )
    ne = n["events"]
    month_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, month_us, ne))
    out["events"] = pa.table(
        {
            "event_id": np.arange(ne, dtype=np.int64),
            "ts": np.datetime64("2024-01-01T00:00:00", "us") + ts.astype("timedelta64[us]"),
            "user_id": rng.integers(0, nc // 10, ne).astype(np.int64),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, ne)],
            "value": _money(rng.exponential(50.0, ne)),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    out["documents"] = _documents(rng, n["documents"])
    nv = n["embeddings"]
    emb = rng.standard_normal((nv, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": np.arange(nv, dtype=np.int64),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": rng.integers(0, 10, nv).astype(np.int32),
        }
    )
    return out


def _documents(rng: np.random.Generator, nd: int) -> pa.Table:
    # fixed counts of near-duplicates (5%) and exact copies (2%) at seeded
    # positions, so every seed gives the dedup stages the same amount of work
    copies = rng.choice(np.arange(10, nd), size=nd * 7 // 100, replace=False)
    near = set(copies[: nd * 5 // 100].tolist())
    exact = set(copies[nd * 5 // 100 :].tolist())
    texts: list[str] = []
    for i in range(nd):
        if i in near:
            texts.append(texts[rng.integers(0, i)] + " dup")
        elif i in exact:
            texts.append(texts[rng.integers(0, i)])
        else:
            words = np.array(VOCAB)[rng.integers(0, len(VOCAB), rng.integers(10, 100))]
            texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": np.arange(nd, dtype=np.int64),
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(len(LANGS), nd, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(nd)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def write(seed: int, out_dir: str) -> int:
    """Write every table for ``seed`` under ``out_dir``; returns bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, tab in tables(seed).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tab, path)
        total += os.path.getsize(path)
    return total
