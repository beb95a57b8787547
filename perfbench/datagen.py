"""Seeded generator for the benchmark's TPC-H-style tables.

Writes the ten tables the package's registry reads (``tables.TABLES``)
as one parquet file each, with the column names, types and value ranges
of the project's fixture corpus: random keys, ``timestamp[us]`` dates,
a 30-word document vocabulary with 5% near-duplicates (an earlier
document plus `` dup``), and 64-dimensional unit embeddings.

The tables are the benchmark's fixed database: they come from
``DATA_SEED``, not from the workload seed, so every run of every
workload queries the same bytes and the expected results can be
computed once per checkout.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 20240101
SCALES = ("0.001", "0.01", "0.1")

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def sizes(sf: str) -> dict[str, int]:
    f = float(sf) / 0.1
    return {
        "customer": int(15000 * f),
        "supplier": int(1000 * f),
        "part": int(20000 * f),
        "orders": int(150000 * f),
        "lineitem": int(600000 * f),
        "events": int(100000 * f),
        "documents": max(500, int(5000 * f)),
        "embeddings": max(500, int(2000 * f)),
    }


def _days(rng: np.random.Generator, n: int, start: str, span_days: int) -> pa.Array:
    base = np.datetime64(start, "us")
    d = rng.integers(0, span_days, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.array(base + d, type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def generate(sf: str) -> dict[str, pa.Table]:
    n = sizes(sf)
    rng = np.random.default_rng([DATA_SEED, int(float(sf) * 1000)])
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    c = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, c),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, c)],
    })
    s = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(s), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, s),
    })
    p = n["part"]
    adj = np.array(_PART_ADJ)[rng.integers(0, len(_PART_ADJ), p)]
    noun = np.array(_PART_NOUN)[rng.integers(0, len(_PART_NOUN), p)]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(p), pa.int64()),
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, p).astype(str)),
        "p_type": np.array(_PART_TYPES)[rng.integers(0, len(_PART_TYPES), p)],
        "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) * 0.1, 2),
    })
    o = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, c, o), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, o)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, o),
        "o_orderdate": _days(rng, o, "1995-01-01", 2404),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, o)],
    })
    li = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, o, li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, p, li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, s, li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, li),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, li)],
        "l_shipdate": _days(rng, li, "1995-01-02", 2498),
    })
    e = n["events"]
    base = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, e)).astype("timedelta64[us]")
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(e), pa.int64()),
        "ts": pa.array(base + offs, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, c, e), pa.int64()),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, e)],
        "value": np.round(rng.exponential(100.0, e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
    })
    d = n["documents"]
    texts: list[str] = []
    for i in range(d):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = np.array(_VOCAB)[rng.integers(0, len(_VOCAB), int(rng.integers(8, 90)))]
            texts.append(" ".join(words))
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(d), pa.int64()),
        "text": texts,
        "lang": np.array(_LANGS)[rng.integers(0, len(_LANGS), d)],
        "source": np.char.add("src", rng.integers(0, 20, d).astype(str)),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    m = n["embeddings"]
    labels = rng.integers(0, 10, m)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] + rng.normal(0.0, 1.5, (m, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(m), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return out


def ensure(root: str, sf: str) -> str:
    """Write scale ``sf`` under ``root`` once; returns its directory."""
    sf_dir = os.path.join(root, f"sf{sf}")
    marker = os.path.join(sf_dir, "_COMPLETE")
    if os.path.exists(marker):
        return sf_dir
    os.makedirs(sf_dir, exist_ok=True)
    for name, tbl in generate(sf).items():
        pq.write_table(tbl, os.path.join(sf_dir, f"{name}.parquet"))
    open(marker, "w").close()
    return sf_dir
