"""Deterministic sf0.1 fixture generator for the benchmark.

Writes the ten engine tables (``session.TABLES``) as single-row-group
snappy parquet files with the schemas, row counts and value domains of
the sf0.1 fixtures described in FIXTURES.md: a TPC-H-shaped star schema
(600k lineitem rows), 100k events whose ``ts`` is ``timestamp[ns]``,
5k pseudo-English documents (with exact and near duplicates) and 2k
L2-normalised 64-dim embeddings.  The data seed is fixed, so every
checkout generates byte-for-byte the same tables; the benchmark's
``--seed`` never reaches this module.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
SF = 0.1

N_CUSTOMER = int(150_000 * SF)
N_SUPPLIER = int(10_000 * SF)
N_PART = int(200_000 * SF)
N_ORDERS = int(1_500_000 * SF)
N_LINEITEM = int(6_000_000 * SF)
N_EVENTS = int(1_000_000 * SF)
N_DOCUMENTS = int(50_000 * SF)
N_EMBEDDINGS = 2_000
EMBED_DIM = 64

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "green"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "spring"]
PART_TYPES = ["SMALL", "MEDIUM", "PROMO", "LARGE", "ECONOMY", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "purchase", "error", "signup", "view"]
LANGS = ["en", "fr", "zh", "de", "es"]
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
N_EXACT_DUPS = 8
N_NEAR_DUPS = 250


def _days(start: str, end: str, n: int, rng) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return rng.integers(lo, hi + 1, n).astype("datetime64[D]")


def _money(lo: float, hi: float, n: int, rng) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(values: list[str], n: int, rng, p=None) -> pa.Array:
    idx = rng.choice(len(values), n, p=p)
    return pa.array(np.asarray(values, dtype=object)[idx], pa.string())


def _ms(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype("datetime64[ms]"), pa.timestamp("ms"))


def tables() -> dict[str, pa.Table]:
    rng = np.random.default_rng(DATA_SEED)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS),
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(N_CUSTOMER), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(N_CUSTOMER)]),
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), pa.int32()),
        "c_acctbal": _money(-999.99, 9999.99, N_CUSTOMER, rng),
        "c_mktsegment": _pick(SEGMENTS, N_CUSTOMER, rng),
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(N_SUPPLIER), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(N_SUPPLIER)]),
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), pa.int32()),
        "s_acctbal": _money(-999.99, 9999.99, N_SUPPLIER, rng),
    })
    names = [f"{a} {n}" for a in PART_ADJ for n in PART_NOUN]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(N_PART), pa.int64()),
        "p_name": _pick(names, N_PART, rng),
        "p_brand": pa.array(
            [f"Brand#{b}" for b in rng.integers(1, 26, N_PART)]
        ),
        "p_type": _pick(PART_TYPES, N_PART, rng),
        "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(N_PART) % 1000) * 0.1, 1),
    })
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(N_ORDERS), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS), pa.int64()),
        "o_orderstatus": _pick(["F", "O", "P"], N_ORDERS, rng),
        "o_totalprice": _money(1000.0, 500000.0, N_ORDERS, rng),
        "o_orderdate": _ms(_days("1995-01-01", "2001-08-01", N_ORDERS, rng)),
        "o_orderpriority": _pick(PRIORITIES, N_ORDERS, rng),
    })
    n = N_LINEITEM
    qty = rng.integers(1, 51, n).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, N_ORDERS, n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, N_PART, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(
            np.maximum(qty * rng.uniform(18.0, 2100.0, n), 900.0), 2
        ),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": _pick(["A", "N", "R"], n, rng),
        "l_linestatus": _pick(["F", "O"], n, rng),
        "l_shipdate": _ms(_days("1995-01-02", "2001-11-04", n, rng)),
    })
    n = N_EVENTS
    t0 = np.datetime64("2024-01-01T00:00:00", "ns").astype(np.int64)
    span = 30 * 86_400 * 10**9
    ts = np.sort(rng.integers(t0, t0 + span, n))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("ns")),
        "user_id": pa.array(rng.integers(0, 1500, n), pa.int64()),
        "event_type": _pick(EVENT_TYPES, n, rng),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })
    out["documents"] = _documents(rng)
    labels = rng.integers(0, 10, N_EMBEDDINGS)
    centers = rng.normal(size=(10, EMBED_DIM))
    vecs = 0.6 * centers[labels] + rng.normal(size=(N_EMBEDDINGS, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(N_EMBEDDINGS), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return out


def _documents(rng) -> pa.Table:
    n = N_DOCUMENTS
    lengths = np.clip(rng.normal(54, 28, n).round().astype(int), 8, 110)
    texts = [
        " ".join(np.asarray(VOCAB)[rng.integers(0, len(VOCAB), k)]) for k in lengths
    ]
    # Near duplicates (an earlier doc plus one token), then exact copies.
    near = rng.choice(np.arange(n // 2, n), N_NEAR_DUPS, replace=False)
    for i in near:
        texts[i] = texts[int(rng.integers(0, n // 2))] + " dup"
    exact = rng.choice(np.arange(n // 2, n), N_EXACT_DUPS, replace=False)
    for i in exact:
        texts[i] = texts[int(rng.integers(0, n // 2))]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": _pick(LANGS, n, rng, p=LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def write(out_dir: str) -> None:
    tmp = out_dir + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    for name, tbl in tables().items():
        pq.write_table(
            tbl, os.path.join(tmp, f"{name}.parquet"),
            compression="snappy", row_group_size=len(tbl) or 1,
        )
    os.replace(tmp, out_dir)
