"""Deterministic input tables for the queries of the `spark` workload.

The entry queries read ten parquet tables from one directory (the same
schemas as the sf test tables: a TPC-H-ish star schema, an `events`
stream, a `documents` text corpus and an `embeddings` table).  The
benchmark cannot read test data outside its checkout, so it writes its own
copy here, sized like sf0.01.  The tables depend on DATA_SEED alone, never
on the workload seed: the expected query digests in `digests.json` were
recorded from exactly these tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
N_DOCS = 500
N_EMBEDDINGS = 500
N_EVENTS = 10_000
N_CUSTOMERS = 1_500
N_ORDERS = 15_000
N_LINEITEMS = 60_000
N_PARTS = 2_000
N_SUPPLIERS = 100

WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
LANGS = np.array(["en", "zh", "es", "de", "fr"])
LANG_P = np.array([0.44, 0.14, 0.14, 0.14, 0.14])
EVENT_TYPES = np.array(["signup", "error", "click", "view", "purchase"])
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _ts(base: str, offsets_us: np.ndarray) -> pa.Array:
    t = np.datetime64(base, "us") + offsets_us.astype("timedelta64[us]")
    return pa.array(t, type=pa.timestamp("us"))


def _days(rng: np.random.Generator, n: int) -> pa.Array:
    return _ts("1995-01-01", rng.integers(0, 2400, n) * 86_400_000_000)


def _documents(rng: np.random.Generator) -> pa.Table:
    texts: list[str] = []
    for i in range(N_DOCS):
        if i > 20 and rng.random() < 0.05:
            # near-duplicate of an earlier document, so the dedup and
            # similarity operators find pairs
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n = int(rng.integers(10, 100))
            texts.append(" ".join(rng.choice(WORDS, n)))
    ids = np.arange(N_DOCS, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": rng.choice(LANGS, N_DOCS, p=LANG_P),
        "source": [f"src{i % 10}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng: np.random.Generator) -> pa.Table:
    centers = rng.normal(size=(10, 64))
    label = rng.integers(0, 10, N_EMBEDDINGS).astype(np.int32)
    vec = centers[label] + rng.normal(scale=2.0, size=(N_EMBEDDINGS, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(N_EMBEDDINGS, dtype=np.int64),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": label,
    })


def _events(rng: np.random.Generator) -> pa.Table:
    offs = np.sort(rng.integers(0, 30 * 86_400_000_000, N_EVENTS))
    return pa.table({
        "event_id": np.arange(N_EVENTS, dtype=np.int64),
        "ts": _ts("2024-01-01", offs),
        "user_id": rng.integers(0, 150, N_EVENTS).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, N_EVENTS),
        "value": np.round(rng.uniform(0.01, 490.0, N_EVENTS), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
    })


def _tpch(rng: np.random.Generator) -> dict[str, pa.Table]:
    cust = pa.table({
        "c_custkey": np.arange(N_CUSTOMERS, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMERS)],
        "c_nationkey": rng.integers(0, 25, N_CUSTOMERS).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999, 9999, N_CUSTOMERS), 2),
        "c_mktsegment": rng.choice(SEGMENTS, N_CUSTOMERS),
    })
    orders = pa.table({
        "o_orderkey": np.arange(N_ORDERS, dtype=np.int64),
        "o_custkey": rng.integers(0, N_CUSTOMERS, N_ORDERS).astype(np.int64),
        "o_orderstatus": rng.choice(np.array(["F", "O", "P"]), N_ORDERS),
        "o_totalprice": np.round(rng.uniform(900, 500_000, N_ORDERS), 2),
        "o_orderdate": _days(rng, N_ORDERS),
        "o_orderpriority": rng.choice(PRIORITIES, N_ORDERS),
    })
    qty = rng.integers(1, 51, N_LINEITEMS).astype(np.float64)
    lineitem = pa.table({
        "l_orderkey": rng.integers(0, N_ORDERS, N_LINEITEMS).astype(np.int64),
        "l_partkey": rng.integers(0, N_PARTS, N_LINEITEMS).astype(np.int64),
        "l_suppkey": rng.integers(0, N_SUPPLIERS, N_LINEITEMS).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, N_LINEITEMS).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, N_LINEITEMS), 2),
        "l_discount": rng.integers(0, 11, N_LINEITEMS) / 100.0,
        "l_tax": rng.integers(0, 9, N_LINEITEMS) / 100.0,
        "l_returnflag": rng.choice(np.array(["A", "N", "R"]), N_LINEITEMS),
        "l_linestatus": rng.choice(np.array(["F", "O"]), N_LINEITEMS),
        "l_shipdate": _days(rng, N_LINEITEMS),
    })
    part = pa.table({
        "p_partkey": np.arange(N_PARTS, dtype=np.int64),
        "p_name": [f"part {i}" for i in range(N_PARTS)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, N_PARTS)],
        "p_type": rng.choice(np.array(["ECONOMY", "STANDARD", "PROMO"]), N_PARTS),
        "p_size": rng.integers(1, 51, N_PARTS).astype(np.int32),
        "p_retailprice": np.round(900 + np.arange(N_PARTS) * 0.1, 2),
    })
    supplier = pa.table({
        "s_suppkey": np.arange(N_SUPPLIERS, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIERS)],
        "s_nationkey": rng.integers(0, 25, N_SUPPLIERS).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999, 9999, N_SUPPLIERS), 2),
    })
    nation = pa.table({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    region = pa.table({"r_regionkey": np.arange(5, dtype=np.int32),
                       "r_name": REGIONS})
    return {"customer": cust, "orders": orders, "lineitem": lineitem,
            "part": part, "supplier": supplier, "nation": nation,
            "region": region}


def write_tables(out_dir: str) -> None:
    """Write the ten query tables as `<out_dir>/<name>.parquet`."""
    rng = np.random.default_rng(DATA_SEED)
    tables = {"embeddings": _embeddings(rng), "events": _events(rng),
              **_tpch(rng), "documents": _documents(rng)}
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
