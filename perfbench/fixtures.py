"""The benchmark's own fixture tables, generated once per checkout.

The registered queries read ten parquet tables (a TPC-H-like star
schema plus events, documents and embeddings). The benchmark writes
its own copy from a fixed seed instead of reading a directory outside
the checkout, and it keeps the generator here rather than importing a
repository script: a change to a shared generator would silently
change the benchmark's inputs between a parent and a child commit.

Row counts match the sf0.01 fixture the test suite runs against
(lineitem ~60k rows, 500 documents, 500 embeddings). Every oracle is
SQL over these same files, so DuckDB checks the results exactly.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE_SEED = 42
VERSION = "v1"

VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window",
]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
SEGMENTS = ["AUTOMOBILE", "FURNITURE", "MACHINERY", "BUILDING", "HOUSEHOLD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
ETYPES = ["click", "view", "purchase", "signup", "error"]
ADJ = ["large", "hot", "blue", "small", "red", "green", "dim", "pale"]
NOUN = ["ring", "bolt", "gear", "wheel", "pin", "cap", "rod", "clip"]
PTYPES = ["LARGE", "ECONOMY", "SMALL", "MEDIUM", "STANDARD", "PROMO"]

N_CUSTOMER = 1_500
N_SUPPLIER = 100
N_PART = 2_000
N_ORDERS = 15_000
N_EVENTS = 10_000
N_USERS = 150
N_DOCS = 500
N_VECS = 500
DIM = 64

DAY_US = 86_400_000_000
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def _rng(table: str) -> np.random.Generator:
    return np.random.default_rng([FIXTURE_SEED, TABLES.index(table)])


def _tables() -> dict[str, pa.Table]:
    ts = pa.timestamp("us")
    epoch_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
    epoch_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
    }

    rng = _rng("customer")
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(N_CUSTOMER), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-1000, 10_000, N_CUSTOMER), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, N_CUSTOMER)],
    })

    rng = _rng("supplier")
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(N_SUPPLIER), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-1000, 10_000, N_SUPPLIER), 2),
    })

    rng = _rng("part")
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(N_PART), pa.int64()),
        "p_name": [
            f"{ADJ[a]} {NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, N_PART), rng.integers(0, 8, N_PART))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 21, N_PART)],
        "p_type": [PTYPES[i] for i in rng.integers(0, len(PTYPES), N_PART)],
        "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(N_PART) % 1000) / 10.0, 2),
    })

    rng = _rng("orders")
    span_days = int((np.datetime64("2001-08-01") - np.datetime64("1995-01-01")).astype(int))
    odate_us = epoch_1995 + rng.integers(0, span_days + 1, N_ORDERS) * DAY_US
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(N_ORDERS), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS), pa.int64()),
        "o_orderstatus": [("O", "P", "F")[i] for i in rng.integers(0, 3, N_ORDERS)],
        "o_totalprice": np.round(rng.uniform(1000, 500_000, N_ORDERS), 2),
        "o_orderdate": pa.array(odate_us, ts),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, N_ORDERS)],
    })

    # ~4 lines per order; ship lag mostly within 3 months plus a 5%
    # two-sided tail, so the late-shipment audits return rows.
    rng = _rng("lineitem")
    per_order = rng.integers(1, 8, N_ORDERS)
    total = int(per_order.sum())
    lag = rng.integers(1, 96, total)
    lag = np.where(rng.random(total) < 0.05, rng.integers(-2400, 2481, total), lag)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(np.repeat(np.arange(N_ORDERS), per_order), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, N_PART, total), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, total), pa.int64()),
        "l_linenumber": pa.array(
            np.concatenate([np.arange(1, k + 1) for k in per_order]), pa.int32()
        ),
        "l_quantity": rng.integers(1, 51, total).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105_000, total), 2),
        "l_discount": np.round(rng.integers(0, 11, total) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, total) / 100.0, 2),
        "l_returnflag": [("N", "A", "R")[i] for i in rng.integers(0, 3, total)],
        "l_linestatus": [("O", "F")[i] for i in rng.integers(0, 2, total)],
        "l_shipdate": pa.array(np.repeat(odate_us, per_order) + lag * DAY_US, ts),
    })

    rng = _rng("events")
    gaps = rng.exponential(26.0, N_EVENTS)
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(N_EVENTS), pa.int64()),
        "ts": pa.array(epoch_2024 + np.cumsum(gaps * 1e6).astype(np.int64), ts),
        "user_id": pa.array(rng.integers(0, N_USERS, N_EVENTS), pa.int64()),
        "event_type": [ETYPES[i] for i in rng.integers(0, 5, N_EVENTS)],
        "value": np.round(np.minimum(rng.exponential(60.0, N_EVENTS), 560.0), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, N_EVENTS)],
    })

    # Word salad with ~2% planted near-duplicates, so the dedup
    # operators have real candidate and verify work.
    rng = _rng("documents")
    texts: list[str] = []
    for i in range(N_DOCS):
        if i > 10 and rng.random() < 0.02:
            words = texts[int(rng.integers(0, i))].split(" ")
            for _ in range(max(1, len(words) // 20)):
                words[int(rng.integers(0, len(words)))] = VOCAB[
                    int(rng.integers(0, len(VOCAB)))
                ]
            texts.append(" ".join(words))
        else:
            n_words = int(rng.integers(8, 105))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), n_words)))
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, N_DOCS, p=LANG_P)],
        "source": [f"src{i}" for i in rng.integers(0, 20, N_DOCS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    # Isotropic gaussian vectors with ~2% planted near-duplicates.
    rng = _rng("embeddings")
    labels = rng.integers(0, 10, N_VECS)
    vecs = rng.normal(0, 0.12, (N_VECS, DIM))
    n_dup = N_VECS // 50
    src, dst = rng.integers(0, N_VECS, n_dup), rng.integers(0, N_VECS, n_dup)
    vecs[dst] = vecs[src] + rng.normal(0, 0.005, (n_dup, DIM))
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(N_VECS), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return out


def ensure(work_dir: str) -> str:
    """Return the fixture directory under ``work_dir``, writing it
    first if it is missing. The directory is renamed into place only
    once every table is written, so an interrupted run leaves no
    half-written fixture behind."""
    final = os.path.join(work_dir, f"fixtures-{VERSION}")
    if os.path.isdir(final):
        return final
    partial = f"{final}.partial-{os.getpid()}"
    shutil.rmtree(partial, ignore_errors=True)
    os.makedirs(partial)
    for name, table in _tables().items():
        pq.write_table(table, os.path.join(partial, f"{name}.parquet"))
    os.replace(partial, final)
    return final
