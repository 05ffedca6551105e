"""Seeded generator for the benchmark's input tables.

Writes the ten tables the library reads (the TPC-H-like star schema, the
``events`` stream table and the ``documents`` / ``embeddings`` corpus) as
one parquet file each, with the schemas and value domains of the fixture
set the gate queries are written against (``FIXTURES.md`` section 2).
Row counts follow the scale factor: ``lineitem`` has 6,000,000 x sf rows,
``orders`` 1,500,000 x sf, and so on. The same (seed, sf) always gives the
same bytes, so a run's inputs are a pure function of its ``--seed``.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

WORDS = (
    "the a fast slow big small key order sort table scan merge part window "
    "hash join batch stream spark dup group query row data filter customer "
    "line value column vector agg"
).split()
LANGS = ("en", "fr", "es", "zh", "de")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PTYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PADJ = ("blue", "cold", "hot", "large", "old", "small", "red", "new")
PNOUN = ("bolt", "gear", "plate", "ring", "rod", "widget", "nut", "pipe")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

ORDER_DAY0 = dt.date(1995, 1, 1)
ORDER_DAYS = (dt.date(2001, 8, 1) - ORDER_DAY0).days
EVENT_US0 = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC
EVENT_SPAN_US = 30 * 86_400 * 1_000_000


def _ts_days(days: np.ndarray) -> pa.Array:
    """Day offsets from 1995-01-01 as tz-naive microsecond timestamps."""
    base = np.datetime64(ORDER_DAY0, "us")
    return pa.array(base + days.astype("timedelta64[D]").astype("timedelta64[us]"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _text(rng: np.random.Generator, n: int) -> list[str]:
    """Bag-of-words documents; one in eight is a near copy of an earlier one
    (a few words swapped), so the dedup and overlap operators find pairs."""
    lens = rng.integers(8, 90, n)
    docs: list[str] = []
    for i in range(n):
        if i >= 8 and rng.random() < 0.125:
            words = docs[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), 2):
                words[j] = WORDS[int(rng.integers(0, len(WORDS)))]
        else:
            words = [WORDS[k] for k in rng.integers(0, len(WORDS), lens[i])]
        docs.append(" ".join(words))
    return docs


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, int(round(sf * 1_000_000))])
    n_li = int(6_000_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_cust = max(int(150_000 * sf), 50)
    n_part = max(int(200_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 10)
    n_ev = max(int(1_000_000 * sf), 1000)
    n_users = max(int(15_000 * sf), 15)
    n_docs = max(int(50_000 * sf), 500)
    n_emb = max(int(20_000 * sf), 500)
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": list(REGIONS),
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": _money(rng, -1000, 10000, n_cust),
        "c_mktsegment": [SEGMENTS[k] for k in rng.integers(0, 5, n_cust)],
    })
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": _money(rng, -1000, 10000, n_supp),
    })
    adj = rng.integers(0, len(PADJ), n_part)
    noun = rng.integers(0, len(PNOUN), n_part)
    out["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{PADJ[a]} {PNOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
        "p_type": [PTYPES[k] for k in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": [("F", "O", "P")[k] for k in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _ts_days(rng.integers(0, ORDER_DAYS + 1, n_ord)),
        "o_orderpriority": [PRIORITIES[k] for k in rng.integers(0, 5, n_ord)],
    })
    okey = rng.integers(0, n_ord, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [("A", "N", "R")[k] for k in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[k] for k in rng.integers(0, 2, n_li)],
        "l_shipdate": _ts_days(rng.integers(1, ORDER_DAYS + 96, n_li)),
    })
    ts = np.sort(rng.integers(0, EVENT_SPAN_US, n_ev)) + EVENT_US0
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": [EVENT_TYPES[k] for k in rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = _text(rng, n_docs)
    out["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[k] for k in rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] + rng.normal(0, 0.8, (n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })
    return out


def write_tables(seed: int, sf: float, out_dir: str) -> str:
    """Generate and write every table under *out_dir*."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in make_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
