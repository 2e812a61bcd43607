"""Seeded input tables for the benchmark.

Writes the ten tables that ``n2kupdate_spark.sources.catalog`` registers,
one parquet file each, with the registered column names and types. Sizes
and value domains follow the program's sf0.1 fixture (600k lineitem rows,
150k orders, 5000 documents, 2000 embeddings), so the queries see the same
shapes they were tuned for: uniform TPC-H-like keys and dates, documents of
10-100 words over a 30-word vocabulary with 5% planted " dup" near-copies,
and random unit-norm 64-dim embeddings with ten random labels.

Every value is drawn from ``numpy.random.default_rng(seed)``: the same seed
writes the same files.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_CUSTOMER = 15_000
N_SUPPLIER = 1_000
N_PART = 20_000
N_ORDERS = 150_000
N_EVENTS = 100_000
N_DOCUMENTS = 5_000
N_EMBEDDINGS = 2_000
EMBED_DIM = 64

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["large", "hot", "blue", "small", "cold", "red", "green", "shiny"]
PART_NOUN = ["ring", "bolt", "nut", "gear", "pipe", "valve", "plate", "screw"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]

_EPOCH = np.datetime64("1970-01-01T00:00:00", "us")


def _micros(d: dt.date) -> int:
    return int((np.datetime64(d.isoformat(), "us") - _EPOCH).astype(np.int64))


def _write(out_dir: str, name: str, table: pa.Table) -> None:
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def generate(out_dir: str, seed: int) -> dict[str, int]:
    """Write every table under ``out_dir``; returns row counts by table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    i32, i64, f64, s, ts = pa.int32(), pa.int64(), pa.float64(), pa.string(), pa.timestamp("us")
    counts: dict[str, int] = {}

    def emit(name: str, cols: dict, types: dict) -> None:
        arrays = [pa.array(v, type=types[k]) for k, v in cols.items()]
        _write(out_dir, name, pa.Table.from_arrays(arrays, names=list(cols)))
        counts[name] = len(next(iter(cols.values())))

    emit(
        "region",
        {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS},
        {"r_regionkey": i32, "r_name": s},
    )
    emit(
        "nation",
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": np.arange(25, dtype=np.int32) % 5,
        },
        {"n_nationkey": i32, "n_name": s, "n_regionkey": i32},
    )
    emit(
        "customer",
        {
            "c_custkey": np.arange(N_CUSTOMER, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
            "c_nationkey": rng.integers(0, 25, N_CUSTOMER, dtype=np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, N_CUSTOMER),
            "c_mktsegment": rng.choice(SEGMENTS, N_CUSTOMER),
        },
        {"c_custkey": i64, "c_name": s, "c_nationkey": i32, "c_acctbal": f64, "c_mktsegment": s},
    )
    emit(
        "supplier",
        {
            "s_suppkey": np.arange(N_SUPPLIER, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
            "s_nationkey": rng.integers(0, 25, N_SUPPLIER, dtype=np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPPLIER),
        },
        {"s_suppkey": i64, "s_name": s, "s_nationkey": i32, "s_acctbal": f64},
    )
    pk = np.arange(N_PART, dtype=np.int64)
    emit(
        "part",
        {
            "p_partkey": pk,
            "p_name": [
                f"{a} {b}"
                for a, b in zip(rng.choice(PART_ADJ, N_PART), rng.choice(PART_NOUN, N_PART))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, N_PART)],
            "p_type": rng.choice(PART_TYPES, N_PART),
            "p_size": rng.integers(1, 51, N_PART, dtype=np.int32),
            "p_retailprice": np.round(900 + (pk % 1000) / 10, 2),
        },
        {"p_partkey": i64, "p_name": s, "p_brand": s, "p_type": s, "p_size": i32, "p_retailprice": f64},
    )

    day0, day1 = _micros(dt.date(1995, 1, 1)), _micros(dt.date(2001, 8, 1))
    day_us = 86_400_000_000
    n_days = (day1 - day0) // day_us
    odate = day0 + rng.integers(0, n_days + 1, N_ORDERS) * day_us
    emit(
        "orders",
        {
            "o_orderkey": np.arange(N_ORDERS, dtype=np.int64),
            "o_custkey": rng.integers(0, N_CUSTOMER, N_ORDERS, dtype=np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], N_ORDERS),
            "o_totalprice": _money(rng, 1000.0, 500000.0, N_ORDERS),
            "o_orderdate": odate,
            "o_orderpriority": rng.choice(PRIORITIES, N_ORDERS),
        },
        {
            "o_orderkey": i64, "o_custkey": i64, "o_orderstatus": s,
            "o_totalprice": f64, "o_orderdate": ts, "o_orderpriority": s,
        },
    )

    # TPC-H style: each order gets 1-7 lines numbered 1..n, so
    # (l_orderkey, l_linenumber) is unique — the store workload keys on it.
    lines = rng.integers(1, 8, N_ORDERS)
    okey = np.repeat(np.arange(N_ORDERS, dtype=np.int64), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    lnum = (np.arange(len(okey)) - starts + 1).astype(np.int32)
    n_li = len(okey)
    emit(
        "lineitem",
        {
            "l_orderkey": okey,
            "l_partkey": rng.integers(0, N_PART, n_li, dtype=np.int64),
            "l_suppkey": rng.integers(0, N_SUPPLIER, n_li, dtype=np.int64),
            "l_linenumber": lnum,
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["F", "O"], n_li),
            "l_shipdate": odate[okey] + rng.integers(1, 122, n_li) * day_us,
        },
        {
            "l_orderkey": i64, "l_partkey": i64, "l_suppkey": i64, "l_linenumber": i32,
            "l_quantity": f64, "l_extendedprice": f64, "l_discount": f64, "l_tax": f64,
            "l_returnflag": s, "l_linestatus": s, "l_shipdate": ts,
        },
    )

    month_us = 30 * day_us
    ev_ts = np.sort(_micros(dt.date(2024, 1, 1)) + rng.integers(0, month_us, N_EVENTS))
    emit(
        "events",
        {
            "event_id": np.arange(N_EVENTS, dtype=np.int64),
            "ts": ev_ts,
            "user_id": rng.integers(0, 1500, N_EVENTS, dtype=np.int64),
            "event_type": rng.choice(EVENT_TYPES, N_EVENTS),
            "value": _money(rng, 0.0, 560.0, N_EVENTS),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
        },
        {"event_id": i64, "ts": ts, "user_id": i64, "event_type": s, "value": f64, "props": s},
    )

    texts: list[str] = []
    for i in range(N_DOCUMENTS):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 101)))))
    emit(
        "documents",
        {
            "doc_id": np.arange(N_DOCUMENTS, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, N_DOCUMENTS, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(N_DOCUMENTS)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        },
        {"doc_id": i64, "text": s, "lang": s, "source": s, "n_chars": i64},
    )

    vec = rng.standard_normal((N_EMBEDDINGS, EMBED_DIM))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    emit(
        "embeddings",
        {
            "vec_id": np.arange(N_EMBEDDINGS, dtype=np.int64),
            "embedding": list(vec),
            "label": rng.integers(0, 10, N_EMBEDDINGS, dtype=np.int32),
        },
        {"vec_id": i64, "embedding": pa.list_(pa.float32()), "label": i32},
    )
    return counts
