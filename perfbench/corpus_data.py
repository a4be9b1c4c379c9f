"""Seeded generator for the corpus_queries input tables.

Writes the ten tables the analytics queries read (``analytics.common.TABLES``)
as one parquet file each, with the column names and types of the TPC-H-like
test data the queries are written for, so any ``__spark_entry__.queries()``
entry and its ``oracle_sql()`` twin run on it unchanged.  The same ``seed`` always gives
byte-identical values; ``scale`` follows the row counts of the test data's
scale factor (0.01 -> 60 000 lineitem rows).
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
COLORS = ("red", "blue", "green", "small", "large", "shiny", "matte", "steel")
NOUNS = ("widget", "bolt", "ring", "gear", "panel", "valve", "spring", "cable")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.45, 0.14, 0.14, 0.13, 0.14)
VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark window line sort data column join small big customer query order "
    "group filter stream vector"
).split()

_US_PER_DAY = 86_400_000_000


def _us(d: datetime) -> int:
    return int((d - datetime(1970, 1, 1)).total_seconds() * 1_000_000)


def _days(rng: np.random.Generator, lo: datetime, hi: datetime, n: int) -> np.ndarray:
    """Midnight timestamps (µs) uniform over [lo, hi]."""
    d0, d1 = _us(lo) // _US_PER_DAY, _us(hi) // _US_PER_DAY
    return rng.integers(d0, d1 + 1, n) * _US_PER_DAY


def _ts(values: np.ndarray) -> pa.Array:
    return pa.array(values.astype("int64"), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _doc_text(rng: np.random.Generator, i: int) -> str:
    words = list(rng.choice(VOCAB, int(rng.integers(12, 90))))
    r = rng.random()
    # a few documents carry PII for the scrub / quality queries to find
    if r < 0.05:
        words.insert(int(rng.integers(len(words))), f"user{i}@example.com")
    elif r < 0.08:
        words.insert(int(rng.integers(len(words))), f"555-{rng.integers(100, 999)}-{rng.integers(1000, 9999)}")
    return " ".join(words)


def generate(out_dir: str, seed: int, scale: float = 0.01) -> dict[str, int]:
    """Write every table under ``out_dir``; returns {table: rows}."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(10, int(150_000 * scale))
    n_supp = max(5, int(10_000 * scale))
    n_part = max(10, int(200_000 * scale))
    n_orders = max(10, int(1_500_000 * scale))
    n_events = max(10, int(1_000_000 * scale))
    n_users = max(5, int(15_000 * scale))
    n_docs = max(10, int(50_000 * scale))

    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": list(REGIONS)}
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }
    )
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [
                f"{COLORS[a]} {NOUNS[b]}"
                for a, b in zip(rng.integers(0, len(COLORS), n_part), rng.integers(0, len(NOUNS), n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
        }
    )
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
            "o_orderstatus": rng.choice(("F", "O", "P"), n_orders),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_orders),
            "o_orderdate": _ts(_days(rng, datetime(1995, 1, 1), datetime(2001, 8, 1), n_orders)),
            "o_orderpriority": rng.choice(PRIORITIES, n_orders),
        }
    )
    lines = rng.integers(1, 8, n_orders)
    n_li = int(lines.sum())
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(np.repeat(np.arange(n_orders), lines), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(np.concatenate([np.arange(1, k + 1) for k in lines]), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
            # whole units: a price times a whole-percent discount has two
            # decimals, so no revenue sum lands on a round(..., 2) tie that
            # summation order could flip between Spark and DuckDB
            "l_extendedprice": np.round(rng.uniform(900.0, 100_000.0, n_li)),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(("A", "N", "R"), n_li),
            "l_linestatus": rng.choice(("F", "O"), n_li),
            "l_shipdate": _ts(_days(rng, datetime(1995, 1, 2), datetime(2001, 11, 4), n_li)),
        }
    )
    # events: increasing timestamps over 30 days, one user pool
    gaps = rng.exponential(30 * _US_PER_DAY / n_events, n_events).astype("int64")
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_events), pa.int64()),
            "ts": _ts(_us(datetime(2024, 1, 1)) + np.cumsum(gaps)),
            "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
            "event_type": rng.choice(EVENT_TYPES, n_events),
            "value": _money(rng, 0.01, 490.0, n_events),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }
    )
    # documents: ~5% exact duplicates of an earlier text (dedup has work)
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(i))])
        else:
            texts.append(_doc_text(rng, i))
    tables["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": texts,
            "lang": rng.choice(LANGS, n_docs, p=LANG_P),
            "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    emb = rng.normal(0.0, 1.0, (n_docs, 64)).astype("float32")
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    tables["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_docs), pa.int64()),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_docs), pa.int32()),
        }
    )
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
