"""Seeded tables for the ``core_queries`` workload.

The ten tables the registered queries read (``tables.TABLES``), with the
schemas and value shapes of the repository's TPC-H-like test data, at a
given scale (``sf=0.01`` gives about 60k lineitem rows). Every table is a
pure function of the seed. Order prices, account balances and event
timestamps, which queries rank or break ties on, are drawn without
repeats, so an answer does not depend on how an engine orders ties.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
LANGS = ["de", "en", "es", "fr", "zh"]
N_DOCS = 300
N_VECS = 500
DIM = 64


def _distinct_cents(rng, n: int, lo: float, hi: float) -> np.ndarray:
    """n distinct values in [lo, hi) with two decimals."""
    cents = rng.choice(int((hi - lo) * 100), size=n, replace=False)
    return np.round(lo + cents / 100.0, 2)


def _days(start: str, offsets) -> pa.Array:
    days = np.datetime64(start) + np.asarray(offsets).astype("timedelta64[D]")
    return pa.array(days.astype("datetime64[us]"), pa.timestamp("us"))


def generate(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_events = max(1000, int(1_000_000 * sf))

    region = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    nation = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    customer = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _distinct_cents(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
        }
    )
    supplier = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _distinct_cents(rng, n_supp, -999.99, 9999.99),
        }
    )
    names = np.array([f"{a} {n}" for a in ADJECTIVES for n in NOUNS])
    part = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": names[rng.integers(0, len(names), n_part)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
        }
    )
    orders = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _distinct_cents(rng, n_ord, 1000.0, 500_000.0),
            "o_orderdate": _days("1995-01-01", rng.integers(0, 2400, n_ord)),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
        }
    )
    lines = np.clip(rng.binomial(12, 1 / 3, n_ord), 1, 13)
    n_li = int(lines.sum())
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    quantity = rng.integers(1, 51, n_li).astype(np.float64)
    lineitem = pa.table(
        {
            "l_orderkey": np.repeat(np.arange(n_ord, dtype=np.int64), lines),
            "l_partkey": rng.integers(0, n_part, n_li),
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": (np.arange(n_li) - starts + 1).astype(np.int32),
            "l_quantity": quantity,
            "l_extendedprice": np.round(quantity * 900.0 + _distinct_cents(rng, n_li, 1.0, 60_000.0), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": _days("1995-01-02", rng.integers(0, 2500, n_li)),
        }
    ).take(rng.permutation(n_li))

    # distinct microsecond timestamps spread over 30 days
    span_us = 30 * 86_400 * 10**6
    ts = np.sort(rng.choice(span_us, size=n_events, replace=False))
    events = pa.table(
        {
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": pa.array(np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]")),
            "user_id": rng.integers(0, max(15, n_cust // 10), n_events),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_events)],
            "value": np.round(rng.exponential(40.0, n_events) + 0.01, 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }
    )

    texts = []
    for i in range(N_DOCS):
        if i >= 20 and rng.random() < 0.05:  # a near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(8, 80))
            texts.append(" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), k)]))
    documents = pa.table(
        {
            "doc_id": np.arange(N_DOCS, dtype=np.int64),
            "text": texts,
            "lang": np.array(LANGS)[rng.integers(0, 5, N_DOCS)],
            "source": [f"src{i % 20}" for i in range(N_DOCS)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )

    centers = rng.normal(size=(10, DIM))
    label = rng.integers(0, 10, N_VECS)
    vecs = centers[label] + 0.35 * rng.normal(size=(N_VECS, DIM))
    near = rng.random(N_VECS) < 0.05  # near-duplicates of the previous vector
    near[0] = False
    for i in np.flatnonzero(near):
        vecs[i] = vecs[i - 1] + 0.01 * rng.normal(size=DIM)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    embeddings = pa.table(
        {
            "vec_id": np.arange(N_VECS, dtype=np.int64),
            "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
            "label": label.astype(np.int32),
        }
    )
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "part": part,
        "orders": orders,
        "lineitem": lineitem,
        "events": events,
        "documents": documents,
        "embeddings": embeddings,
    }


def write(seed: int, sf: float, out_dir: str) -> int:
    """Writes ``<table>.parquet`` for every table; returns the total row
    count."""
    total = 0
    for name, table in generate(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        total += table.num_rows
    return total
