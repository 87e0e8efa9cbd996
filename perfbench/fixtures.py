"""Seeded star-schema fixtures for the ``query_mix`` workload.

The registered plans read ``{sf_dir}/{table}.parquet`` files with the
shape of the repository's test fixtures: a TPC-H-like star schema
(region, nation, customer, supplier, part, orders, lineitem), an
``events`` stream, a ``documents`` text corpus with near-duplicates and
an ``embeddings`` table of clustered unit-ish vectors. This module
writes such a set from a seed, so the benchmark needs no data outside
its own directory. Column names and parquet types match the fixtures;
values are drawn from the same kinds of ranges.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

WORDS = (
    "a the row key value table part hash merge batch spark scan slow fast "
    "window line sort join agg order column query customer filter group "
    "data stream small big vector"
).split()
LANGS = np.array(["en", "en", "en", "de", "es", "fr", "zh"])


def _ts(base: str, offsets_us: np.ndarray) -> pa.Array:
    start = np.datetime64(base, "us").astype(np.int64)
    return pa.array(start + offsets_us.astype(np.int64), type=pa.timestamp("us"))


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.15:
            # near-duplicate of an earlier document: a few words swapped
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), size=max(1, len(words) // 20)):
                words[j] = WORDS[int(rng.integers(0, len(WORDS)))]
            words.append("dup")
        else:
            words = [WORDS[k] for k in rng.integers(0, len(WORDS), size=int(rng.integers(8, 90)))]
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n), type=pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(LANGS[rng.integers(0, len(LANGS), size=n)]),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, size=n)]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })


def generate(out_dir: str, seed: int, scale: float = 0.01) -> dict[str, int]:
    """Write every fixture table under ``out_dir``; returns row counts.
    ``scale`` follows the fixtures' scale factor (0.01 → 60k lineitems)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * scale), int(10_000 * scale), int(200_000 * scale)
    n_orders, n_events = int(1_500_000 * scale), int(1_000_000 * scale)
    n_docs, n_vecs, dim = int(50_000 * scale), int(50_000 * scale), 64

    order_days = rng.integers(0, 2404, size=n_orders)
    lines = rng.integers(1, 8, size=n_orders)
    l_order = np.repeat(np.arange(n_orders), lines)
    l_number = np.concatenate([np.arange(1, k + 1) for k in lines])
    n_lines = len(l_order)
    qty = rng.integers(1, 51, size=n_lines).astype(np.float64)
    price = np.round(rng.uniform(900.0, 2100.0, size=n_lines), 2)

    centers = rng.normal(0.0, 1.0, size=(10, dim))
    labels = rng.integers(0, 10, size=n_vecs)
    vecs = centers[labels] + rng.normal(0.0, 0.6, size=(n_vecs, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)

    day_us = 86_400 * 1_000_000
    event_gaps = rng.integers(1, 2 * 30 * day_us // max(n_events, 1), size=n_events)
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5), type=pa.int32()),
            "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25), type=pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25) % 5, type=pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), type=pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, size=n_cust), type=pa.int32()),
            "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, size=n_cust), 2)),
            "c_mktsegment": pa.array(np.array(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
            )[rng.integers(0, 5, size=n_cust)]),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), type=pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, size=n_supp), type=pa.int32()),
            "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, size=n_supp), 2)),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part), type=pa.int64()),
            "p_name": pa.array([
                f"{a} {b}" for a, b in zip(
                    np.array(["small", "red", "blue", "large", "green"])[rng.integers(0, 5, size=n_part)],
                    np.array(["ring", "widget", "bolt", "gear", "valve"])[rng.integers(0, 5, size=n_part)],
                )
            ]),
            "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, size=n_part)]),
            "p_type": pa.array(np.array(
                ["ECONOMY", "SMALL", "PROMO", "MEDIUM", "LARGE", "STANDARD"]
            )[rng.integers(0, 6, size=n_part)]),
            "p_size": pa.array(rng.integers(1, 51, size=n_part), type=pa.int32()),
            "p_retailprice": pa.array(np.round(900.0 + np.arange(n_part) * 0.1, 2)),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_orders), type=pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, size=n_orders), type=pa.int64()),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, size=n_orders)]),
            "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, size=n_orders), 2)),
            "o_orderdate": _ts("1995-01-01", order_days * day_us),
            "o_orderpriority": pa.array(np.array(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
            )[rng.integers(0, 5, size=n_orders)]),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(l_order, type=pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, size=n_lines), type=pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, size=n_lines), type=pa.int64()),
            "l_linenumber": pa.array(l_number, type=pa.int32()),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(np.round(qty * price, 2)),
            "l_discount": pa.array(rng.integers(0, 11, size=n_lines) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, size=n_lines) / 100.0),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, size=n_lines)]),
            "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, size=n_lines)]),
            "l_shipdate": _ts(
                "1995-01-01",
                (order_days[l_order] + rng.integers(1, 122, size=n_lines)) * day_us,
            ),
        }),
        "events": pa.table({
            "event_id": pa.array(np.arange(n_events), type=pa.int64()),
            "ts": _ts("2024-01-01", np.cumsum(event_gaps)),
            "user_id": pa.array(rng.integers(0, 150, size=n_events), type=pa.int64()),
            "event_type": pa.array(np.array(
                ["click", "view", "signup", "purchase", "error"]
            )[rng.integers(0, 5, size=n_events)]),
            "value": pa.array(np.round(rng.uniform(0.0, 20.0, size=n_events), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n_events)]),
        }),
        "documents": _documents(rng, n_docs),
        "embeddings": pa.table({
            "vec_id": pa.array(np.arange(n_vecs), type=pa.int64()),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(labels, type=pa.int32()),
        }),
    }
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
