"""Seeded synthetic inputs for the query workloads.

Writes `events`, `documents` and `embeddings` parquet tables with the
schemas and value shapes of the engine's reference testdata (see
FIXTURES.md section A): the same seed always gives byte-identical rows.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
DIM = 64


def events(rng, n):
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86400 * 1_000_000
    ts = start + np.sort(rng.integers(0, span_us, n)).astype("timedelta64[us]")
    k = rng.integers(0, 100, n)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, 15 * n // 1000), n).astype(np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n)),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {x}}}' for x in k]),
    })


def documents(rng, n, dup_share=0.05):
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < dup_share:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(WORDS, int(rng.integers(10, 101)))
            texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def embeddings(rng, n):
    m = rng.standard_normal((n, DIM)).astype(np.float32)
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(m), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def relational(rng, n_orders):
    """The small TPC-H-shaped tables the SQL surface registers as views."""
    n_cust, n_supp, n_part = n_orders // 10, max(1, n_orders // 150), n_orders // 7
    day0 = np.datetime64("1995-01-01", "us")

    def days(n, span):
        return pa.array(day0 + (rng.integers(0, span, n) * 86400_000_000).astype("timedelta64[us]"),
                        type=pa.timestamp("us"))

    def money(n, hi):
        return pa.array(np.round(rng.uniform(0, hi, n), 2))

    n_items = 4 * n_orders
    return {
        "region": pa.table({"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        "nation": pa.table({"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": money(n_cust, 10_000),
            "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                        "MACHINERY"], n_cust)}),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": money(n_supp, 10_000)}),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": rng.choice(["cold widget", "small widget", "large gadget", "red gizmo"],
                                 n_part),
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(["ECONOMY", "STANDARD", "PROMO", "LARGE"], n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": money(n_part, 2_000)}),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_orders).astype(np.int64)),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
            "o_totalprice": money(n_orders, 300_000),
            "o_orderdate": days(n_orders, 2400),
            "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                           "4-NOT SPECIFIED", "5-LOW"], n_orders)}),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_orders, n_items).astype(np.int64)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_items).astype(np.int64)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_items).astype(np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_items).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n_items).astype(np.float64)),
            "l_extendedprice": money(n_items, 100_000),
            "l_discount": pa.array(rng.integers(0, 11, n_items) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_items) / 100.0),
            "l_returnflag": rng.choice(["A", "N", "R"], n_items),
            "l_linestatus": rng.choice(["F", "O"], n_items),
            "l_shipdate": days(n_items, 2500)}),
    }


def write(out_dir, seed, n_events, n_docs, n_vecs, n_orders):
    """Write every table under `out_dir`; each family draws from its own
    stream so changing one size leaves the other tables' rows unchanged."""
    os.makedirs(out_dir, exist_ok=True)
    ss = np.random.SeedSequence(seed).spawn(4)
    tables = {
        "events": events(np.random.default_rng(ss[0]), n_events),
        "documents": documents(np.random.default_rng(ss[1]), n_docs),
        "embeddings": embeddings(np.random.default_rng(ss[2]), n_vecs),
        **relational(np.random.default_rng(ss[3]), n_orders),
    }
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
