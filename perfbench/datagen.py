"""Seeded generator for the star-schema corpus the query probes read.

The tables follow the schema contract in ``tests/test_catalog_schema.py``
and the value distributions of the fixed-seed corpus the probes were
written against: independent uniform keys and dates, two-decimal money
columns, exponential event values, a 30-word document vocabulary with
5% "near-duplicate" documents (an earlier text plus `` dup``), and
unit-norm 64-dimensional embeddings. Row counts scale linearly with
``sf`` (lineitem = 6,000,000 x sf); ``query_mix`` runs at ``sf=0.01``.

Only numpy and pyarrow are used, so generation needs no Spark session
and stays outside every timed metric.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("blue", "red", "hot", "cold", "old", "large", "small", "green")
PART_NOUN = ("ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "nut")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "en", "en", "de", "es", "fr", "zh")

EVENTS_START = np.datetime64("2024-01-01T00:00:00", "us")
EVENTS_DAYS = 30


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    d = rng.integers(lo, hi + 1, n).astype("datetime64[D]")
    return d.astype("datetime64[us]")


def _texts(rng, n: int) -> list[str]:
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    out, pos = [], 0
    for k in lens:
        out.append(" ".join(VOCAB[w] for w in words[pos:pos + k]))
        pos += k
    # 5% near-duplicates: an earlier document's text plus " dup"
    for i in np.flatnonzero(rng.random(n) < 0.05):
        if i > 0:
            out[i] = out[int(rng.integers(0, i))] + " dup"
    return out


def events_table(rng, n: int, n_users: int) -> pa.Table:
    """The ``events`` stream table: sorted uniform timestamps over a
    30-day span, exponential values (mean 50), ``{"k": n}`` props."""
    span_us = EVENTS_DAYS * 86_400 * 1_000_000
    ts = EVENTS_START + np.sort(rng.integers(0, span_us, n)).astype(
        "timedelta64[us]")
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n).astype(np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[
            rng.integers(0, len(EVENT_TYPES), n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}'
                           for k in rng.integers(0, 100, n)]),
    })


def make_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """Every table ``data_and_analytics_etl_spark.catalog.TABLES`` names."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_li, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = int(50_000 * sf), max(500, int(20_000 * sf))
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS)})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[
            rng.integers(0, 5, n_cust)])})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp))})
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pa.array(pk),
        "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(
            rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]),
        "p_brand": pa.array([f"Brand#{b}"
                             for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) * 0.1, 1))})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array(np.array(("F", "O", "P"))[
            rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
        "o_orderdate": pa.array(_days(rng, "1995-01-01", "2001-08-01", n_ord),
                                pa.timestamp("us")),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[
            rng.integers(0, 5, n_ord)])})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li, dtype=np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n_li)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(np.array(("A", "N", "R"))[
            rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(("F", "O"))[
            rng.integers(0, 2, n_li)]),
        "l_shipdate": pa.array(_days(rng, "1995-01-02", "2001-11-04", n_li),
                               pa.timestamp("us"))})
    t["events"] = events_table(rng, n_ev, max(150, int(15_000 * sf)))
    texts = _texts(rng, n_doc)
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.integers(0, len(LANGS), n_doc)]),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": pa.array(np.array([len(s) for s in texts],
                                     dtype=np.int64))})
    v = rng.standard_normal((n_emb, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb, dtype=np.int32))})
    return t


def write_corpus(out_dir: str, sf: float, seed: int) -> None:
    """Write every table as ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in make_tables(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
