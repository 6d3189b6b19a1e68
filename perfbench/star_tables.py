"""Deterministic star-schema tables for the headline queries.

Same table names, columns and types as the testdata of TESTDATA.md
(TPC-H-ish tables plus events, documents and embeddings), made from
``seed`` at a fraction ``sf`` of TPC-H scale factor 1. Money amounts,
discounts, taxes and event values are multiples of a power of two, so
every sum is exact in binary floating point and the Spark result and
its DuckDB oracle round the same value the same way.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
            "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
              "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_WORDS = (["red", "blue", "hot", "cold", "new", "old", "large",
               "small"],
              ["bolt", "ring", "plate", "rod", "gear", "anvil", "nut",
               "pipe"])
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
EMBED_DIM = 64
DAY_US = 86_400 * 1_000_000


def _money(rng, lo: float, hi: float, n: int, step: int = 4) -> np.ndarray:
    """Uniform amounts in [lo, hi] on a 1/step grid (exact in binary)."""
    return rng.integers(int(lo * step), int(hi * step) + 1, n) / step


def _ts(days_from_epoch: np.ndarray) -> pa.Array:
    return pa.array(days_from_epoch.astype("int64") * DAY_US,
                    pa.timestamp("us"))


def _write(out_dir: str, name: str, table: pa.Table) -> None:
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def generate(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the ten tables to ``out_dir``; returns rows per table."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(100, int(150_000 * sf))
    n_supp = max(20, int(10_000 * sf))
    n_part = max(100, int(200_000 * sf))
    n_ord = max(1000, int(1_500_000 * sf))
    n_li = 4 * n_ord
    n_users = max(50, int(15_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))
    n_doc = max(200, int(50_000 * sf))
    n_emb = max(100, int(20_000 * sf))
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    tables["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": _money(rng, -999.75, 9999.75, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    tables["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": _money(rng, -999.75, 9999.75, n_supp)})
    names = [f"{a} {b}" for a in PART_WORDS[0] for b in PART_WORDS[1]]
    tables["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": np.array(names)[rng.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": 900.0 + (np.arange(n_part) % 400) / 4})

    # 1995-01-01 .. 2001-08-01, as days since the unix epoch
    order_day = rng.integers(9131, 11535, n_ord)
    tables["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
        "o_orderstatus": np.array(["F", "O", "P"])[
            rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _ts(order_day),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    li_order = rng.integers(0, n_ord, n_li)
    tables["lineitem"] = pa.table({
        "l_orderkey": li_order.astype("int64"),
        "l_partkey": rng.integers(0, n_part, n_li).astype("int64"),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype("int64"),
        "l_linenumber": rng.integers(1, 8, n_li).astype("int32"),
        "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": _money(rng, 900, 105000, n_li),
        "l_discount": rng.integers(0, 13, n_li) / 128,
        "l_tax": rng.integers(0, 11, n_li) / 128,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(order_day[li_order] + rng.integers(1, 122, n_li))})

    # 30 days from 2024-01-01, distinct microsecond timestamps
    ev_us = np.sort(rng.choice(30 * DAY_US, n_ev, replace=False))
    tables["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": pa.array(ev_us + 19723 * DAY_US, pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_ev).astype("int64"),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev) * 4) / 4,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})

    texts = []
    for _ in range(n_doc):
        words = np.array(VOCAB)[rng.integers(0, len(VOCAB),
                                             rng.integers(10, 101))]
        texts.append(" ".join(words))
    # exact copies (with whitespace/case noise) and near copies
    for i in rng.choice(n_doc, n_doc // 100, replace=False):
        j = int(rng.integers(0, n_doc))
        texts[i] = ("  " + texts[j].upper()) if i % 2 else \
            texts[j] + " dup"
    tables["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype="int64"),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64")})

    emb = rng.standard_normal((n_emb, EMBED_DIM)).astype("float32")
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype="int64"),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype("int32")})

    for name, table in tables.items():
        _write(out_dir, name, table)
    return {name: t.num_rows for name, t in tables.items()}
