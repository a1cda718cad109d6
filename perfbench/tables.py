"""Seeded synthetic tables in the shape of the TPC-H-ish test data (TESTDATA.md).

``write_tables`` writes ``region nation customer supplier part orders
lineitem`` (the tables the ``invoice_analytics`` queries read) and
``write_documents`` the corpus stream section's input, as one parquet file each,
with the column names, types and value ranges of the committed
``sf0.1`` files, so the registered queries and their DuckDB oracles run
on them unchanged. Row counts scale with ``sf`` the same way.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_ADJ = ["small", "red", "blue", "hot", "cold", "big", "green", "old"]
_NOUN = ["ring", "widget", "bolt", "gear", "plate", "pipe", "valve", "spring"]
_TYPES = ["ECONOMY", "SMALL", "MEDIUM", "LARGE", "PROMO", "STANDARD"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_WORDS = ("spark window merge table column vector stream value data small join filter big "
          "group hash customer sort order slow line part fast row the agg key query a scan "
          "batch").split()
_LANGS = (["en", "zh", "es", "fr", "de"], [0.41, 0.15, 0.15, 0.15, 0.14])
TPCH_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
DUP_RATE = 0.05  # share of documents that are a copy of an earlier one plus " dup"


def _dates(rng, n: int, start: str, days: int) -> np.ndarray:
    return np.datetime64(start, "us") + rng.integers(0, days, n).astype("timedelta64[D]")


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def write_documents(out_dir: str, seed: int, n: int) -> None:
    """``documents``: 31-word vocabulary, 10-100 words a text, and a
    planted share of exact copies marked with a trailing " dup"."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    texts: list[str] = []
    for _ in range(n):
        if texts and rng.random() < DUP_RATE:
            texts.append(texts[int(rng.integers(0, len(texts)))] + " dup")
        else:
            texts.append(" ".join(rng.choice(_WORDS, int(rng.integers(10, 101)))))
    ids = np.arange(n, dtype=np.int64)
    _write(out_dir, "documents", {
        "doc_id": ids,
        "text": texts,
        "lang": rng.choice(_LANGS[0], n, p=_LANGS[1]).tolist(),
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def write_tables(out_dir: str, seed: int, sf: float) -> None:
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    i32 = lambda a: np.asarray(a, dtype=np.int32)  # noqa: E731
    i64 = lambda a: np.asarray(a, dtype=np.int64)  # noqa: E731
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li = int(1_500_000 * sf), int(6_000_000 * sf)

    _write(out_dir, "region", {"r_regionkey": i32(range(5)), "r_name": _REGIONS})
    _write(out_dir, "nation", {
        "n_nationkey": i32(range(25)), "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": i32([i % 5 for i in range(25)]),
    })
    _write(out_dir, "customer", {
        "c_custkey": i64(range(n_cust)), "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": i32(rng.integers(0, 25, n_cust)), "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust).tolist(),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": i64(range(n_supp)), "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": i32(rng.integers(0, 25, n_supp)), "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    parts = np.arange(n_part)
    _write(out_dir, "part", {
        "p_partkey": i64(parts),
        "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_TYPES, n_part).tolist(), "p_size": i32(rng.integers(1, 51, n_part)),
        "p_retailprice": np.round(900.0 + (parts % 1000) * 0.1, 1),
    })
    _write(out_dir, "orders", {
        "o_orderkey": i64(range(n_ord)), "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord).tolist(),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _dates(rng, n_ord, "1995-01-01", 2404),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord).tolist(),
    })
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    _write(out_dir, "lineitem", {
        "l_orderkey": i64(rng.integers(0, n_ord, n_li)), "l_partkey": i64(rng.integers(0, n_part, n_li)),
        "l_suppkey": i64(rng.integers(0, n_supp, n_li)), "l_linenumber": i32(rng.integers(1, 8, n_li)),
        "l_quantity": qty, "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0, "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li).tolist(),
        "l_linestatus": rng.choice(["F", "O"], n_li).tolist(),
        "l_shipdate": _dates(rng, n_li, "1995-01-02", 2498),
    })
