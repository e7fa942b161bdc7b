"""Seeded synthetic inputs for the benchmark.

Writes the tables the workloads read (region, nation, customer,
supplier, part, orders, lineitem, events, documents) as one parquet file
each, with the column names, types and value distributions of the
repository's test fixtures, sized by a TPC-H-style scale factor. The
same (seed, scale) always gives the same values. The documents table is
one copy of the base corpus (replica factor 1); at sf0.01 and below it
stays at its 500-row floor.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents",
)

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_US_PER_DAY = 86_400_000_000


def table_rows(scale: float) -> dict:
    """Row counts per table at ``scale`` (sf0.1 = 600k lineitems)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(10, round(150_000 * scale)),
        "supplier": max(5, round(10_000 * scale)),
        "part": max(20, round(200_000 * scale)),
        "orders": max(100, round(1_500_000 * scale)),
        "lineitem": max(400, round(6_000_000 * scale)),
        "events": max(100, round(1_000_000 * scale)),
        "documents": max(500, round(50_000 * scale)),
    }


def _days(rng, n, start: str, end: str):
    """Midnight timestamps (as datetime64[us]) uniform on [start, end]."""
    lo = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - lo).astype(int)) + 1
    return (lo + rng.integers(0, span, n).astype("timedelta64[D]")).astype(
        "datetime64[us]"
    )


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _choice(rng, options, n, p=None):
    return pa.array(np.asarray(options, dtype=object)[rng.choice(len(options), n, p=p)])


def _documents(rng, n: int):
    """Random-word documents: 5% are near-duplicates (another document
    plus the token ``dup``), 0.2% exact copies, no newlines."""
    lengths = rng.integers(10, 101, n)
    words = np.asarray(VOCAB, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(VOCAB), m)]) for m in lengths]
    for i in rng.choice(n, n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    for i in rng.choice(n, max(1, n // 500), replace=False):
        texts[i] = texts[int(rng.integers(0, n))]
    return texts


def _tpch(name, rng, rows):
    """Columns and schema of one TPC-H-style or events table."""
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")
    n = rows[name]
    if name == "region":
        return {
            "r_regionkey": pa.array(range(5), i32),
            "r_name": REGIONS,
        }, [("r_regionkey", i32), ("r_name", s)]
    if name == "nation":
        return {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }, [("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)]
    if name == "customer":
        return {
            "c_custkey": np.arange(n),
            "c_name": [f"Customer#{i:09d}" for i in range(n)],
            "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
            "c_acctbal": _money(rng, n, -999.99, 9999.99),
            "c_mktsegment": _choice(rng, SEGMENTS, n),
        }, [("c_custkey", i64), ("c_name", s), ("c_nationkey", i32),
            ("c_acctbal", f64), ("c_mktsegment", s)]
    if name == "supplier":
        return {
            "s_suppkey": np.arange(n),
            "s_name": [f"Supplier#{i:09d}" for i in range(n)],
            "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
            "s_acctbal": _money(rng, n, -999.99, 9999.99),
        }, [("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32), ("s_acctbal", f64)]
    if name == "part":
        names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
        return {
            "p_partkey": np.arange(n),
            "p_name": _choice(rng, names, n),
            "p_brand": _choice(rng, [f"Brand#{i}" for i in range(1, 26)], n),
            "p_type": _choice(rng, PART_TYPES, n),
            "p_size": rng.integers(1, 51, n).astype(np.int32),
            "p_retailprice": np.round(900 + rng.integers(0, 1000, n) * 0.1, 1),
        }, [("p_partkey", i64), ("p_name", s), ("p_brand", s), ("p_type", s),
            ("p_size", i32), ("p_retailprice", f64)]
    if name == "orders":
        return {
            "o_orderkey": np.arange(n),
            "o_custkey": rng.integers(0, rows["customer"], n),
            "o_orderstatus": _choice(rng, ["F", "O", "P"], n),
            "o_totalprice": _money(rng, n, 1000.0, 500_000.0),
            "o_orderdate": _days(rng, n, "1995-01-01", "2001-08-01"),
            "o_orderpriority": _choice(rng, PRIORITIES, n),
        }, [("o_orderkey", i64), ("o_custkey", i64), ("o_orderstatus", s),
            ("o_totalprice", f64), ("o_orderdate", ts), ("o_orderpriority", s)]
    if name == "lineitem":
        return {
            "l_orderkey": rng.integers(0, rows["orders"], n),
            "l_partkey": rng.integers(0, rows["part"], n),
            "l_suppkey": rng.integers(0, rows["supplier"], n),
            "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": _money(rng, n, 900.0, 105_000.0),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": _choice(rng, ["A", "N", "R"], n),
            "l_linestatus": _choice(rng, ["F", "O"], n),
            "l_shipdate": _days(rng, n, "1995-01-02", "2001-11-04"),
        }, [("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64),
            ("l_linenumber", i32), ("l_quantity", f64), ("l_extendedprice", f64),
            ("l_discount", f64), ("l_tax", f64), ("l_returnflag", s),
            ("l_linestatus", s), ("l_shipdate", ts)]
    assert name == "events", name
    start = np.datetime64(datetime(2024, 1, 1), "us")
    offsets = np.sort(rng.choice(30 * _US_PER_DAY, n, replace=False))
    return {
        "event_id": np.arange(n),
        "ts": start + offsets.astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(5, n // 67), n),
        "event_type": _choice(rng, EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    }, [("event_id", i64), ("ts", ts), ("user_id", i64), ("event_type", s),
        ("value", f64), ("props", s)]


def _documents_table(rng, n: int):
    texts = _documents(rng, n)
    ids = np.arange(n)
    return {
        "doc_id": ids,
        "text": texts,
        "lang": np.asarray(LANGS, dtype=object)[rng.choice(5, n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.asarray([len(t) for t in texts], dtype=np.int64),
    }, [("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
        ("source", pa.string()), ("n_chars", pa.int64())]


def generate(dest: str, *, seed: int, scale: float, tables=TABLES) -> dict:
    """Write ``tables`` under ``dest``; return {table: rows}. Each table
    draws from its own random stream, so its values do not depend on
    which other tables are generated."""
    os.makedirs(dest, exist_ok=True)
    rows = table_rows(scale)
    out = {}
    for name in tables:
        rng = np.random.default_rng([seed, round(scale * 1_000_000), TABLES.index(name)])
        if name == "documents":
            columns, schema = _documents_table(rng, rows[name])
        else:
            columns, schema = _tpch(name, rng, rows)
        table = pa.table(columns, schema=pa.schema(schema))
        pq.write_table(table, os.path.join(dest, f"{name}.parquet"))
        out[name] = table.num_rows
    return out
