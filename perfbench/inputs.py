"""Seeded benchmark inputs, written to a run-private directory.

Every catalog table (the star schema, ``events``, ``documents`` and
``embeddings``) follows the column types and value distributions of
the engine's fixture tables (FIXTURES.md), scaled by ``sf``. The same
``seed`` always gives byte-identical tables, so every run of a
workload with one seed sees the same inputs and different seeds
exercise different data of the same shape.

Documents and embeddings come from ``tools/gen_scale_fixture.py``,
imported by path without modifying it; the curation corpus is its
Zipf-Mandelbrot generator.
"""

from __future__ import annotations

import importlib.util
import os
from functools import lru_cache

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# rows per unit of scale factor (sf0.1 = the fixture's sizes)
ROWS_PER_SF = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DAY_US = 86_400 * 1_000_000
ORDER_DAY0 = np.datetime64("1995-01-01", "D")
ORDER_DAYS = int((np.datetime64("2001-08-01", "D") - ORDER_DAY0).astype(int)) + 1
EVENT_T0 = np.datetime64("2024-01-01T00:00:00", "us")
EVENT_SPAN_US = 30 * DAY_US


@lru_cache(maxsize=1)
def scale_fixture_module():
    """``tools/gen_scale_fixture.py`` loaded by path (``tools`` is not a
    package)."""
    path = os.path.join(ROOT, "tools", "gen_scale_fixture.py")
    spec = importlib.util.spec_from_file_location("gen_scale_fixture", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _keyed_names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)], pa.string())


def _days(day0, offsets) -> pa.Array:
    ts = (day0 + offsets.astype("timedelta64[D]")).astype("datetime64[us]")
    return pa.array(ts, pa.timestamp("us"))


def star_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """The relational tables and ``events`` at scale ``sf``
    (independent uniform columns, like the fixture; every foreign key
    resolves)."""
    rng = np.random.default_rng([seed, 1])
    n = {k: max(1, int(v * sf)) for k, v in ROWS_PER_SF.items()}
    nc, ns, np_, no, nl = (n[k] for k in
                           ("customer", "supplier", "part", "orders", "lineitem"))
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string()),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array(rng.integers(0, 5, 25), pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": _keyed_names("Customer", nc),
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, nc), pa.string()),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": _keyed_names("Supplier", ns),
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns)),
    })
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(np_), pa.int64()),
        "p_name": pa.array(
            [f"{ADJ[a]} {NOUN[b]}" for a, b in
             zip(rng.integers(0, 8, np_), rng.integers(0, 8, np_))],
            pa.string()),
        "p_brand": pa.array(
            [f"Brand#{i}" for i in rng.integers(1, 26, np_)], pa.string()),
        "p_type": pa.array(rng.choice(PTYPES, np_), pa.string()),
        "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
        "p_retailprice": pa.array(
            np.round(900.0 + 0.1 * (np.arange(np_) % 1000), 2)),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], no), pa.string()),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, no)),
        "o_orderdate": _days(ORDER_DAY0, rng.integers(0, ORDER_DAYS, no)),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, no), pa.string()),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, np_, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, nl)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], nl), pa.string()),
        "l_linestatus": pa.array(rng.choice(["F", "O"], nl), pa.string()),
        "l_shipdate": _days(ORDER_DAY0 + 1, rng.integers(0, ORDER_DAYS + 95, nl)),
    })
    ne = n["events"]
    ts = np.sort(rng.integers(0, EVENT_SPAN_US, ne))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(EVENT_T0 + ts.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, ne // 66), ne), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, ne), pa.string()),
        "value": pa.array(np.round(rng.exponential(50.0, ne), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
                          pa.string()),
    })
    return t


def write_tables(out_dir: str, tables: dict[str, pa.Table]) -> dict[str, int]:
    """One parquet file per table, as the catalog expects; returns row
    counts."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: table.num_rows for name, table in tables.items()}


def make_fixture(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Every catalog table at scale ``sf`` (documents are the fixture's
    30-word soup, embeddings i.i.d. unit vectors)."""
    gen = scale_fixture_module()
    tables = star_tables(sf, seed)
    tables["documents"] = gen.gen_documents(
        int(ROWS_PER_SF["documents"] * sf), seed=seed)
    tables["embeddings"] = gen.gen_embeddings(
        int(ROWS_PER_SF["embeddings"] * sf), seed=seed + 1)
    return write_tables(out_dir, tables)


def make_curation_inputs(out_dir: str, n_docs: int, seed: int) -> dict[str, int]:
    """The curation corpus: Zipf-Mandelbrot ``documents``, the shape on
    which near-dup and decontamination keep most of the corpus."""
    gen = scale_fixture_module()
    return write_tables(out_dir, {
        "documents": gen.gen_documents_zipf(n_docs, seed=seed)})
