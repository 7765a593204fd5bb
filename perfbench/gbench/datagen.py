"""Seeded input generation.

Every table is drawn from ``numpy.random.default_rng(seed)``, so one seed
always yields byte-identical inputs. The shapes follow the repository's
TPC-H-style test tables (same column names, types and value domains);
keys are dense ``0..n-1`` per table and every foreign key is drawn from
the referenced table's key range, so joins stay consistent across tables.
Rows are independent draws, so no table carries duplicated content.
"""
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# rows per table at scale factor 1; the benchmark runs at SCALE
ROWS_AT_SF1 = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
}
SCALE = 0.01

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
STATUSES = ["F", "O", "P"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "hot", "large", "old", "red", "shiny", "small", "tiny"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "spring", "widget"]


def rows(table, scale=SCALE):
    return max(1, int(round(ROWS_AT_SF1[table] * scale)))


def _days(rng, n, start, end):
    lo = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - lo).astype(int))
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n):
    return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]


def orders_frame(rng, keys, n_customers):
    """Orders rows for the given keys (also used for lakehouse deltas)."""
    n = len(keys)
    return pd.DataFrame({
        "o_orderkey": np.asarray(keys, dtype=np.int64),
        "o_custkey": rng.integers(0, n_customers, n, dtype=np.int64),
        "o_orderstatus": _pick(rng, STATUSES, n),
        "o_totalprice": _money(rng, n, 1000.0, 500000.0),
        "o_orderdate": _days(rng, n, "1995-01-01", "2001-08-01"),
        "o_orderpriority": _pick(rng, PRIORITIES, n),
    })


def tables(seed, scale=SCALE):
    """All grammar input tables as pandas frames, keyed by table name."""
    rng = np.random.default_rng(seed)
    n_c, n_s, n_p = rows("customer", scale), rows("supplier", scale), rows("part", scale)
    n_o, n_l = rows("orders", scale), rows("lineitem", scale)
    # every region keeps at least one nation: a seeded permutation of i % 5
    region_of = rng.permutation(np.arange(25) % 5).astype(np.int32)
    out = {
        "region": pd.DataFrame({
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": np.asarray(REGIONS, dtype=object)}),
        "nation": pd.DataFrame({
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": np.asarray([f"NATION_{i}" for i in range(25)], dtype=object),
            "n_regionkey": region_of}),
        "customer": pd.DataFrame({
            "c_custkey": np.arange(n_c, dtype=np.int64),
            "c_name": np.asarray([f"Customer#{i:09d}" for i in range(n_c)], dtype=object),
            "c_nationkey": rng.integers(0, 25, n_c, dtype=np.int32),
            "c_acctbal": _money(rng, n_c, -999.99, 9999.99),
            "c_mktsegment": _pick(rng, SEGMENTS, n_c)}),
        "supplier": pd.DataFrame({
            "s_suppkey": np.arange(n_s, dtype=np.int64),
            "s_name": np.asarray([f"Supplier#{i:09d}" for i in range(n_s)], dtype=object),
            "s_nationkey": rng.integers(0, 25, n_s, dtype=np.int32),
            "s_acctbal": _money(rng, n_s, -999.99, 9999.99)}),
    }
    pk = np.arange(n_p, dtype=np.int64)
    out["part"] = pd.DataFrame({
        "p_partkey": pk,
        "p_name": _pick(rng, PART_ADJ, n_p) + " " + _pick(rng, PART_NOUN, n_p),
        "p_brand": np.asarray([f"Brand#{b}" for b in rng.integers(1, 26, n_p)], dtype=object),
        "p_type": _pick(rng, PART_TYPES, n_p),
        "p_size": rng.integers(1, 51, n_p, dtype=np.int32),
        "p_retailprice": np.round(900.0 + rng.integers(0, 1000, n_p) / 10.0, 1)})
    out["orders"] = orders_frame(rng, np.arange(n_o), n_c)
    out["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, n_o, n_l, dtype=np.int64),
        "l_partkey": rng.integers(0, n_p, n_l, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_s, n_l, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n_l, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, n_l).astype(np.float64),
        "l_extendedprice": _money(rng, n_l, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n_l) / 100.0,
        "l_tax": rng.integers(0, 9, n_l) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_l),
        "l_linestatus": _pick(rng, ["F", "O"], n_l),
        "l_shipdate": _days(rng, n_l, "1995-01-02", "2001-11-04")})
    return out


def write_parquet(frame, path):
    pq.write_table(pa.Table.from_pandas(frame, preserve_index=False), path)


def write_tables(seed, data_dir, scale=SCALE):
    """Write ``<table>.parquet`` files under ``data_dir``; returns row counts."""
    os.makedirs(data_dir, exist_ok=True)
    counts = {}
    for name, frame in tables(seed, scale).items():
        write_parquet(frame, os.path.join(data_dir, f"{name}.parquet"))
        counts[name] = len(frame)
    return counts
