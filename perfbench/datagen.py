"""Seeded TPC-H-ish tables for the benchmark, written inside the checkout.

The tables copy the column names, types and value ranges of the repo's
synthetic test data (one Parquet file per table, one row group each), so
the catalog queries and their DuckDB oracles run on them unchanged.

The table *contents* depend only on ``scale``: they are drawn from a fixed
generator seed, so golden fingerprints of query results can be recorded
once.  The run ``seed`` permutes the row order of every table, which
changes the files and the partition contents Spark sees but not any
order-insensitive result.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42

TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")

#: rows per table at scale 1.0 (TPC-H proportions)
ROWS_AT_SF1 = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
}

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_ADJ = ["small", "red", "blue", "hot", "old", "big", "green", "cold"]
_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "nut", "pipe", "valve"]
_PTYPES = ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "LARGE", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def _days(rng, n, start="1995-01-01", span_days=2404):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, choices, n):
    return pa.array(np.asarray(choices, dtype=object)[rng.integers(0, len(choices), n)])


def base_tables(scale: float) -> dict[str, pa.Table]:
    """All tables at ``scale``, in canonical (generation) row order."""
    rng = np.random.default_rng(BASE_SEED)
    n = {t: max(1, int(r * scale)) for t, r in ROWS_AT_SF1.items()}
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })

    k = n["customer"]
    tables["customer"] = pa.table({
        "c_custkey": np.arange(k, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(k)],
        "c_nationkey": rng.integers(0, 25, k).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, k),
        "c_mktsegment": _pick(rng, _SEGMENTS, k),
    })

    k = n["supplier"]
    tables["supplier"] = pa.table({
        "s_suppkey": np.arange(k, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(k)],
        "s_nationkey": rng.integers(0, 25, k).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, k),
    })

    k = n["part"]
    names = np.char.add(
        np.char.add(np.asarray(_ADJ)[rng.integers(0, len(_ADJ), k)], " "),
        np.asarray(_NOUN)[rng.integers(0, len(_NOUN), k)],
    )
    tables["part"] = pa.table({
        "p_partkey": np.arange(k, dtype=np.int64),
        "p_name": pa.array(names.astype(object)),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, k)]),
        "p_type": _pick(rng, _PTYPES, k),
        "p_size": rng.integers(1, 51, k).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(k) % 1000) * 0.1, 2),
    })

    k = n["orders"]
    tables["orders"] = pa.table({
        "o_orderkey": np.arange(k, dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], k).astype(np.int64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], k),
        "o_totalprice": _money(rng, 1000.0, 500000.0, k),
        "o_orderdate": _days(rng, k, span_days=2404),
        "o_orderpriority": _pick(rng, _PRIORITIES, k),
    })

    k = n["lineitem"]
    tables["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n["orders"], k).astype(np.int64),
        "l_partkey": rng.integers(0, n["part"], k).astype(np.int64),
        "l_suppkey": rng.integers(0, n["supplier"], k).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, k).astype(np.int32),
        "l_quantity": rng.integers(1, 51, k).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, k),
        "l_discount": np.round(rng.integers(0, 11, k) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, k) * 0.01, 2),
        "l_returnflag": _pick(rng, ["A", "N", "R"], k),
        "l_linestatus": _pick(rng, ["F", "O"], k),
        "l_shipdate": _days(rng, k, start="1995-01-02", span_days=2498),
    })
    return tables


def write_tables(out_dir: str, scale: float, seed: int) -> dict[str, int]:
    """Write every table to ``out_dir/<name>.parquet`` with its rows in a
    ``seed``-dependent order; return the row count of each file."""
    os.makedirs(out_dir, exist_ok=True)
    perm_rng = np.random.default_rng(seed)
    counts = {}
    for name, table in base_tables(scale).items():
        table = table.take(perm_rng.permutation(table.num_rows))
        pq.write_table(
            table, os.path.join(out_dir, f"{name}.parquet"),
            row_group_size=max(1, table.num_rows),
        )
        counts[name] = table.num_rows
    return counts


def footer_rows(path: str) -> int:
    """Row count from a Parquet file's footer (no data pages read)."""
    return pq.ParquetFile(path).metadata.num_rows
