"""Deterministic synthetic source tables for the benchmark.

The tables follow the TPC-H-like star schema the operator library is
written against (region, nation, customer, supplier, part, orders,
lineitem) plus the ``events`` stream table. Values are drawn uniformly
from one numpy generator seeded with ``DATA_SEED``, so every checkout
builds byte-identical inputs. ``scale`` = 0.1 gives 600,000 lineitem rows.

Each table is written as one parquet file with a single row group, the
layout the repository's own test data uses.
"""

from __future__ import annotations

import os
import shutil
from datetime import datetime
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
GENERATOR_VERSION = 1
TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events",
)
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
EVENT_DAYS = 30

_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_BRANDS = tuple(f"Brand#{a}{b}" for a in range(1, 6) for b in range(1, 6))
_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")


def row_counts(scale: float) -> dict[str, int]:
    """Rows per table at ``scale`` (TPC-H cardinalities × scale)."""
    n = lambda base: max(int(round(base * scale)), 10)  # noqa: E731
    return {
        "region": 5,
        "nation": 25,
        "customer": n(150_000),
        "supplier": n(10_000),
        "part": n(200_000),
        "orders": n(1_500_000),
        "lineitem": n(6_000_000),
        "events": n(1_000_000),
    }


def _days(rng, n, start: str, end: str) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int)
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, n, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def build_tables(scale: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(DATA_SEED)
    rc = row_counts(scale)
    nc, ns, np_, no, nl, ne = (
        rc["customer"], rc["supplier"], rc["part"], rc["orders"],
        rc["lineitem"], rc["events"],
    )
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(list(_REGIONS)),
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i:02d}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, nc, -999.99, 9999.99)),
        "c_mktsegment": _pick(rng, _SEGMENTS, nc),
    })
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, ns, -999.99, 9999.99)),
    })
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(np_, dtype=np.int64)),
        "p_name": pa.array([f"part {i}" for i in range(np_)]),
        "p_brand": _pick(rng, _BRANDS, np_),
        "p_type": _pick(rng, _TYPES, np_),
        "p_size": pa.array(rng.integers(1, 51, np_).astype(np.int32)),
        "p_retailprice": pa.array(_money(rng, np_, 900.0, 2100.0)),
    })
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, nc, no).astype(np.int64)),
        "o_orderstatus": _pick(rng, ("F", "O", "P"), no),
        "o_totalprice": pa.array(_money(rng, no, 1000.0, 500000.0)),
        "o_orderdate": pa.array(_days(rng, no, "1995-01-01", "2001-08-01")),
        "o_orderpriority": _pick(rng, _PRIORITIES, no),
    })
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, np_, nl).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, ns, nl).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, nl, 900.0, 105000.0)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": _pick(rng, ("A", "N", "R"), nl),
        "l_linestatus": _pick(rng, ("F", "O"), nl),
        "l_shipdate": pa.array(_days(rng, nl, "1995-01-02", "2001-11-04")),
    })
    start = np.datetime64(datetime(2024, 1, 1), "us")
    offsets = np.sort(rng.integers(0, EVENT_DAYS * 86_400_000_000, ne))
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(ne, dtype=np.int64)),
        "ts": pa.array(start + offsets.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, max(ne // 66, 10), ne).astype(np.int64)),
        "event_type": _pick(rng, EVENT_TYPES, ne),
        "value": pa.array(np.round(rng.exponential(60.0, ne), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
    })
    return tables


def ensure_tables(root: Path, scale: float) -> Path:
    """Write the tables for ``scale`` under ``root`` once; return the dir.

    The directory is built beside its final name and renamed into place,
    so an interrupted build never leaves a partial table set behind.
    """
    out = root / f"v{GENERATOR_VERSION}_sf{scale:g}"
    if all((out / f"{t}.parquet").is_file() for t in TABLES):
        return out
    tmp = root / f".{out.name}.{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    for name, table in build_tables(scale).items():
        pq.write_table(table, tmp / f"{name}.parquet", row_group_size=table.num_rows)
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    return out
