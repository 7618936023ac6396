"""Local DuckDB-oracle parity checking (mirrors the driver's t2 gate).

The driver registers each fixture parquet as a DuckDB view, runs the
oracle SQL, and compares row count + schema + order-insensitive value
hash against the Spark result. This module reimplements that comparison
so every query can be verified locally *before* the driver sees it.

Comparison is deliberately strict about what the driver is known to be
strict about (column names, row multiset) and normalizing about
engine-representation details (column order, float NaN, Decimal vs
float, tz-aware vs naive timestamps, numpy vs python scalars).
"""

from __future__ import annotations

import datetime as _dt
import math
import os
from dataclasses import dataclass
from decimal import Decimal

import duckdb

from karna_spark.catalog import FIXTURE_TABLES


def duckdb_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """Fresh in-memory DuckDB with fixture tables registered as views."""
    con = duckdb.connect()
    for name in FIXTURE_TABLES:
        p = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(p):
            con.execute(
                f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet('{p}')"
            )
    return con


def _norm_cell(v):
    """Normalize one value to a representation-independent form."""
    if v is None:
        return None
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        # repr-strict, like the driver: int 10612 vs float 10612.0 is a
        # *type* mismatch and must fail here too.
        if math.isnan(v):
            return "NaN"
        if v == 0.0:
            v = 0.0  # -0.0 → 0.0
        return repr(v)
    if isinstance(v, _dt.datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ", timespec="seconds")
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm_cell(x) for x in v)
    if isinstance(v, bytes):
        return v.hex()
    if hasattr(v, "item"):  # numpy scalar
        return _norm_cell(v.item())
    return v


@dataclass
class ParityResult:
    name: str
    ok: bool
    detail: str = ""


def compare_frames(name: str, spark_rows, spark_cols, duck_rows, duck_cols) -> ParityResult:
    """Order-insensitive comparison: sort columns by name, then rows."""
    if sorted(spark_cols) != sorted(duck_cols):
        return ParityResult(
            name, False, f"columns differ: spark={sorted(spark_cols)} duck={sorted(duck_cols)}"
        )
    order_s = [spark_cols.index(c) for c in sorted(spark_cols)]
    order_d = [duck_cols.index(c) for c in sorted(duck_cols)]

    def row_key(t):
        # Total order even when a cell mixes None with values (Python 3
        # refuses None < int): rank by presence, then type, then repr.
        return tuple((v is None, type(v).__name__, repr(v)) for v in t)

    s = sorted(
        (tuple(_norm_cell(r[i]) for i in order_s) for r in spark_rows), key=row_key
    )
    d = sorted(
        (tuple(_norm_cell(r[i]) for i in order_d) for r in duck_rows), key=row_key
    )
    if len(s) != len(d):
        return ParityResult(name, False, f"row count: spark={len(s)} duck={len(d)}")
    if s != d:
        for i, (a, b) in enumerate(zip(s, d)):
            if a != b:
                return ParityResult(
                    name, False, f"first diff at sorted row {i}:\n  spark={a}\n  duck ={b}"
                )
    return ParityResult(name, True, f"{len(s)} rows")


def check_query(spark, con: duckdb.DuckDBPyConnection, name: str, sf_dir: str) -> ParityResult:
    """Run one registry query on both engines and compare."""
    from karna_spark import intermediates
    from karna_spark.queries import REGISTRY

    q = REGISTRY[name]
    with intermediates.scope():
        sdf = q.builder(spark, sf_dir)
        spark_cols = sdf.columns
        spark_rows = [tuple(r) for r in sdf.collect()]
    if q.oracle is None:
        return ParityResult(name, len(spark_rows) >= 0, f"rows-only: {len(spark_rows)} rows")
    cur = con.execute(q.oracle)
    duck_cols = [c[0] for c in cur.description]
    duck_rows = cur.fetchall()
    return compare_frames(name, spark_rows, spark_cols, duck_rows, duck_cols)
