#!/usr/bin/env python
"""Driver simulation — the project verify skill's protocol.

Fresh process, *plain* SparkSession (driver-style: none of the engine's
tuned confs), then: t1 smoke (entry on sf0.001, rows>0) and t2 parity
(every queries() entry vs oracle_sql() through DuckDB at sf0.01,
order-insensitive hash over column-name-sorted rows, exact float repr).

Exit 0 iff everything matches. Run as: python scripts/driver_sim.py
"""

from __future__ import annotations

import datetime
import hashlib
import math
import os
import sys
from decimal import Decimal

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
from pyspark.sql import SparkSession

from karna_spark import intermediates

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm(v):
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v + 0.0)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat(timespec="seconds")
    if isinstance(v, datetime.date):
        return v.isoformat()
    return repr(v)


def hash_rows(cols, rows):
    idx = [cols.index(c) for c in sorted(cols)]
    lines = sorted("|".join(norm(r[i]) for i in idx) for r in rows)
    return hashlib.md5("\n".join(lines).encode()).hexdigest()


def main() -> int:
    sf = os.environ.get("SPARK_GRAFT_SF_DIR_T2", "/root/testdata/sf0.01")
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.ui.enabled", "false")
        .appName("driver_sim")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as E

    # what a builder persists or checkpoints is released once its rows
    # are read, as a server request or CLI run releases it
    with intermediates.scope():
        rows = E.entry(spark).collect()
    print(f"t1 smoke: {len(rows)} rows")
    assert rows, "entry() returned no rows"

    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    qs, oracles = E.queries(), E.oracle_sql()
    failures = []
    for name, fn in sorted(qs.items()):
        try:
            with intermediates.scope():
                sdf = fn(spark, sf)
                s_hash = hash_rows(sdf.columns, [tuple(r) for r in sdf.collect()])
            if name not in oracles:
                print(f"  {name}: rows-only ok")
                continue
            cur = con.execute(oracles[name])
            d_hash = hash_rows([c[0] for c in cur.description], cur.fetchall())
            ok = s_hash == d_hash
            print(f"  {name}: {'MATCH' if ok else 'MISMATCH'}")
            if not ok:
                failures.append(name)
        except Exception as e:  # noqa: BLE001
            print(f"  {name}: ERROR {type(e).__name__}: {e}")
            failures.append(name)
    spark.stop()
    if failures:
        print(f"FAILED: {failures}")
        return 1
    print(f"ALL {len(qs)} queries ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
