"""The ingest leg of batch_ingest: writes mixed with reads on
``io.snapshots.SnapshotStore``.

Set-up commits ``orders`` partitioned by order month into a fresh store.
Each leg applies one seeded change batch of 500 keys, confined to four
seeded months: either ``apply_changes`` with an I/U/D mix or ``upsert``
with I/U. The write is followed by one point read of a changed key, one
full-scan aggregate read and ``compact`` of the partitions the batch
wrote. Copy-on-write
rewrites, file fan-out and manifest commits carry the time, and reads
pay for the small files the writes leave behind, so a change that
speeds up writes by leaving more files shows in the read latencies and
in the store's bytes per live byte.
"""

from __future__ import annotations

import json
import os
import time

from common import Context

MAX_BATCHES = 48
KEY = "o_orderkey"
PART = "o_month"


def tree_sizes(root: str) -> dict[str, int]:
    """Path → size of every file under ``root``."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            out[p] = os.path.getsize(p)
    return out


class Loop:
    """The store and the operations the loop times."""

    def __init__(self, spark, sf_dir: str, root: str, layers=None):
        from pyspark.sql import functions as F

        from karna_spark.io.snapshots import SnapshotStore

        self.F, self.spark, self.layers = F, spark, layers
        self.sf_dir, self.root = sf_dir, root
        self.store = SnapshotStore(root, PART)
        with open(os.path.join(sf_dir, "changes", "kinds.json")) as fh:
            self.kinds = json.load(fh)
        self.pending: set[str] = set()
        self.n_ops = 0

    def _op(self, name: str, fn):
        """Time ``fn``; in the traced run, as one tagged operation. Any
        cache left behind is dropped afterwards, once counted."""
        if self.layers is None:
            t0 = time.perf_counter()
            out = fn()
            secs = time.perf_counter() - t0
            self.spark.catalog.clearCache()
            return secs, out
        self.n_ops += 1
        with self.layers.op(self.spark, f"ingest-{self.n_ops}-{name}", name) as root:
            out = fn()
        return root["end"] - root["start"], out

    def _verb(self, name: str, fn):
        if self.layers is None:
            return fn()
        with self.layers.tracer.span(f"snapshots.{name}", "snapshots"):
            return fn()

    def initial_commit(self) -> None:
        F = self.F
        orders = self.spark.read.parquet(os.path.join(self.sf_dir, "orders.parquet"))
        self.store.commit(orders.withColumn(PART, F.date_format("o_orderdate", "yyyy-MM")))

    def write(self, i: int) -> tuple[float, int]:
        """Apply change batch ``i``; returns (seconds, change rows)."""
        import pyarrow.parquet as pq

        path = os.path.join(self.sf_dir, "changes", f"b{i:03d}.parquet")
        months = pq.read_table(path, columns=[PART]).column(PART).to_pylist()
        self.pending.update(months)
        df = self.spark.read.parquet(path)
        if self.kinds[i] == "cdc":
            verb, call = "apply_changes", lambda: self.store.apply_changes(self.spark, df, [KEY])
        else:
            verb, call = "upsert", lambda: self.store.upsert(self.spark, df.drop("op"), [KEY])
        files_before = tree_sizes(self.root) if self.layers else None
        secs, _ = self._op(verb, lambda: self._verb(verb, call))
        if self.layers:
            new = {p: s for p, s in tree_sizes(self.root).items() if p not in files_before}
            self.layers.add(f"snapshots.{verb}_s", secs)
            self.layers.add("snapshots.files_written", len(new))
            self.layers.add("snapshots.bytes_written_per_change_byte",
                            sum(new.values()) / os.path.getsize(path))
        return secs, len(months)

    def point_read(self, key: int):
        F = self.F
        secs, rows = self._op("point_read", lambda: self._verb(
            "read", lambda: self.store.read(self.spark)).where(F.col(KEY) == key).collect())
        if self.layers:
            self.layers.add("snapshots.files_read_per_point_read",
                            self.layers.last["files_read"])
        return secs, [r.asDict() for r in rows]

    def scan_read(self):
        F = self.F
        secs, rows = self._op("scan_read", lambda: self._verb(
            "read", lambda: self.store.read(self.spark)).agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("total"),
            ).collect())
        return secs, (rows[0]["n"], rows[0]["total"])

    def compact(self) -> float:
        """Rewrite the partitions written since the last compaction."""
        parts = sorted(self.pending)
        files_before = tree_sizes(self.root) if self.layers else None
        secs, _ = self._op("compact", lambda: self._verb(
            "compact", lambda: self.store.compact(self.spark, partition_values=parts)))
        self.pending.clear()
        if self.layers:
            new = {p: s for p, s in tree_sizes(self.root).items() if p not in files_before}
            self.layers.add("snapshots.compact_s", secs)
            self.layers.add("snapshots.compact_bytes_rewritten_mb", sum(new.values()) / (1 << 20))
        return secs


def point_key(sf_dir: str, i: int) -> int:
    """The key the point read after batch ``i`` looks up: the batch's
    first updated or deleted key."""
    import pyarrow.parquet as pq

    return int(pq.read_table(os.path.join(sf_dir, "changes", f"b{i:03d}.parquet"),
                             columns=[KEY]).column(KEY)[0].as_py())


def check(ctx: Context, sf_dir: str, n_batches: int, reads: list, final_rows) -> None:
    """Replay the same batches in DuckDB; compare every read and the
    final table."""
    import duckdb

    from karna_spark.oracle import _norm_cell, compare_frames

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT *, strftime(o_orderdate, '%Y-%m') AS o_month "
        f"FROM read_parquet('{os.path.join(sf_dir, 'orders.parquet')}')")
    cols = [c[0] for c in con.execute("SELECT * FROM t LIMIT 0").description]
    by_batch = {i: (prow, agg) for i, prow, agg in reads}
    for i in range(n_batches):
        path = os.path.join(sf_dir, "changes", f"b{i:03d}.parquet")
        con.execute(f"DELETE FROM t WHERE {KEY} IN (SELECT {KEY} FROM read_parquet('{path}'))")
        con.execute(f"INSERT INTO t SELECT {', '.join(cols)} FROM read_parquet('{path}') "
                    "WHERE op <> 'D'")
        prow, agg = by_batch[i]  # None: the read failed and is counted already
        key = point_key(sf_dir, i)
        want = con.execute(f"SELECT * FROM t WHERE {KEY} = {key}").fetchall()
        if prow is not None:
            got = [tuple(_norm_cell(r[c]) for c in cols) for r in prow]
            if got != [tuple(_norm_cell(v) for v in w) for w in want]:
                ctx.fail(f"point read after batch {i}: {got} != {want}")
        want_agg = con.execute(
            "SELECT COUNT(*), SUM(CAST(o_totalprice AS DECIMAL(18,2))) FROM t").fetchone()
        if agg is not None and tuple(agg) != tuple(want_agg):
            ctx.fail(f"scan read after batch {i}: {agg} != {want_agg}")
    cur = con.execute("SELECT * FROM t")
    res = compare_frames("final", final_rows[1], final_rows[0], cur.fetchall(),
                         [c[0] for c in cur.description])
    if not res.ok:
        ctx.fail(f"final read: {res.detail}")
    con.close()
