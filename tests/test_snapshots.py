"""SnapshotStore (io/snapshots.py): manifest time travel, snapshot
isolation, and partition-granular copy-on-write."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from karna_spark.io.snapshots import ConcurrentWriteError, SnapshotStore


def _rows(df):
    return sorted((r["k"], r["p"], r["val"]) for r in df.collect())


def _mk(spark, data):
    return spark.createDataFrame([Row(k=k, p=p, val=v) for k, p, v in data])


def test_time_travel_three_versions(spark, tmp_path):
    store = SnapshotStore(str(tmp_path / "t"), "p")
    store.commit(_mk(spark, [(1, "a", 10), (2, "a", 20), (3, "b", 30)]))
    # v2: replace k=1, add k=4, both in partition a; b untouched.
    store.upsert(spark, _mk(spark, [(1, "a", 11), (4, "a", 40)]), ["k"])
    # v3: touch only b.
    store.upsert(spark, _mk(spark, [(3, "b", 31)]), ["k"])

    assert _rows(store.read(spark, 1)) == [(1, "a", 10), (2, "a", 20), (3, "b", 30)]
    assert _rows(store.read(spark, 2)) == [
        (1, "a", 11), (2, "a", 20), (3, "b", 30), (4, "a", 40)]
    assert _rows(store.read(spark)) == [  # latest == v3
        (1, "a", 11), (2, "a", 20), (3, "b", 31), (4, "a", 40)]


def test_copy_on_write_inherits_untouched_partition_files(spark, tmp_path):
    root = str(tmp_path / "t")
    store = SnapshotStore(root, "p")
    store.commit(_mk(spark, [(1, "a", 10), (3, "b", 30)]))
    b_files_v1 = sorted(glob.glob(os.path.join(root, "data", "p=b", "v=1", "*.parquet")))
    mtimes = {f: os.path.getmtime(f) for f in b_files_v1}
    store.upsert(spark, _mk(spark, [(1, "a", 11)]), ["k"])
    # Partition b gained no new version dir and its v=1 files are
    # byte-untouched: the v2 manifest points at the same immutable files.
    assert not glob.glob(os.path.join(root, "data", "p=b", "v=2"))
    assert {f: os.path.getmtime(f) for f in b_files_v1} == mtimes
    m = store._manifest(2)
    assert m["b"] == 1 and m["a"] == 2


def test_snapshot_isolation_under_later_commits(spark, tmp_path):
    store = SnapshotStore(str(tmp_path / "t"), "p")
    store.commit(_mk(spark, [(1, "a", 10)]))
    pinned = store.read(spark, 1)  # lazy plan pinned to manifest v1
    for v in range(5):
        store.upsert(spark, _mk(spark, [(1, "a", 100 + v)]), ["k"])
    # Evaluating the pinned reader AFTER five commits still yields v1.
    assert _rows(pinned) == [(1, "a", 10)]


def test_partition_pruned_snapshot_read(spark, tmp_path):
    store = SnapshotStore(str(tmp_path / "t"), "p")
    store.commit(_mk(spark, [(1, "a", 10), (3, "b", 30), (5, "c", 50)]))
    df = store.read(spark, partition_values=["b"])
    assert _rows(df) == [(3, "b", 30)]


def test_zorder_prefix_bounds_both_dimensions(spark):
    # The S13 claim: every 256-wide z-prefix bucket spans at most 16
    # consecutive values in EACH of the two interleaved dimensions.
    from karna_spark.queries.registry import REGISTRY

    df = REGISTRY["zorder_layout_stats"].builder(spark, "/root/testdata/sf0.001")
    bad = df.filter(
        ((F.col("pa_hi") - F.col("pa_lo")) > 15)
        | ((F.col("pb_hi") - F.col("pb_lo")) > 15)
    ).count()
    assert bad == 0


def test_streaming_snapshot_versions_monotone(spark):
    # Every micro-batch publishes one snapshot; each stays readable
    # after later commits and total event counts only grow.
    import os
    import uuid

    from karna_spark.streaming.jobs import (
        _STREAM_CACHE,
        foreachbatch_snapshot_rollup,
        stage_events_split,
    )

    landing = stage_events_split(spark, "/root/testdata/sf0.001", n_files=3)
    root = os.path.join(_STREAM_CACHE, "snap_t", uuid.uuid4().hex[:10])
    store = foreachbatch_snapshot_rollup(spark, landing, root)
    assert store.latest_version() == 3
    totals = [
        store.read(spark, version=v).agg({"n_events": "sum"}).collect()[0][0]
        for v in (1, 2, 3)
    ]
    assert totals[0] < totals[1] < totals[2]


def test_cdc_delete_all_rows_of_partition_drops_pointer(spark, tmp_path):
    # r6 ADVICE: a change feed that deletes EVERY remaining row of a
    # partition must not publish a dangling manifest pointer — the
    # partition reads as zero rows in the new version (and in every
    # later version that inherits the manifest), while time travel to
    # the prior version still serves it.
    store = SnapshotStore(str(tmp_path / "t"), "p")
    store.commit(_mk(spark, [(1, "a", 10), (2, "a", 20), (3, "b", 30)]))
    changes = _mk(spark, [(1, "a", 0), (2, "a", 0)]).withColumn("op", F.lit("D"))
    v2 = store.apply_changes(spark, changes, ["k"])
    assert _rows(store.read(spark, v2)) == [(3, "b", 30)]
    assert "a" not in store._manifest(v2)
    # A later commit touching only b inherits the dropped pointer.
    v3 = store.upsert(spark, _mk(spark, [(3, "b", 31)]), ["k"])
    assert _rows(store.read(spark, v3)) == [(3, "b", 31)]
    # History intact.
    assert _rows(store.read(spark, 1)) == [(1, "a", 10), (2, "a", 20), (3, "b", 30)]


def test_pin_persist_failure_fails_the_verb(spark, tmp_path, monkeypatch):
    """A verb input that cannot be cached fails the verb instead of
    silently running uncached."""
    import pytest

    store = SnapshotStore(str(tmp_path / "t"), "p")
    store.commit(_mk(spark, [(1, "a", 10), (3, "b", 30)]))
    delta = _mk(spark, [(1, "a", 11)])

    def refuse(self, *args, **kwargs):
        raise RuntimeError("persist refused")

    monkeypatch.setattr(type(delta), "persist", refuse)
    with pytest.raises(RuntimeError, match="persist refused"):
        store.upsert(spark, delta, ["k"])


def test_pin_release_restores_persistent_rdds(spark, tmp_path):
    """A verb's pin (``intermediates.persist`` inside the verb's scope)
    is dropped when the scope closes; an input the caller already
    persisted is left alone, also by a verb that pins it, and a
    validated upsert refused mid-way releases its pin."""
    import pytest
    from pyspark.storagelevel import StorageLevel

    from karna_spark import intermediates

    jsc = spark.sparkContext._jsc
    start = jsc.getPersistentRDDs().size()
    with intermediates.scope():
        pinned = intermediates.persist(
            _mk(spark, [(1, "a", 10)]), StorageLevel.MEMORY_AND_DISK
        )
        assert pinned.count() == 1
        assert jsc.getPersistentRDDs().size() == start + 1
    assert jsc.getPersistentRDDs().size() == start

    mine = _mk(spark, [(2, "b", 20)]).persist()
    mine.count()
    with intermediates.scope():
        pinned = intermediates.persist(mine, StorageLevel.MEMORY_AND_DISK)
        assert pinned is mine
    assert mine.storageLevel.useMemory
    assert jsc.getPersistentRDDs().size() == start + 1

    store = SnapshotStore(str(tmp_path / "t"), "p")
    store.commit(_mk(spark, [(1, "a", 10)]))
    store.upsert(spark, mine, ["k"])
    assert mine.storageLevel.useMemory
    assert jsc.getPersistentRDDs().size() == start + 1
    mine.unpersist()

    store.upsert(spark, _mk(spark, [(1, "a", 11)]), ["k"])
    assert jsc.getPersistentRDDs().size() == start
    with pytest.raises(ValueError, match="across partitions"):
        store.upsert(spark, _mk(spark, [(1, "b", 12)]), ["k"], validate_keys=True)
    assert jsc.getPersistentRDDs().size() == start


def test_merge_leaves_no_cached_rdds(spark, tmp_path):
    """``merge``'s local checkpoint of the source is released after a
    merge that publishes and after one refused for duplicate keys."""
    import pytest

    jsc = spark.sparkContext._jsc
    start = jsc.getPersistentRDDs().size()
    store = SnapshotStore(str(tmp_path / "t"), "p")
    store.commit(_mk(spark, [(1, "a", 10), (3, "b", 30)]))
    store.merge(spark, _mk(spark, [(1, "a", 11), (2, "a", 20)]), ["k"])
    assert _rows(store.read(spark)) == [(1, "a", 11), (2, "a", 20), (3, "b", 30)]
    assert jsc.getPersistentRDDs().size() == start
    with pytest.raises(ValueError, match="multiple source rows"):
        store.merge(spark, _mk(spark, [(1, "a", 1), (1, "a", 2)]), ["k"])
    assert jsc.getPersistentRDDs().size() == start


def test_cdc_rejects_invalid_op_values(spark, tmp_path):
    """An op other than 'I'/'U'/'D' fails the apply and names the
    value: a NULL op used to delete its key and 'd'/'X' to upsert."""
    import pytest

    store = SnapshotStore(str(tmp_path / "t"), "p")
    store.commit(_mk(spark, [(1, "a", 10), (2, "a", 20), (3, "b", 30)]))
    for bad, shown in ((None, "None"), ("d", "'d'"), ("X", "'X'")):
        changes = spark.createDataFrame(
            [Row(k=1, p="a", val=11, op="U"), Row(k=3, p="b", val=31, op=bad)],
            "k long, p string, val long, op string",
        )
        with pytest.raises(ValueError, match=f"invalid change op {shown}"):
            store.apply_changes(spark, changes, ["k"])
    assert store.latest_version() == 1
    assert _rows(store.read(spark)) == [(1, "a", 10), (2, "a", 20), (3, "b", 30)]


def test_upsert_keeps_data_columns_named_like_op_columns(spark, tmp_path):
    """upsert hands apply_changes a feed with its own op column; a
    delta column named 'op' or '__merge_op' stays data, unchanged."""
    for name in ("op", "__merge_op"):
        store = SnapshotStore(str(tmp_path / name), "p")
        store.commit(spark.createDataFrame(
            [Row(k=1, p="a", val=10), Row(k=2, p="b", val=20)]
        ).withColumn(name, F.lit("D")))
        delta = spark.createDataFrame(
            [Row(k=1, p="a", val=11), Row(k=3, p="b", val=30)]
        ).withColumn(name, F.when(F.col("k") == 1, "D").otherwise("x"))
        store.upsert(spark, delta, ["k"])
        got = sorted(
            (r["k"], r["p"], r["val"], r[name]) for r in store.read(spark).collect()
        )
        assert got == [(1, "a", 11, "D"), (2, "b", 20, "D"), (3, "b", 30, "x")]
        assert store.read(spark).columns == store.read(spark, 1).columns


def test_upsert_validate_keys_raises_on_partition_move(spark, tmp_path):
    import pytest

    store = SnapshotStore(str(tmp_path / "t"), "p")
    store.commit(_mk(spark, [(1, "a", 10), (3, "b", 30)]))
    mover = _mk(spark, [(1, "b", 11)])  # k=1 lives in partition a
    with pytest.raises(ValueError, match="across partitions"):
        store.upsert(spark, mover, ["k"], validate_keys=True)
    # Same-partition updates pass validation.
    v = store.upsert(spark, _mk(spark, [(1, "a", 11)]), ["k"], validate_keys=True)
    assert _rows(store.read(spark, v)) == [(1, "a", 11), (3, "b", 30)]


def test_upsert_validate_keys_fails_when_base_moves_after_check(spark, tmp_path):
    """The key-move check ran against one head; a publish landing
    before the apply reads the base must fail the upsert loudly."""
    import pytest

    root = str(tmp_path / "t")
    store = SnapshotStore(root, "p")
    store.commit(_mk(spark, [(1, "a", 10)]))
    orig_read = store._read_doc

    def read_then_race(*args, **kwargs):
        store._read_doc = orig_read
        SnapshotStore(root, "p").upsert(spark, _mk(spark, [(2, "a", 20)]), ["k"])
        return orig_read(*args, **kwargs)

    store._read_doc = read_then_race  # the check's scan is the first read
    with pytest.raises(ConcurrentWriteError):
        store.upsert(spark, _mk(spark, [(1, "a", 11)]), ["k"], validate_keys=True)
    assert _rows(store.read(spark)) == [(1, "a", 10), (2, "a", 20)]


def test_crashed_commit_version_is_never_reused(spark, tmp_path):
    # A claim marker with no manifest == a writer that died mid-commit.
    # The retry must claim a FRESH version (no append into v=2's dir,
    # which would serve duplicated rows), and reads skip the hole.
    store = SnapshotStore(str(tmp_path / "t"), "p")
    store.commit(_mk(spark, [(1, "a", 10)]))
    open(store._mpath(2) + ".claim", "w").close()  # simulate crash at v2
    v = store.upsert(spark, _mk(spark, [(1, "a", 11)]), ["k"])
    assert v == 3
    assert _rows(store.read(spark)) == [(1, "a", 11)]
    assert not os.path.exists(store._mpath(2))


def test_vacuum_expires_history_and_orphans(spark, tmp_path):
    store = SnapshotStore(str(tmp_path / "t"), "p")
    store.commit(_mk(spark, [(1, "a", 10), (3, "b", 30)]))     # v1
    store.upsert(spark, _mk(spark, [(1, "a", 11)]), ["k"])      # v2 (a only)
    # Orphan: a crashed commit claimed v3 and wrote into it, no manifest.
    open(store._mpath(3) + ".claim", "w").close()
    orphan = os.path.join(store.data, "p=a", "v=3")
    os.makedirs(orphan)
    open(os.path.join(orphan, "part-junk.parquet"), "w").close()
    v4 = store.upsert(spark, _mk(spark, [(3, "b", 31)]), ["k"])  # v4

    # Retain the last TWO published snapshots — v2 {a:2, b:1} and
    # v4 {a:2, b:4}; the v3 claim gap doesn't eat the retention
    # budget. Live dirs: a@v2, b@v1, b@v4. Collectible: a@v1 and the
    # v3 orphan (grace 0: the crashed commit's claim is "old enough").
    deleted = store.vacuum(retain_last=2, orphan_grace_sec=0.0)
    assert _rows(store.read(spark, v4)) == [(1, "a", 11), (3, "b", 31)]
    assert _rows(store.read(spark, 2)) == [(1, "a", 11), (3, "b", 30)]
    assert os.path.join("p=a", "v=3") in deleted
    assert os.path.join("p=a", "v=1") in deleted
    assert not os.path.exists(orphan)
    # Version numbers still never reused after vacuum.
    v5 = store.upsert(spark, _mk(spark, [(1, "a", 12)]), ["k"])
    assert v5 == 5


def test_vacuum_after_streaming_rollup(spark):
    # The streaming snapshot sink commits one version per micro-batch;
    # vacuum must keep the retained tail readable byte-for-byte and
    # make expired versions fail loudly instead of half-reading.
    import uuid

    import pytest

    from karna_spark.streaming.jobs import (
        _STREAM_CACHE,
        foreachbatch_snapshot_rollup,
        stage_events_split,
    )

    landing = stage_events_split(spark, "/root/testdata/sf0.001", n_files=3)
    root = os.path.join(_STREAM_CACHE, "snap_vac", uuid.uuid4().hex[:10])
    store = foreachbatch_snapshot_rollup(spark, landing, root)
    before = {
        v: sorted(map(tuple, store.read(spark, version=v).collect()))
        for v in (2, 3)
    }
    store.vacuum(retain_last=2)
    for v in (2, 3):
        got = sorted(map(tuple, store.read(spark, version=v).collect()))
        assert got == before[v], f"version {v} changed after vacuum"
    with pytest.raises(FileNotFoundError):
        store.read(spark, version=1)


def test_redact_erases_key_from_all_versions(spark, tmp_path):
    # Right-to-be-forgotten: the key disappears from EVERY version's
    # reads (including time travel), other rows are untouched, shared
    # copy-on-write directories are rewritten once, and untouched
    # directories stay byte-identical.
    root = str(tmp_path / "t")
    store = SnapshotStore(root, "p")
    store.commit(_mk(spark, [(1, "a", 10), (2, "a", 20), (3, "b", 30)]))  # v1
    store.upsert(spark, _mk(spark, [(3, "b", 31)]), ["k"])                # v2
    store.upsert(spark, _mk(spark, [(2, "a", 21)]), ["k"])                # v3
    b_v2 = sorted(glob.glob(os.path.join(root, "data", "p=b", "v=2", "*.parquet")))
    mtimes = {f: os.path.getmtime(f) for f in b_v2}

    n = store.redact(spark, ["k"], _mk(spark, [(1, "x", 0)]).select("k"))
    # k=1 lived only in partition a — its dirs at v1 (shared by
    # manifests v1+v2) and v3 are rewritten; partition b untouched.
    assert n == 2
    assert _rows(store.read(spark, 1)) == [(2, "a", 20), (3, "b", 30)]
    assert _rows(store.read(spark, 2)) == [(2, "a", 20), (3, "b", 31)]
    assert _rows(store.read(spark, 3)) == [(2, "a", 21), (3, "b", 31)]
    assert {f: os.path.getmtime(f) for f in b_v2} == mtimes
    # Store still fully operational post-redact.
    v = store.upsert(spark, _mk(spark, [(4, "a", 40)]), ["k"])
    assert (4, "a", 40) in _rows(store.read(spark, v))


def test_redact_drops_partition_emptied_in_every_version(spark, tmp_path):
    store = SnapshotStore(str(tmp_path / "t"), "p")
    store.commit(_mk(spark, [(1, "a", 10), (3, "b", 30)]))
    store.redact(spark, ["k"], _mk(spark, [(1, "x", 0)]).select("k"))
    # Partition a is emptied by the redact: its pointer is dropped, the
    # version still reads (just without the erased row).
    assert _rows(store.read(spark, 1)) == [(3, "b", 30)]
    assert "a" not in store._manifest(1)


def test_vacuum_grace_protects_in_flight_commit(spark, tmp_path):
    # r7 ADVICE: a claimed-but-unpublished version may be a LIVE
    # writer mid-commit — its freshly written dirs must survive a
    # racing vacuum until the claim outlives the grace period.
    store = SnapshotStore(str(tmp_path / "t"), "p")
    store.commit(_mk(spark, [(1, "a", 10)]))
    # Simulate an in-flight commit: claim v2 and write its data dir,
    # manifest not yet published.
    v = store._claim_version()
    assert v == 2
    store._write(_mk(spark, [(2, "a", 20)]), v)
    inflight = os.path.join(store.data, "p=a", "v=2")
    assert os.path.isdir(inflight)

    deleted = store.vacuum(retain_last=1)  # default 24h grace
    assert deleted == []
    assert os.path.isdir(inflight)
    # The writer can still publish and the snapshot reads whole.
    store._publish(v, {"a": v}, base_version=1)
    assert _rows(store.read(spark, 2)) == [(2, "a", 20)]
    # Once the claim is stale (grace 0), an UNpublished claim's dirs
    # would be collectible — but v2 published, so nothing to collect.
    assert store.vacuum(retain_last=2, orphan_grace_sec=0.0) == []


def test_concurrent_upsert_lost_update_detected(spark, tmp_path):
    # r8 ADVICE (medium): two writers basing on the same manifest must
    # not both publish — whichever lands second would silently drop
    # the other's partition pointers. The CAS publish check raises
    # ConcurrentWriteError instead; a retry against the new latest
    # version succeeds and preserves both writes.
    import pytest

    from karna_spark.io.snapshots import ConcurrentWriteError

    store = SnapshotStore(str(tmp_path / "t"), "p")
    store.commit(_mk(spark, [(1, "a", 10), (3, "b", 30)]))  # v1

    # Writer A claims v2 (base v1) but hasn't published yet; writer B
    # claims v3 (base v1), writes, and publishes first.
    va = store._claim_version()
    prev_a = store.latest_version()
    written_a = store._write(_mk(spark, [(1, "a", 11)]), va)
    vb = store.upsert(spark, _mk(spark, [(3, "b", 31)]), ["k"])
    assert vb == 3

    # A's publish is now stale — it must refuse, not drop B's b->3.
    manifest_a = {"a": va, "b": 1}
    with pytest.raises(ConcurrentWriteError):
        store._publish(va, manifest_a, base_version=prev_a)
    # B's commit is intact and A's data files are mere orphans.
    assert _rows(store.read(spark)) == [(1, "a", 10), (3, "b", 31)]
    assert written_a == ["a"]
    # A retries against the new latest; both writes now visible.
    v4 = store.upsert(spark, _mk(spark, [(1, "a", 11)]), ["k"])
    assert _rows(store.read(spark, v4)) == [(1, "a", 11), (3, "b", 31)]


def test_escaped_partition_values_roundtrip(spark, tmp_path):
    # r8 ADVICE (low): partition values Spark %XX-escapes in dir names
    # (':' and '=' here) must round-trip raw through manifest keys —
    # the r7 code published the ESCAPED name as a new key while
    # keeping the old pointer, double-serving the partition's rows.
    store = SnapshotStore(str(tmp_path / "t"), "p")
    weird = "a:b=c"
    store.commit(_mk(spark, [(1, weird, 10), (3, "plain", 30)]))
    assert sorted(store._manifest(1)) == [weird, "plain"]
    v2 = store.upsert(spark, _mk(spark, [(1, weird, 11)]), ["k"])
    # One key, repointed — not duplicated under an escaped alias.
    assert sorted(store._manifest(v2)) == [weird, "plain"]
    assert store._manifest(v2)[weird] == v2
    assert _rows(store.read(spark, v2)) == [(1, weird, 11), (3, "plain", 30)]
    # Time travel, pruned read, vacuum all resolve the escaped dir.
    assert _rows(store.read(spark, 1, partition_values=[weird])) == [(1, weird, 10)]
    deleted = store.vacuum(retain_last=1, orphan_grace_sec=0.0)
    assert any("v=1" in d for d in deleted)
    assert _rows(store.read(spark, v2)) == [(1, weird, 11), (3, "plain", 30)]


def test_null_partition_value_rejected(spark, tmp_path):
    import pytest
    from pyspark.sql import Row

    store = SnapshotStore(str(tmp_path / "t"), "p")
    store.commit(_mk(spark, [(1, "a", 10)]))
    bad = spark.createDataFrame([Row(k=2, p=None, val=20)], "k int, p string, val int")
    with pytest.raises(ValueError, match="NULL partition value"):
        store.upsert(spark, bad, ["k"])


def test_redact_with_partition_column_in_keys(spark, tmp_path):
    # r8 ADVICE (low): key_cols may legitimately include the partition
    # column (upsert/apply_changes key on it); redact must read leaf
    # dirs with basePath so the join doesn't fail on a missing column.
    from pyspark.sql import Row

    store = SnapshotStore(str(tmp_path / "t"), "p")
    store.commit(_mk(spark, [(1, "a", 10), (1, "b", 30), (2, "a", 20)]))
    keys = spark.createDataFrame([Row(k=1, p="a")])
    n = store.redact(spark, ["k", "p"], keys)
    assert n == 1  # only p=a/v=1 rewritten; (1, b) survives
    assert _rows(store.read(spark, 1)) == [(1, "b", 30), (2, "a", 20)]


def test_redact_fully_emptied_version_reads_as_zero_rows(spark, tmp_path):
    # r8 ADVICE (low): redacting every row of a version must leave the
    # version readable as an empty frame with the committed schema —
    # not raise — per redact's own time-travel contract.
    store = SnapshotStore(str(tmp_path / "t"), "p")
    store.commit(_mk(spark, [(1, "a", 10), (2, "b", 20)]))
    store.redact(spark, ["k"], _mk(spark, [(1, "x", 0), (2, "x", 0)]).select("k"))
    got = store.read(spark, 1)
    assert got.count() == 0
    assert sorted(got.columns) == ["k", "p", "val"]


def test_redact_probe_is_one_job_not_one_per_dir(spark, tmp_path):
    # r7 verdict: redact must launch O(hits) jobs after ONE batched
    # probe, not one probe job per referenced directory. Eight
    # referenced dirs, one hit: job count must stay far below the
    # per-dir regime (>= 9 jobs before the batching).
    store = SnapshotStore(str(tmp_path / "t"), "p")
    store.commit(_mk(spark, [(i, p, i) for i in (1, 2) for p in "abcd"]))  # v1: 4 dirs
    store.upsert(spark, _mk(spark, [(9, p, 9) for p in "abcd"]), ["k"])   # v2: 4 dirs
    sc = spark.sparkContext
    sc.setJobGroup("redact-probe", "job-count audit")
    try:
        n = store.redact(spark, ["k"], _mk(spark, [(9, "x", 0)]).select("k"))
        jobs = sc.statusTracker().getJobIdsForGroup("redact-probe")
    finally:
        sc.setJobGroup("", "")
    assert n == 4  # k=9 lives in all four v=2 dirs
    # Constant-job regime: footer/listing + broadcast + probe-collect
    # + ONE partitioned rewrite write (a handful of AQE sub-jobs),
    # independent of both #dirs and #hits. Measured 8 on local[32];
    # the pre-batching shape paid >= 8 probe jobs before any rewrite
    # and ~4 more per hit (21 total on this exact store).
    assert len(jobs) <= 9, jobs


def test_with_commit_retries_lands_both_racing_writes(spark, tmp_path):
    # The commit-retry loop completes the CAS story: a write that
    # loses the race retries against the racer's published version,
    # so BOTH writes land (Iceberg's commit-retry semantics). The
    # race is staged deterministically: writer A's first attempt has
    # writer B publish between A's manifest read and A's publish.
    from karna_spark.io.snapshots import (
        ConcurrentWriteError,
        with_commit_retries,
    )

    store = SnapshotStore(str(tmp_path / "t"), "p")
    store.commit(_mk(spark, [(1, "a", 10), (3, "b", 30)]))  # v1
    attempts = []

    def racing_upsert():
        attempts.append(1)
        if len(attempts) == 1:
            # First attempt: replay the loss manually — claim, write,
            # then B publishes, then A's CAS publish must refuse.
            va = store._claim_version()
            prev = store.latest_version()
            store._write(_mk(spark, [(1, "a", 11)]), va)
            store.upsert(spark, _mk(spark, [(3, "b", 31)]), ["k"])  # B wins
            store._publish(va, {"a": va, "b": 1}, base_version=prev)
            raise AssertionError("CAS publish must have raised")
        return store.upsert(spark, _mk(spark, [(1, "a", 11)]), ["k"])

    v = with_commit_retries(racing_upsert, retries=2)
    assert len(attempts) == 2
    assert _rows(store.read(spark, v)) == [(1, "a", 11), (3, "b", 31)]

    # Exhausted retries re-raise.
    import pytest

    def always_loses():
        raise ConcurrentWriteError("staged")

    with pytest.raises(ConcurrentWriteError):
        with_commit_retries(always_loses, retries=1, backoff_sec=0.0)


def test_random_storage_op_interleavings_match_model(spark, tmp_path):
    """Model-based interleaving gate (r7 verdict item 8): a seeded
    random program of commit / upsert / apply_changes / redact /
    vacuum, checked after EVERY op against a pure-Python model of the
    whole version history. The pairwise tests above cover each op
    against its neighbor; this covers the compositions they can't —
    e.g. redact repointing a manifest at a fresh physical version and
    a vacuum then having to treat that unpublished-but-referenced dir
    as live, or a CDC delete emptying a partition that a later redact
    probes. Every retained version must read back exactly the model's
    mapping for it; every expired version must fail loudly."""
    import random

    import pytest

    for seed in (11, 23):
        random.seed(seed)
        root = str(tmp_path / f"t{seed}")
        store = SnapshotStore(root, "p")
        key_part = {k: "abc"[k % 3] for k in range(1, 9)}  # immutable

        def frame(rows):  # rows: {k: val}
            return _mk(spark, [(k, key_part[k], v) for k, v in rows.items()])

        # model: published version -> {k: val}; retained: readable set
        hist: dict[int, dict[int, int]] = {}
        first = {k: random.randrange(100) for k in random.sample(range(1, 9), 5)}
        hist[store.commit(frame(first))] = dict(first)
        retained = set(hist)
        pins: dict[str, int] = {}  # model of the tag namespace
        # model of the branch namespace: name -> {fork, v1, head}
        brs: dict[str, dict] = {}

        def check():
            for v in sorted(hist):
                if v in retained:
                    got = sorted(
                        (r["k"], r["p"], r["val"])
                        for r in store.read(spark, v).collect()
                    )
                    want = sorted(
                        (k, key_part[k], val) for k, val in hist[v].items()
                    )
                    assert got == want, f"seed={seed} v={v}"
                    # S32: the manifest count must agree with the
                    # model whenever it is willing to answer (no
                    # pending MOR deletes — then it must refuse)
                    if not store._manifest_doc(v).get("deletes"):
                        assert store.count_rows(version=v) == len(
                            hist[v]
                        ), f"seed={seed} v={v} manifest count"
                else:
                    with pytest.raises(FileNotFoundError):
                        store.read(spark, v)

        for _ in range(16):
            op = random.choice(
                ["commit", "upsert", "cdc", "redact", "vacuum", "tag",
                 "untag", "mkbranch", "brwrite", "merge", "delbranch",
                 "mordelete", "brmordelete", "eqdelete", "breqdelete",
                 "smerge", "rollback"]
            )
            prev = hist[max(v for v in hist if v in retained)]
            if op == "commit":
                rows = {
                    k: random.randrange(100)
                    for k in random.sample(range(1, 9), random.randint(1, 6))
                }
                hist[store.commit(frame(rows))] = dict(rows)
                retained.add(max(hist))
            elif op == "upsert":
                rows = {
                    k: random.randrange(100)
                    for k in random.sample(range(1, 9), random.randint(1, 4))
                }
                v = store.upsert(spark, frame(rows), ["k"])
                hist[v] = {**prev, **rows}
                retained.add(v)
            elif op == "cdc":
                ks = random.sample(range(1, 9), random.randint(1, 4))
                ch = [
                    (k, random.choice("IUD"), random.randrange(100))
                    for k in ks
                ]
                cdf = spark.createDataFrame(
                    [
                        Row(k=k, p=key_part[k], val=v, op=o)
                        for k, o, v in ch
                    ]
                )
                v = store.apply_changes(spark, cdf, ["k"])
                nxt = dict(prev)
                for k, o, val in ch:
                    nxt.pop(k, None)
                    if o != "D":
                        nxt[k] = val
                hist[v] = nxt
                retained.add(v)
            elif op == "redact":
                ks = random.sample(range(1, 9), random.randint(1, 2))
                store.redact(spark, ["k"], _mk(
                    spark, [(k, key_part[k], 0) for k in ks]
                ))
                for v in hist:
                    if v in retained:
                        for k in ks:
                            hist[v].pop(k, None)
                for b in brs.values():  # branch chains are covered too
                    for k in ks:
                        b["v1"].pop(k, None)
                        b["head"].pop(k, None)
            elif op == "vacuum":
                keep = random.randint(1, 3)
                store.vacuum(retain_last=keep, orphan_grace_sec=0.0)
                live = sorted(v for v in hist if v in retained)[-keep:]
                # Iceberg tag semantics: pinned versions survive expiry.
                retained = set(live) | set(pins.values())
            elif op == "tag":
                name = random.choice(["rel-a", "rel-b"])
                v = random.choice(sorted(v for v in hist if v in retained))
                store.tag(name, version=v)
                pins[name] = v
            elif op == "untag":
                if pins:
                    name = random.choice(sorted(pins))
                    store.delete_tag(name)
                    del pins[name]
            elif op == "mkbranch":
                name = random.choice(["wap", "dev"])
                latest = max(v for v in hist if v in retained)
                if name in brs:
                    with pytest.raises(ValueError):
                        store.create_branch(name)
                else:
                    store.create_branch(name)
                    brs[name] = {
                        "fork": latest,
                        "v1": dict(hist[latest]),
                        "head": dict(hist[latest]),
                    }
            elif op == "brwrite":
                if brs:
                    name = random.choice(sorted(brs))
                    rows = {
                        k: random.randrange(100)
                        for k in random.sample(range(1, 9), random.randint(1, 3))
                    }
                    store.branch(name).upsert(spark, frame(rows), ["k"])
                    brs[name]["head"].update(rows)
            elif op == "merge":
                if brs:
                    name = random.choice(sorted(brs))
                    latest = max(v for v in hist if v in retained)
                    if latest == brs[name]["fork"]:
                        v = store.merge_branch(name)
                        hist[v] = dict(brs[name]["head"])
                        retained.add(v)
                        # fork base advances to the published merge:
                        # the branch stays mergeable until the parent
                        # diverges again (r9 ADVICE).
                        brs[name]["fork"] = v
                    else:  # diverged parent: fast-forward refused
                        with pytest.raises(ConcurrentWriteError):
                            store.merge_branch(name)
            elif op == "delbranch":
                if brs:
                    name = random.choice(sorted(brs))
                    store.delete_branch(name)
                    del brs[name]
            elif op == "mordelete":
                thresh = random.randrange(100)
                v = store.delete_where(spark, f"val < {thresh}")
                hist[v] = {
                    k: val for k, val in prev.items() if val >= thresh
                }
                retained.add(v)
            elif op == "brmordelete":
                if brs:
                    name = random.choice(sorted(brs))
                    thresh = random.randrange(100)
                    store.branch(name).delete_where(spark, f"val < {thresh}")
                    brs[name]["head"] = {
                        k: val
                        for k, val in brs[name]["head"].items()
                        if val >= thresh
                    }
            elif op == "rollback":
                # S34: restore an older retained version's content as
                # a NEW head; history stays intact
                live = sorted(v for v in hist if v in retained)
                tgt = random.choice(live)
                if tgt == max(live):
                    with pytest.raises(ValueError):
                        store.rollback(tgt)
                else:
                    v = store.rollback(tgt)
                    hist[v] = dict(hist[tgt])
                    retained.add(v)
            elif op == "smerge":
                # S33 MERGE INTO: matched rows whose target val is
                # under a threshold are deleted, other matches updated
                # to the source image, unmatched sources inserted —
                # the three-clause Delta shape with a live condition
                rows = {
                    k: random.randrange(100)
                    for k in random.sample(range(1, 9), random.randint(1, 5))
                }
                thresh = random.randrange(100)
                v = store.merge(
                    spark,
                    frame(rows),
                    ["k"],
                    matched_delete_cond=f"t.val < {thresh}",
                )
                nxt = dict(prev)
                for k, val in rows.items():
                    if k in nxt and nxt[k] < thresh:
                        nxt.pop(k)
                    else:
                        nxt[k] = val
                hist[v] = nxt
                retained.add(v)
            elif op == "eqdelete":
                # S31: equality delete by key — existing rows with a
                # matching key vanish (all carry _rv < the delete id);
                # later upserts of the same key survive (the model's
                # hist update covers that path naturally)
                ks = random.sample(range(1, 9), random.randint(1, 3))
                v = store.delete_keys(spark, "k", ks)
                hist[v] = {
                    k: val for k, val in prev.items() if k not in ks
                }
                retained.add(v)
            elif op == "breqdelete":
                if brs:
                    name = random.choice(sorted(brs))
                    ks = random.sample(range(1, 9), random.randint(1, 3))
                    store.branch(name).delete_keys(spark, "k", ks)
                    brs[name]["head"] = {
                        k: val
                        for k, val in brs[name]["head"].items()
                        if k not in ks
                    }
            assert store.branches() == sorted(brs)
            for name, b in brs.items():
                got_br = store.branch(name)
                assert _rows(got_br.read(spark)) == sorted(
                    (k, key_part[k], val) for k, val in b["head"].items()
                ), f"seed={seed} branch={name} head"
                assert _rows(got_br.read(spark, version=1)) == sorted(
                    (k, key_part[k], val) for k, val in b["v1"].items()
                ), f"seed={seed} branch={name} v1"
            assert store.tags() == pins
            for name, v in pins.items():
                got = sorted(
                    (r["k"], r["p"], r["val"])
                    for r in store.read(spark, tag=name).collect()
                )
                want = sorted(
                    (k, key_part[k], val) for k, val in hist[v].items()
                )
                assert got == want, f"seed={seed} tag={name}->v{v}"
            check()


def test_manifest_stats_prune_skips_partitions(spark, tmp_path):
    # S20: per-partition min/max bounds land in the manifest at commit
    # and a bounded read must drop non-intersecting partitions BEFORE
    # listing their files — data skipping on a NON-partition column.
    store = SnapshotStore(str(tmp_path / "t"), "p")
    store.commit(_mk(spark, [
        (1, "a", 10), (2, "a", 19),
        (3, "b", 30), (4, "b", 39),
        (5, "c", 50),
    ]))
    st = store._manifest_doc(1)["stats"]
    assert st["a"]["val"] == [10, 19] and st["c"]["val"] == [50, 50]
    df = store.read(spark, where=("val", 25, 45))
    files = df.inputFiles()
    assert files and all("/p=b/" in f for f in files), files
    assert _rows(df) == [(3, "b", 30), (4, "b", 39)]
    # The residual BETWEEN stays exact inside a surviving partition.
    assert _rows(store.read(spark, where=("val", 30, 35))) == [(3, "b", 30)]


def test_manifest_stats_inherit_and_refresh_on_upsert(spark, tmp_path):
    # An incremental write recomputes bounds for the partitions it
    # rewrites and carries forward the untouched partitions' bounds.
    store = SnapshotStore(str(tmp_path / "t"), "p")
    store.commit(_mk(spark, [(1, "a", 10), (3, "b", 30)]))
    store.upsert(spark, _mk(spark, [(1, "a", 99)]), ["k"])
    st = store._manifest_doc(2)["stats"]
    assert st["a"]["val"] == [99, 99]  # refreshed
    assert st["b"]["val"] == [30, 30]  # inherited pointer, inherited bounds
    # v1's own stats are untouched (time travel prunes with v1 bounds).
    assert store._manifest_doc(1)["stats"]["a"]["val"] == [10, 10]
    assert _rows(store.read(spark, where=("val", 90, 100))) == [(1, "a", 99)]


def test_stats_prune_stays_exact_after_redact(spark, tmp_path):
    # Redact rewrites directories without re-tightening bounds: the
    # stored range becomes a superset, which must only ever FAIL to
    # prune — a bounded read after redact returns exactly the live
    # rows in range.
    store = SnapshotStore(str(tmp_path / "t"), "p")
    store.commit(_mk(spark, [(1, "a", 10), (2, "a", 45), (3, "b", 30)]))
    store.redact(spark, ["k"], _mk(spark, [(2, "a", 0)]))
    assert _rows(store.read(spark, where=("val", 40, 60))) == []
    assert _rows(store.read(spark, where=("val", 5, 35))) == [
        (1, "a", 10), (3, "b", 30)]


def test_tags_pin_versions_through_vacuum(spark, tmp_path):
    # S22: Iceberg tag semantics — a tagged snapshot survives history
    # expiry regardless of retain_last, reads back by name, and is
    # collected once the tag is deleted.
    import pytest

    store = SnapshotStore(str(tmp_path / "t"), "p")
    store.commit(_mk(spark, [(1, "a", 10)]))            # v1
    store.upsert(spark, _mk(spark, [(1, "a", 11)]), ["k"])  # v2
    store.upsert(spark, _mk(spark, [(1, "a", 12)]), ["k"])  # v3
    store.tag("release-1", version=1)
    store.vacuum(retain_last=1, orphan_grace_sec=0.0)
    # v1 pinned by the tag, v2 expired, v3 retained.
    assert _rows(store.read(spark, tag="release-1")) == [(1, "a", 10)]
    assert _rows(store.read(spark)) == [(1, "a", 12)]
    with pytest.raises(FileNotFoundError):
        store.read(spark, 2)
    assert store.tags() == {"release-1": 1}
    store.delete_tag("release-1")
    store.vacuum(retain_last=1, orphan_grace_sec=0.0)
    with pytest.raises(FileNotFoundError):
        store.read(spark, 1)


def test_tag_validation(spark, tmp_path):
    import pytest

    store = SnapshotStore(str(tmp_path / "t"), "p")
    store.commit(_mk(spark, [(1, "a", 10)]))
    with pytest.raises(ValueError):
        store.tag("bad/name")
    with pytest.raises(ValueError):
        store.tag("ok", version=99)  # unpublished
    store.tag("ok")
    with pytest.raises(ValueError):
        store.read(spark, version=1, tag="ok")  # mutually exclusive


# ------------------------------------------------------- compaction
def _files_in(store, val, v):
    return [
        f for f in os.listdir(store._pdir(val, v)) if f.endswith(".parquet")
    ]


def test_compact_collapses_files_content_identical(spark, tmp_path):
    """S23: a fragmented latest version compacts to ONE file per
    partition in a new commit with byte-identical logical content;
    prior versions keep reading their own (uncompacted) directories."""
    # distribution='none' (also the default) named explicitly: 'hash'
    # would cluster every write by partition value and defeat the
    # deliberate fragmentation this test compacts away.
    store = SnapshotStore(str(tmp_path / "t"), "p", distribution="none")
    # Fragment on purpose: an 8-task write fans each partition's rows
    # across up to 8 files.
    base = _mk(
        spark,
        [(k, "a" if k % 2 else "b", k * 10) for k in range(1, 17)],
    ).repartition(8)
    store.commit(base)
    assert len(_files_in(store, "a", 1)) > 1  # genuinely fragmented
    before = _rows(store.read(spark))

    v = store.compact(spark)
    assert v == 2
    for val in ("a", "b"):
        assert len(_files_in(store, val, 2)) == 1, val
    assert _rows(store.read(spark)) == before          # content identical
    assert _rows(store.read(spark, 1)) == before       # time travel intact
    # stats were recomputed from the new footers (pruning still works)
    doc = store._manifest_doc(2)
    assert doc["partitions"] == {"a": 2, "b": 2}
    assert "val" in doc["stats"]["a"]


def test_hash_distribution_clusters_write_files(spark, tmp_path):
    """The 'hash' write distribution (Iceberg's
    write.distribution-mode) rebalances rows by partition value before
    the dynamic-partition write, so a many-task input lands as ~one
    file per partition instead of one file per (task × value);
    distribution='none' (the local default) preserves the input
    fan-out. Content is identical either way."""
    data = [(k, "a" if k % 2 else "b", k * 10) for k in range(1, 17)]
    frag = _mk(spark, data).repartition(8)

    hash_store = SnapshotStore(str(tmp_path / "h"), "p", distribution="hash")
    hash_store.commit(frag)
    for val in ("a", "b"):
        assert len(_files_in(hash_store, val, 1)) == 1, val

    none_store = SnapshotStore(
        str(tmp_path / "n"), "p", distribution="none"
    )
    none_store.commit(frag)
    assert len(_files_in(none_store, "a", 1)) > 1

    assert _rows(hash_store.read(spark)) == _rows(none_store.read(spark))

    import pytest

    with pytest.raises(ValueError, match="distribution"):
        SnapshotStore(str(tmp_path / "x"), "p", distribution="range")


def test_compact_partition_subset_inherits_pointers(spark, tmp_path):
    store = SnapshotStore(str(tmp_path / "t"), "p")
    store.commit(
        _mk(spark, [(1, "a", 10), (2, "b", 20), (3, "c", 30)]).repartition(4)
    )
    before = _rows(store.read(spark))
    v = store.compact(spark, partition_values=["b"])
    m = store._manifest(v)
    assert m["b"] == v and m["a"] == 1 and m["c"] == 1
    assert _rows(store.read(spark)) == before
    # compacting a partition that does not exist refuses loudly
    import pytest

    with pytest.raises(ValueError):
        store.compact(spark, partition_values=["zzz"])


def test_compact_cas_detects_racing_commit(spark, tmp_path):
    """A writer that lands between compact's read and publish must not
    be silently dropped: the CAS publish rolls the compaction back."""
    import pytest

    from karna_spark.io.snapshots import ConcurrentWriteError

    store = SnapshotStore(str(tmp_path / "t"), "p")
    store.commit(_mk(spark, [(1, "a", 10), (2, "b", 20)]))

    real_write = store._write

    def write_then_race(df, v, order_by=None, spec_col=None, **kw):
        written = real_write(df, v, order_by=order_by, spec_col=spec_col, **kw)
        # interleave a commit AFTER compact derived its manifest
        SnapshotStore(store.root, "p").upsert(
            spark, _mk(spark, [(9, "a", 90)]), ["k"]
        )
        return written

    store._write = write_then_race
    try:
        with pytest.raises(ConcurrentWriteError):
            store.compact(spark)
    finally:
        store._write = real_write
    # the racer's row survived; the rolled-back compaction is invisible
    assert (9, "a", 90) in _rows(store.read(spark))


# --------------------------------------------------- changelog read
def test_read_changes_classifies_and_prunes(spark, tmp_path):
    """S24: I/U/D classification against a hand-built change, and the
    manifest prune — partitions whose pointers are identical in both
    manifests must never be scanned (no file from partition c in the
    plan's input set)."""
    store = SnapshotStore(str(tmp_path / "t"), "p")
    store.commit(
        _mk(spark, [(1, "a", 10), (2, "a", 20), (3, "b", 30), (4, "c", 40)])
    )
    ch = spark.createDataFrame(
        [
            Row(k=2, p="a", val=21, op="U"),   # update
            Row(k=3, p="b", val=30, op="D"),   # delete
            Row(k=5, p="a", val=50, op="I"),   # insert
        ]
    )
    store.apply_changes(spark, ch, key_cols=["k"])
    out = store.read_changes(spark, 1, 2, key_cols=["k"])
    got = sorted((r["op"], r["k"], r["p"], r["val"]) for r in out.collect())
    assert got == [
        ("D", 3, "b", 30),   # delete carries the OLD image
        ("I", 5, "a", 50),
        ("U", 2, "a", 21),   # update carries the NEW image
    ]
    # untouched partition c is pruned before any file listing
    assert not any("p=c" in f for f in out.inputFiles()), out.inputFiles()


def test_read_changes_roundtrip_reproduces_target(spark, tmp_path):
    """Applying read_changes(v_from, v_to) to a store positioned at
    v_from's content must reproduce v_to exactly — for every
    consecutive version pair in a mixed upsert/CDC history."""
    store = SnapshotStore(str(tmp_path / "t"), "p")
    store.commit(_mk(spark, [(1, "a", 10), (2, "b", 20), (3, "b", 30)]))
    store.upsert(spark, _mk(spark, [(1, "a", 11), (4, "a", 40)]), ["k"])
    store.apply_changes(
        spark,
        spark.createDataFrame(
            [Row(k=2, p="b", val=0, op="D"), Row(k=3, p="b", val=33, op="U")]
        ),
        key_cols=["k"],
    )
    for v_from, v_to in [(1, 2), (2, 3), (1, 3)]:
        log = store.read_changes(spark, v_from, v_to, key_cols=["k"])
        replay = SnapshotStore(str(tmp_path / f"r{v_from}{v_to}"), "p")
        replay.commit(store.read(spark, version=v_from))
        if log.take(1):
            replay.apply_changes(spark, log, key_cols=["k"])
        assert _rows(replay.read(spark)) == _rows(
            store.read(spark, version=v_to)
        ), (v_from, v_to)


def test_read_changes_refuses_schema_drift(spark, tmp_path):
    import pytest

    store = SnapshotStore(str(tmp_path / "t"), "p")
    store.commit(_mk(spark, [(1, "a", 10)]))
    store.commit(
        spark.createDataFrame([Row(k=1, p="a", val=10, extra="x")])
    )
    with pytest.raises(ValueError, match="schema changed"):
        store.read_changes(spark, 1, 2, key_cols=["k"])


def test_compact_order_by_sorts_rows_within_file(spark, tmp_path):
    """compact(order_by=...) is Iceberg's sort-order rewrite: content
    identical, but rows inside each rewritten file are clustered on
    the sort columns (read back in file order without a sort, the
    values must be monotone)."""
    store = SnapshotStore(str(tmp_path / "t"), "p")
    rows = [(k, "a", (k * 37) % 100) for k in range(1, 65)]
    store.commit(_mk(spark, rows).repartition(8))
    before = _rows(store.read(spark))
    v = store.compact(spark, order_by=["val"])
    assert _rows(store.read(spark, version=v)) == before
    d = store._pdir("a", v)
    files = sorted(f for f in os.listdir(d) if f.endswith(".parquet"))
    assert len(files) == 1
    vals = [
        r["val"]
        for r in spark.read.parquet(os.path.join(d, files[0])).collect()
    ]
    assert vals == sorted(vals)


def test_change_feed_emits_update_preimages(spark, tmp_path):
    """S25: the CDF-shaped feed doubles updates into U- (old image) /
    U+ (new image), keeps I with the new and D with the old image,
    and inherits the manifest prune (untouched partition never
    scanned)."""
    store = SnapshotStore(str(tmp_path / "t"), "p")
    store.commit(
        _mk(spark, [(1, "a", 10), (2, "a", 20), (3, "b", 30), (4, "c", 40)])
    )
    ch = spark.createDataFrame(
        [
            Row(k=2, p="a", val=21, op="U"),
            Row(k=3, p="b", val=30, op="D"),
            Row(k=5, p="a", val=50, op="I"),
        ]
    )
    store.apply_changes(spark, ch, key_cols=["k"])
    out = store.read_change_feed(spark, 1, 2, key_cols=["k"])
    got = sorted((r["op"], r["k"], r["p"], r["val"]) for r in out.collect())
    assert got == [
        ("D", 3, "b", 30),
        ("I", 5, "a", 50),
        ("U+", 2, "a", 21),
        ("U-", 2, "a", 20),
    ]
    assert not any("p=c" in f for f in out.inputFiles()), out.inputFiles()


def test_mv_apply_feed_matches_recompute(spark, tmp_path):
    """S25: incremental maintenance ≡ recompute, including the two
    cases the counting algorithm exists for — an update that MOVES a
    row across groups (retract from the old group, add to the new)
    and a group whose last row is deleted (dropped via the
    maintained count, which a sum-only view could not decide)."""
    from karna_spark.operators.mv import apply_feed, grouped_mv

    store = SnapshotStore(str(tmp_path / "t"), "p")
    store.commit(
        _mk(spark, [(1, "a", 10), (2, "a", 20), (3, "b", 30), (4, "c", 40)])
    )
    ch = spark.createDataFrame(
        [
            Row(k=3, p="a", val=31, op="U"),   # moves b -> a
            Row(k=4, p="c", val=40, op="D"),   # empties group c
            Row(k=5, p="a", val=50, op="I"),
        ]
    )
    store.apply_changes(spark, ch, key_cols=["k"])
    mv = grouped_mv(store.read(spark, version=1), ["p"], ["val"])
    feed = store.read_change_feed(spark, 1, 2, key_cols=["k"])
    refreshed = apply_feed(mv, feed, ["p"], ["val"])
    recomputed = grouped_mv(store.read(spark, version=2), ["p"], ["val"])
    key = lambda r: (r["p"], r["mv_count"], r["val_sum"])  # noqa: E731
    assert sorted(map(key, refreshed.collect())) == sorted(
        map(key, recomputed.collect())
    )
    assert not any(r["p"] == "c" for r in refreshed.collect())


def test_branch_write_audit_publish_cycle(spark, tmp_path):
    """S26: fork a branch, mutate it (commit + CDC apply), verify the
    parent is untouched, fast-forward merge, verify the parent now
    serves the branch head — the WAP cycle. Branch v1 is a pointer
    copy (no data rewritten: parent's physical dirs appear in the
    branch read's inputFiles)."""
    store = SnapshotStore(str(tmp_path / "t"), "p")
    store.commit(_mk(spark, [(1, "a", 10), (2, "b", 20)]))
    br = store.create_branch("audit")
    assert _rows(br.read(spark, version=1)) == _rows(store.read(spark))
    ch = spark.createDataFrame(
        [Row(k=2, p="b", val=21, op="U"), Row(k=3, p="a", val=30, op="I")]
    )
    br.apply_changes(spark, ch, key_cols=["k"])
    # parent unchanged, branch advanced
    assert _rows(store.read(spark)) == [(1, "a", 10), (2, "b", 20)]
    assert _rows(br.read(spark)) == [(1, "a", 10), (2, "b", 21), (3, "a", 30)]
    v = store.merge_branch("audit")
    assert _rows(store.read(spark, version=v)) == [
        (1, "a", 10),
        (2, "b", 21),
        (3, "a", 30),
    ]
    # merge was a pointer copy: parent head and branch head share dirs
    assert set(store.read(spark).inputFiles()) == set(br.read(spark).inputFiles())


def test_branch_merge_refuses_diverged_parent(spark, tmp_path):
    """S26: fast-forward-only — a parent that advanced after the fork
    makes merge_branch raise instead of silently dropping the
    interleaved commit."""
    store = SnapshotStore(str(tmp_path / "t"), "p")
    store.commit(_mk(spark, [(1, "a", 10)]))
    store.create_branch("dev")
    store.upsert(spark, _mk(spark, [(2, "a", 20)]), key_cols=["k"])
    try:
        store.merge_branch("dev")
        raise AssertionError("merge of diverged parent must raise")
    except ConcurrentWriteError:
        pass


def test_branch_pins_data_through_parent_vacuum(spark, tmp_path):
    """S26: parent vacuum keeps every dir a live branch references —
    both fork-inherited dirs whose parent versions expired and the
    branch's own unmerged writes; delete_branch releases them."""
    store = SnapshotStore(str(tmp_path / "t"), "p")
    store.commit(_mk(spark, [(1, "a", 10), (2, "b", 20)]))
    br = store.create_branch("dev")
    br.upsert(spark, _mk(spark, [(3, "c", 30)]), key_cols=["k"])
    # parent moves on twice so v1 would normally expire
    store.commit(_mk(spark, [(4, "d", 40)]))
    store.commit(_mk(spark, [(5, "e", 50)]))
    store.vacuum(retain_last=1, orphan_grace_sec=0.0)
    assert _rows(br.read(spark)) == [(1, "a", 10), (2, "b", 20), (3, "c", 30)]
    store.delete_branch("dev")
    deleted = store.vacuum(retain_last=1, orphan_grace_sec=0.0)
    assert deleted  # the branch-only dirs are collected now
    assert _rows(store.read(spark)) == [(5, "e", 50)]


def test_branch_guards(spark, tmp_path):
    """S26: nested branches, duplicate names, branch-scope vacuum and
    redact, and branching an unpublished version all refuse loudly."""
    store = SnapshotStore(str(tmp_path / "t"), "p")
    store.commit(_mk(spark, [(1, "a", 10)]))
    br = store.create_branch("dev")
    for fn in (
        lambda: store.create_branch("dev"),
        lambda: br.create_branch("sub"),
        lambda: br.vacuum(),
        lambda: br.redact(spark, ["k"], _mk(spark, [(1, "a", 10)])),
        lambda: store.create_branch("x", version=99),
        lambda: store.branch("nope"),
    ):
        try:
            fn()
            raise AssertionError("expected ValueError")
        except ValueError:
            pass


def test_parent_redact_covers_branch_chain(spark, tmp_path):
    """S26×S15: right-to-be-forgotten through the parent erases the
    key from BRANCH versions too (shared dirs are repointed in the
    same pass, branch manifests republished — no dangling pointers,
    no readable erased rows), including rows the branch itself wrote."""
    store = SnapshotStore(str(tmp_path / "t"), "p")
    store.commit(_mk(spark, [(1, "a", 10), (2, "b", 20)]))
    br = store.create_branch("dev")
    br.upsert(spark, _mk(spark, [(1, "a", 11), (3, "c", 30)]), key_cols=["k"])
    store.redact(spark, ["k"], _mk(spark, [(1, "a", 0)]))
    assert _rows(store.read(spark)) == [(2, "b", 20)]
    assert _rows(br.read(spark, version=1)) == [(2, "b", 20)]
    assert _rows(br.read(spark)) == [(2, "b", 20), (3, "c", 30)]


# ------------------------------------------------- S27: merge-on-read


def test_mor_delete_rewrites_no_data_files(spark, tmp_path):
    """S27 core contract: delete_where publishes a new version whose
    partition POINTERS are byte-identical to the base (no data file
    written or rewritten — only a delete file), the latest read
    excludes the rows, and the base version still serves them."""
    store = SnapshotStore(str(tmp_path / "t"), "p")
    store.commit(_mk(spark, [(1, "a", 10), (2, "a", 20), (3, "b", 30)]))
    files_v1 = sorted(glob.glob(f"{store.data}/p=*/**/*.parquet", recursive=True))
    v2 = store.delete_where(spark, "val >= 20")
    assert v2 == 2
    files_v2 = sorted(glob.glob(f"{store.data}/p=*/**/*.parquet", recursive=True))
    assert files_v2 == files_v1, "MOR delete must not touch data files"
    assert store._manifest(2) == store._manifest(1)
    (entry,) = store._manifest_doc(2)["deletes"]
    assert entry["id"] == 2 and entry["partitions"] == ["a", "b"]
    assert entry["bytes"] > 0  # recorded once for the broadcast gate
    assert _rows(store.read(spark)) == [(1, "a", 10)]
    assert _rows(store.read(spark, version=1)) == [
        (1, "a", 10), (2, "a", 20), (3, "b", 30)
    ]


def test_mor_delete_zero_matches_is_noop_version(spark, tmp_path):
    store = SnapshotStore(str(tmp_path / "t"), "p")
    store.commit(_mk(spark, [(1, "a", 10)]))
    v2 = store.delete_where(spark, "val > 99")
    assert "deletes" not in store._manifest_doc(v2)
    assert _rows(store.read(spark)) == [(1, "a", 10)]
    assert not os.path.isdir(store._ddir(v2))


def test_mor_delete_zero_matches_keeps_base_deletes(spark, tmp_path):
    store = SnapshotStore(str(tmp_path / "t"), "p")
    store.commit(_mk(spark, [(1, "a", 10), (2, "b", 20)]))
    v2 = store.delete_where(spark, "val = 10")
    v3 = store.delete_where(spark, "val > 99")
    assert store._manifest_doc(v3)["deletes"] == store._manifest_doc(v2)["deletes"]
    assert store._manifest_doc(v3)["op"] == "delete"
    assert not os.path.isdir(store._ddir(v3))
    assert _rows(store.read(spark)) == [(2, "b", 20)]


def test_mor_carry_forward_prunes_to_inherited_partitions(spark, tmp_path):
    """A later copy-on-write commit folds the deletes into the
    partitions it rewrites (fresh files, fresh row ids) and carries
    the entries forward pruned to still-inherited partitions; a full
    compact retires them entirely; vacuum then GCs the delete set."""
    store = SnapshotStore(str(tmp_path / "t"), "p")
    store.commit(
        _mk(spark, [(1, "a", 10), (2, "a", 20), (3, "b", 30), (4, "b", 40)])
    )
    store.delete_where(spark, "val IN (10, 30)")  # touches a AND b
    # v3: upsert rewrites partition a -> entry pruned to b only.
    store.upsert(spark, _mk(spark, [(5, "a", 50)]), ["k"])
    (entry,) = store._manifest_doc(3)["deletes"]
    assert entry["id"] == 2 and entry["partitions"] == ["b"]
    assert entry["bytes"] > 0  # size survives the COW carry
    assert _rows(store.read(spark)) == [(2, "a", 20), (4, "b", 40), (5, "a", 50)]
    # v4: full compact reads through the deletes and clears entries.
    v4 = store.compact(spark)
    assert "deletes" not in store._manifest_doc(v4)
    assert _rows(store.read(spark)) == [(2, "a", 20), (4, "b", 40), (5, "a", 50)]
    # Only v4 retained -> the delete set is unreferenced garbage.
    gone = store.vacuum(retain_last=1, orphan_grace_sec=0.0)
    assert any(d.startswith("_deletes/") for d in gone)
    assert not os.path.isdir(os.path.join(store.data, "_deletes", "d=2"))
    assert _rows(store.read(spark)) == [(2, "a", 20), (4, "b", 40), (5, "a", 50)]


def test_mor_deletions_survive_redact_rewrite(spark, tmp_path):
    """Redact rewrites hit dirs by COPYING surviving rows — row
    identity (_rv,_rid) is stored in the files, so rows deleted
    merge-on-read stay deleted after their directory is rewritten
    (physical-position keying would resurrect them here)."""
    store = SnapshotStore(str(tmp_path / "t"), "p")
    store.commit(_mk(spark, [(1, "a", 10), (2, "a", 20), (3, "a", 30)]))
    store.delete_where(spark, "k = 2")  # MOR-delete k=2 in partition a
    store.redact(spark, ["k"], _mk(spark, [(3, "a", 0)]))  # rewrites dir a
    assert _rows(store.read(spark, version=1)) == [(1, "a", 10), (2, "a", 20)]
    assert _rows(store.read(spark, version=2)) == [(1, "a", 10)]


def test_mor_changelog_emits_deletes_despite_identical_pointers(spark, tmp_path):
    """S27×S24: the changelog prune keys on pointer equality, which a
    MOR delete preserves — the manifest's delete entries record the
    touched partitions so read_changes still emits the D rows."""
    store = SnapshotStore(str(tmp_path / "t"), "p")
    store.commit(_mk(spark, [(1, "a", 10), (2, "a", 20), (3, "b", 30)]))
    store.delete_where(spark, "val >= 20")
    got = sorted(
        (r["op"], r["k"], r["p"], r["val"])
        for r in store.read_changes(spark, 1, 2, ["k"]).collect()
    )
    assert got == [("D", 2, "a", 20), ("D", 3, "b", 30)]


def test_mor_branch_fork_inherits_deletes(spark, tmp_path):
    """S27×S26: a branch forked after a MOR delete serves the
    deleted-row view through the shared delete files; merging a
    branch that itself MOR-deleted fast-forwards the entries."""
    store = SnapshotStore(str(tmp_path / "t"), "p")
    store.commit(_mk(spark, [(1, "a", 10), (2, "a", 20), (3, "b", 30)]))
    store.delete_where(spark, "k = 1")
    br = store.create_branch("wap")
    assert _rows(br.read(spark)) == [(2, "a", 20), (3, "b", 30)]
    br.delete_where(spark, "k = 3")
    assert _rows(br.read(spark)) == [(2, "a", 20)]
    store.merge_branch("wap")
    assert _rows(store.read(spark)) == [(2, "a", 20)]
    # Parent history is untouched below the merge point.
    assert _rows(store.read(spark, version=2)) == [(2, "a", 20), (3, "b", 30)]


def test_reserved_row_identity_columns_refused(spark, tmp_path):
    import pytest

    store = SnapshotStore(str(tmp_path / "t"), "p")
    bad = _mk(spark, [(1, "a", 10)]).withColumn("_rid", F.lit(7))
    with pytest.raises(ValueError, match="reserved"):
        store.commit(bad)


def test_expectations_gate_refuses_bad_branch(spark, tmp_path):
    """A37×S26: the write-audit-publish cycle with a REAL audit — a
    branch whose head violates the expectation suite is refused before
    merge; after the branch fixes the data the suite passes and the
    fast-forward merge publishes it."""
    import pytest

    from karna_spark.operators.expectations import (
        ExpectationError,
        assert_expectations,
        expectation_report,
    )

    suite = [
        {"kind": "not_null", "col": "val"},
        {"kind": "in_range", "col": "val", "lo": 0, "hi": 100},
        {"kind": "unique_key", "cols": ["k"]},
    ]
    store = SnapshotStore(str(tmp_path / "t"), "p")
    store.commit(_mk(spark, [(1, "a", 10), (2, "b", 20)]))
    br = store.create_branch("wap")
    # Audit fails: the branch writes an out-of-range value.
    br.upsert(spark, _mk(spark, [(3, "a", 999)]), ["k"])
    with pytest.raises(ExpectationError, match="in_range:val"):
        assert_expectations(br.read(spark), suite)
    # Fix on the branch; audit passes; publish.
    br.upsert(spark, _mk(spark, [(3, "a", 99)]), ["k"])
    assert_expectations(br.read(spark), suite)
    store.merge_branch("wap")
    assert _rows(store.read(spark)) == [(1, "a", 10), (2, "b", 20), (3, "a", 99)]
    # Report shape: every expectation reports totals and ok=True.
    rep = {
        r["expectation"]: (r["violations"], r["total"], r["ok"])
        for r in expectation_report(store.read(spark), suite).collect()
    }
    assert rep == {
        "not_null:val": (0, 3, True),
        "in_range:val": (0, 3, True),
        "unique_key:k": (0, 3, True),
    }


def test_mor_delete_composes_with_stat_pruning(spark, tmp_path):
    """S27×S20: a bounded read of a version carrying merge-on-read
    deletes still prunes partitions by manifest bounds BEFORE listing
    files (the anti-join runs after the pruned scan), and the delete
    set applies to what survives the prune."""
    store = SnapshotStore(str(tmp_path / "t"), "p")
    store.commit(_mk(spark, [
        (1, "a", 10), (2, "a", 19),
        (3, "b", 30), (4, "b", 39),
        (5, "c", 50),
    ]))
    store.delete_where(spark, "k = 4")
    df = store.read(spark, where=("val", 25, 45))
    data_files = [f for f in df.inputFiles() if "/p=" in f]
    assert data_files and all("/p=b/" in f for f in data_files), data_files
    assert _rows(df) == [(3, "b", 30)]


def test_branch_merge_twice_after_more_commits(spark, tmp_path):
    """r9 ADVICE: a successful merge advances the branch's fork base
    to the published parent version, so a branch that keeps
    committing can be merged AGAIN (previously the stale fork base
    raised ConcurrentWriteError on every second merge even with no
    interleaved writer). A genuinely diverged parent still refuses."""
    store = SnapshotStore(str(tmp_path / "t"), "p")
    store.commit(_mk(spark, [(1, "a", 10)]))
    br = store.create_branch("dev")
    br.upsert(spark, _mk(spark, [(2, "a", 20)]), key_cols=["k"])
    v1 = store.merge_branch("dev")
    assert _rows(store.read(spark, version=v1)) == [(1, "a", 10), (2, "a", 20)]
    # keep working on the SAME branch, merge again
    br = store.branch("dev")
    br.upsert(spark, _mk(spark, [(3, "b", 30)]), key_cols=["k"])
    v2 = store.merge_branch("dev")
    assert _rows(store.read(spark, version=v2)) == [
        (1, "a", 10), (2, "a", 20), (3, "b", 30)]
    # a parent commit after the second merge re-diverges the branch
    store.upsert(spark, _mk(spark, [(4, "a", 40)]), key_cols=["k"])
    try:
        store.merge_branch("dev")
        raise AssertionError("diverged parent must still refuse")
    except ConcurrentWriteError:
        pass


def test_mor_delete_changelog_with_padded_string_partitions(spark, tmp_path):
    """r9 ADVICE: delete_where records touched partitions as RAW
    manifest-key strings even when Spark's partition type inference
    would re-render them ('00123'→'123') — otherwise the changelog's
    MOR prune silently skips the partition and read_changes misses
    the deleted rows."""
    store = SnapshotStore(str(tmp_path / "t"), "p")
    store.commit(_mk(spark, [(1, "00123", 10), (2, "00123", 20), (3, "456", 30)]))
    v = store.delete_where(spark, "val = 10")
    doc = store._manifest_doc(v)
    assert doc["deletes"][0]["partitions"] == ["00123"]
    # r12: read() itself now runs inference-free and casts to the
    # declared type, so the read-back COLUMN matches the manifest keys
    # exactly too (the old 123/456 expectation documented the
    # vanilla-inference rendering this path no longer has)
    assert _rows(store.read(spark)) == [(2, "00123", 20), (3, "456", 30)]
    # the change feed between v1 and v2 must carry the deleted row
    feed = store.read_change_feed(spark, 1, v, key_cols=["k"])
    dels = [(r["k"], r["op"]) for r in feed.collect() if r["op"] == "D"]
    assert dels == [(1, "D")]


def test_redact_padded_string_partition_values(spark, tmp_path):
    """Same inference hazard as delete_where, in redact: the rewrite
    and the manifest repoint must use the RAW directory strings."""
    store = SnapshotStore(str(tmp_path / "t"), "p")
    store.commit(_mk(spark, [(1, "00123", 10), (2, "00123", 20), (3, "456", 30)]))
    keys = spark.createDataFrame([Row(k=1)])
    n = store.redact(spark, ["k"], keys)
    assert n == 1
    # r12: read() now disables partition-type inference and casts to
    # the DECLARED type, so the padded string round-trips exactly (the
    # old expectation (2, 123, ...) encoded the inference corruption)
    assert _rows(store.read(spark)) == [(2, "00123", 20), (3, "456", 30)]
    # manifest keys stay raw; no dangling pointers
    doc = store._manifest_doc(store.latest_version())
    assert set(doc["partitions"]) == {"00123", "456"}


def test_expectations_referential_null_fk_skipped(spark):
    """r9 ADVICE: referential follows dbt/GE relationship semantics —
    a NULL foreign key is SKIPPED, not a violation (pair with
    not_null to fail nulls); and the internal alias must not collide
    with a user column named ``_pk``."""
    from karna_spark.operators.expectations import expectation_report

    fact = spark.createDataFrame(
        [Row(fk=1, _pk="user-col-a"), Row(fk=None, _pk="user-col-b"),
         Row(fk=99, _pk="user-col-c")]
    )
    dim = spark.createDataFrame([Row(pk=1), Row(pk=2)])
    rep = expectation_report(
        fact,
        [{"kind": "referential", "col": "fk", "dim": dim, "dim_col": "pk"},
         {"kind": "not_null", "col": "fk"}],
    ).collect()
    by = {r["expectation"]: (r["violations"], r["total"], r["ok"]) for r in rep}
    # only fk=99 violates referential; the NULL is skipped but counted
    # in total; the NULL is caught by not_null instead
    assert by["referential:fk"] == (1, 3, False)
    assert by["not_null:fk"] == (1, 3, False)


def test_mv_decimal_sums_exact(spark):
    """r9 ADVICE: grouped_mv/apply_feed preserve DECIMAL scale — a
    DECIMAL(18,2) cents column must not be truncated to whole units;
    float sum columns are refused (retraction needs exact inverses)."""
    from decimal import Decimal

    import pytest

    from karna_spark.operators.mv import apply_feed, grouped_mv

    base = spark.createDataFrame(
        [("a", Decimal("1.25")), ("a", Decimal("2.50")), ("b", Decimal("0.75"))],
        "g string, amt decimal(18,2)",
    )
    mv = grouped_mv(base, ["g"], ["amt"])
    got = {r["g"]: (r["mv_count"], r["amt_sum"]) for r in mv.collect()}
    assert got == {"a": (2, Decimal("3.75")), "b": (1, Decimal("0.75"))}
    feed = spark.createDataFrame(
        [("a", Decimal("2.50"), "D"), ("b", Decimal("0.10"), "I"),
         ("c", Decimal("9.99"), "I")],
        "g string, amt decimal(18,2), op string",
    )
    out = {r["g"]: (r["mv_count"], r["amt_sum"])
           for r in apply_feed(mv, feed, ["g"], ["amt"]).collect()}
    assert out == {
        "a": (1, Decimal("1.25")),
        "b": (2, Decimal("0.85")),
        "c": (1, Decimal("9.99")),
    }
    floats = spark.createDataFrame([("a", 1.5)], "g string, amt double")
    with pytest.raises(TypeError, match="exact type"):
        grouped_mv(floats, ["g"], ["amt"])


def test_schema_evolution_add_rename_drop(spark, tmp_path):
    """S28: metadata-only schema evolution. Adds read NULL from old
    files and real values from post-add writes; renames are pure
    mapping changes (old files stay readable); drops hide the column
    from the new version on; time travel serves every version under
    the schema it was published with; a dropped-then-re-added name
    can NOT resurrect old bytes (version-suffixed physical names);
    compaction and redact keep working through the mapping."""
    from pyspark.sql.types import IntegerType

    store = SnapshotStore(str(tmp_path / "t"), "p")
    store.commit(_mk(spark, [(1, "a", 10), (2, "b", 20)]))          # v1
    v2 = store.add_column("score", IntegerType())                    # v2
    assert [r["score"] for r in store.read(spark).collect()] == [None, None]
    delta = spark.createDataFrame([Row(k=3, p="a", val=30, score=7)])
    v3 = store.upsert(spark, delta, key_cols=["k"])                  # v3
    got = {r["k"]: r["score"] for r in store.read(spark).collect()}
    assert got == {1: None, 2: None, 3: 7}
    v4 = store.rename_column("val", "value_usd")                     # v4
    rows = {r["k"]: r["value_usd"] for r in store.read(spark).collect()}
    assert rows == {1: 10, 2: 20, 3: 30}
    assert "val" not in store.read(spark).columns
    v5 = store.drop_column("score")                                  # v5
    assert "score" not in store.read(spark).columns
    # re-add under the same logical name: old bytes must NOT resurface
    store.add_column("score", IntegerType())                         # v6
    assert {r["k"]: r["score"] for r in store.read(spark).collect()} == {
        1: None, 2: None, 3: None}
    # time travel: each version under its own schema
    assert set(store.read(spark, version=1).columns) == {"k", "p", "val"}
    assert {r["k"]: r["score"] for r in store.read(spark, version=v3).collect()} == {
        1: None, 2: None, 3: 7}
    assert "value_usd" in store.read(spark, version=v4).columns
    assert "score" not in store.read(spark, version=v5).columns
    # compaction through the mapping: logical content unchanged
    vc = store.compact(spark)
    assert {(r["k"], r["value_usd"], r["score"])
            for r in store.read(spark, version=vc).collect()} == {
        (1, 10, None), (2, 20, None), (3, 30, None)}
    # MOR delete with a predicate on a RENAMED column
    store.delete_where(spark, F.col("value_usd") == 20)
    assert {r["k"] for r in store.read(spark).collect()} == {1, 3}
    # redact by key through the mapping
    store.redact(spark, ["k"], spark.createDataFrame([Row(k=3)]))
    assert {r["k"] for r in store.read(spark).collect()} == {1}
    assert v2 == 2 and v3 == 3 and v4 == 4 and v5 == 5


def test_random_schema_evolution_interleavings_match_model(spark, tmp_path):
    """S28/S30 composition gate (r9 verdict item 7, extended r11): a
    seeded random program of commit / upsert / CDC / MOR-delete /
    compact / vacuum INTERLEAVED with add_column / rename_column /
    drop_column AND repartition_spec (toggling the partition column
    between two per-key-stable attributes), checked after every op
    against a pure-Python model that tracks each version's LOGICAL
    schema alongside its rows — time travel must serve every retained
    version under the column names and values it was published with,
    adds must read NULL from pre-add data, drops must hide (and
    re-adds must never resurrect) the column, and a spec change must
    be invisible to every read while rerouting writes."""
    import random

    import pytest
    from pyspark.sql.types import IntegerType

    for seed in (7, 41):
        random.seed(seed)
        store = SnapshotStore(str(tmp_path / f"e{seed}"), "p")
        key_part = {k: "abc"[k % 3] for k in range(1, 9)}
        key_part2 = {k: "xy"[k % 2] for k in range(1, 9)}

        # mutable current-schema state
        val_name = "val"
        aux_live = False
        renames = 0
        cur_spec = "p"  # toggled by the respec op

        def frame(rows, aux_vals=None):
            # rows: {k: val}; aux_vals: {k: int|None} when aux is live
            data = []
            for k, v in rows.items():
                d = {"k": k, "p": key_part[k], "p2": key_part2[k],
                     val_name: v}
                if aux_live:
                    d["aux"] = (aux_vals or {}).get(k)
                data.append(Row(**d))
            return spark.createDataFrame(data)

        first = {k: random.randrange(100) for k in random.sample(range(1, 9), 5)}
        v1 = store.commit(frame(first))
        # hist[v] = (val_name, vals {k: val}, aux {k: int|None} | None)
        hist = {v1: (val_name, dict(first), None)}
        retained = {v1}
        spec_at = {v1: cur_spec}  # the spec each version was left under

        def check():
            for v in sorted(hist):
                if v not in retained:
                    with pytest.raises(FileNotFoundError):
                        store.read(spark, v)
                    continue
                vn, vals, aux = hist[v]
                df = store.read(spark, v)
                want_cols = {"k", "p", "p2", vn} | (
                    {"aux"} if aux is not None else set()
                )
                assert set(df.columns) == want_cols, f"seed={seed} v={v}"
                rows = df.collect()
                got = sorted((r["k"], r["p"], r["p2"], r[vn]) for r in rows)
                assert got == sorted(
                    (k, key_part[k], key_part2[k], val)
                    for k, val in vals.items()
                ), f"seed={seed} v={v}"
                if aux is not None:
                    got_aux = {r["k"]: r["aux"] for r in rows}
                    assert got_aux == aux, f"seed={seed} v={v} aux"
            # S30b pruning exactness under EVERY interleaving: an
            # equality read on a spec SOURCE through the latest head
            # (whose manifest may mix single-col and composite epochs)
            # must return exactly the model's rows for that key —
            # pruning may only drop directories, never rows.
            latest = max(v for v in hist if v in retained)
            vn, vals, _ = hist[latest]
            probe_k = (min(vals) if vals else 1)
            got_eq = sorted(
                (r["k"], r[vn])
                for r in store.read(
                    spark, latest, where_eq=("k", probe_k)
                ).collect()
            )
            want_eq = (
                [(probe_k, vals[probe_k])] if probe_k in vals else []
            )
            assert got_eq == want_eq, f"seed={seed} where_eq v={latest}"

        for i_op in range(14):
            op = random.choice(
                ["commit", "upsert", "cdc", "addcol", "dropcol",
                 "rename", "mordelete", "compact", "vacuum", "respec",
                 "smerge", "rollback"]
            )
            if i_op == 2:
                # force at least one spec change per seed so every
                # later random op composes with a mixed-spec table
                op = "respec"
            elif i_op == 3:
                # and one MERGE INTO on it: the feed scans the target's
                # old-spec files while the merge writes
                op = "smerge"
            latest = max(v for v in hist if v in retained)
            _, prev_vals, prev_aux = hist[latest]
            if op == "commit":
                rows = {
                    k: random.randrange(100)
                    for k in random.sample(range(1, 9), random.randint(2, 6))
                }
                av = (
                    {k: random.choice([None, random.randrange(9)]) for k in rows}
                    if aux_live
                    else None
                )
                v = store.commit(frame(rows, av))
                hist[v] = (val_name, dict(rows), av)
                retained.add(v)
            elif op == "upsert":
                rows = {
                    k: random.randrange(100)
                    for k in random.sample(range(1, 9), random.randint(1, 4))
                }
                av = (
                    {k: random.choice([None, random.randrange(9)]) for k in rows}
                    if aux_live
                    else None
                )
                v = store.upsert(spark, frame(rows, av), ["k"])
                nv = {**prev_vals, **rows}
                na = {**prev_aux, **av} if aux_live else None
                if na is not None:
                    na = {k: na.get(k) for k in nv}
                hist[v] = (val_name, nv, na)
                retained.add(v)
            elif op == "cdc":
                ks = random.sample(range(1, 9), random.randint(1, 3))
                ch = [(k, random.choice("IUD"), random.randrange(100)) for k in ks]
                rows = [
                    {"k": k, "p": key_part[k], "p2": key_part2[k],
                     val_name: v, "op": o}
                    for k, o, v in ch
                ]
                if aux_live:
                    for r in rows:
                        r["aux"] = random.choice([None, random.randrange(9)])
                v = store.apply_changes(
                    spark, spark.createDataFrame([Row(**r) for r in rows]), ["k"]
                )
                nv, na = dict(prev_vals), (dict(prev_aux) if aux_live else None)
                for r, (k, o, val) in zip(rows, ch):
                    nv.pop(k, None)
                    if na is not None:
                        na.pop(k, None)
                    if o != "D":
                        nv[k] = val
                        if na is not None:
                            na[k] = r.get("aux")
                hist[v] = (val_name, nv, na)
                retained.add(v)
            elif op == "addcol":
                if aux_live:
                    with pytest.raises(ValueError):
                        store.add_column("aux", IntegerType())
                else:
                    v = store.add_column("aux", IntegerType())
                    aux_live = True
                    hist[v] = (val_name, dict(prev_vals), {k: None for k in prev_vals})
                    retained.add(v)
            elif op == "dropcol":
                if not aux_live:
                    with pytest.raises(ValueError):
                        store.drop_column("aux")
                else:
                    v = store.drop_column("aux")
                    aux_live = False
                    hist[v] = (val_name, dict(prev_vals), None)
                    retained.add(v)
            elif op == "rename":
                renames += 1
                new_name = f"val_r{renames}"
                v = store.rename_column(val_name, new_name)
                val_name = new_name
                hist[v] = (val_name, dict(prev_vals), dict(prev_aux) if aux_live else None)
                retained.add(v)
            elif op == "mordelete":
                thresh = random.randrange(100)
                v = store.delete_where(spark, f"{val_name} < {thresh}")
                nv = {k: val for k, val in prev_vals.items() if val >= thresh}
                na = (
                    {k: prev_aux[k] for k in nv} if aux_live else None
                )
                hist[v] = (val_name, nv, na)
                retained.add(v)
            elif op == "respec":
                # rotate p → p2 → composite (p, bucket(3, k)) → p —
                # the S30b transform spec composes with every other op
                # exactly like a single-column respec (reads must be
                # spec-blind; writes reroute to derived directories)
                cycle = ["p", "p2", ["p", "bucket(3, k)"]]
                nxt_spec = cycle[
                    (cycle.index(cur_spec) + 1) % 3
                    if cur_spec in ("p", "p2")
                    else 0
                ]
                v = store.repartition_spec(nxt_spec)
                cur_spec = (
                    nxt_spec if isinstance(nxt_spec, str) else "composite"
                )
                hist[v] = (
                    val_name,
                    dict(prev_vals),
                    dict(prev_aux) if aux_live else None,
                )
                retained.add(v)
            elif op == "compact":
                v = store.compact(spark)
                hist[v] = (val_name, dict(prev_vals), dict(prev_aux) if aux_live else None)
                retained.add(v)
            elif op == "vacuum":
                keep = random.randint(1, 3)
                store.vacuum(retain_last=keep, orphan_grace_sec=0.0)
                retained = set(sorted(v for v in hist if v in retained)[-keep:])
            elif op == "smerge":
                # MERGE INTO as in the storage checker: matched rows
                # whose target value is under a random threshold are
                # deleted, other matches take the source image,
                # unmatched source rows are inserted
                rows = {
                    k: random.randrange(100)
                    for k in random.sample(range(1, 9), random.randint(1, 5))
                }
                av = (
                    {k: random.choice([None, random.randrange(9)]) for k in rows}
                    if aux_live
                    else None
                )
                thresh = random.randrange(100)
                v = store.merge(
                    spark, frame(rows, av), ["k"],
                    matched_delete_cond=f"t.{val_name} < {thresh}",
                )
                nv, na = dict(prev_vals), (dict(prev_aux) if aux_live else None)
                for k, val in rows.items():
                    if k in nv and nv[k] < thresh:
                        nv.pop(k)
                        if na is not None:
                            na.pop(k)
                    else:
                        nv[k] = val
                        if na is not None:
                            na[k] = av[k]
                hist[v] = (val_name, nv, na)
                retained.add(v)
            elif op == "rollback":
                # the head takes an older version's rows, schema and
                # spec; later ops continue from that state
                live = sorted(v for v in hist if v in retained)
                tgt = random.choice(live)
                if tgt == live[-1]:
                    with pytest.raises(ValueError):
                        store.rollback(tgt)
                else:
                    v = store.rollback(tgt)
                    val_name, vals, aux = hist[tgt]
                    aux_live = aux is not None
                    cur_spec = spec_at[tgt]
                    hist[v] = (val_name, dict(vals), dict(aux) if aux_live else None)
                    retained.add(v)
            for v in hist:
                spec_at.setdefault(v, cur_spec)
            check()


def test_ahash_planted_near_dups(spark):
    """J20 planted-dup pytest (r9 verdict item 5): same-group image
    variants must pair up under the banded Hamming join; the banded
    candidate set must agree exactly with a brute-force popcount over
    the collected hashes (the pigeonhole can't miss a pair within the
    bound)."""
    from karna_spark.operators.multimodal import (
        ahash_near_dup_pairs,
        image_ahash64,
        synthesize_patterned_image_df,
    )

    items = spark.range(0, 36).select(F.col("id").alias("item_id"))
    hashes = image_ahash64(synthesize_patterned_image_df(items, "item_id"))
    hvals = {r["item_id"]: r["ahash"] for r in hashes.collect()}
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in ahash_near_dup_pairs(hashes, max_hamming=6).collect()
    }
    # brute force over collected hashes
    want = {}
    ids = sorted(hvals)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            d = bin((hvals[a] ^ hvals[b]) & ((1 << 64) - 1)).count("1")
            if d <= 6:
                want[(a, b)] = d
    assert got == want
    # every same-group variant pair is found
    for g in range(12):
        a, b, c = 3 * g, 3 * g + 1, 3 * g + 2
        assert (a, b) in got and (a, c) in got and (b, c) in got


def test_mor_delete_set_exceeding_broadcast_threshold(spark, tmp_path):
    """r9 verdict item 10: a delete set larger than the broadcast
    threshold must drop the FORCED broadcast hint (AQE then picks the
    strategy from actual runtime sizes — it may still broadcast a
    small set, which is correct; what must never happen is an
    unconditional hint forcing a multi-GB build side) and return
    exactly the same rows; pending_deletes() surfaces the compaction
    pressure."""
    store = SnapshotStore(str(tmp_path / "t"), "p")
    big = spark.range(0, 5000).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).cast("string").alias("p"),
        (F.col("id") % 100).alias("val"),
    )
    store.commit(big)
    store.delete_where(spark, "k % 2 = 0")
    pend = store.pending_deletes()
    assert pend["n_entries"] == 1 and pend["bytes"] > 0
    assert pend["exceeds_broadcast"] is False
    # force the fallback with a tiny threshold
    orig = SnapshotStore.BROADCAST_DELETES_MAX_BYTES
    try:
        SnapshotStore.BROADCAST_DELETES_MAX_BYTES = 1
        assert store.pending_deletes()["exceeds_broadcast"] is True
        df = store.read(spark)
        logical = df._jdf.queryExecution().optimizedPlan().toString()
        rows = {r["k"] for r in df.collect()}
    finally:
        SnapshotStore.BROADCAST_DELETES_MAX_BYTES = orig
    assert rows == {k for k in range(5000) if k % 2 == 1}
    # no forced hint above the threshold; AQE owns the strategy (and
    # may still broadcast a runtime-small set — that is correct; what
    # must never happen is an unconditional hint forcing a multi-GB
    # build side)
    assert "hint=broadcast" not in logical.lower().replace(" ", "")
    # under the threshold the hint IS forced (small-set fast path),
    # and both paths return identical rows
    hinted = store.read(spark)
    assert "broadcast" in (
        hinted._jdf.queryExecution().optimizedPlan().toString().lower()
    )
    assert {r["k"] for r in hinted.collect()} == rows


def test_redact_preserves_added_column_data(spark, tmp_path):
    """r10 review (confirmed repro): redact on a schema-evolved table
    must NOT destroy added-column values in unrelated rows — the probe
    union scan must merge heterogeneous footers so the rewrite carries
    every physical column."""
    from pyspark.sql.types import IntegerType

    store = SnapshotStore(str(tmp_path / "t"), "p")
    store.commit(_mk(spark, [(1, "a", 10), (2, "a", 20)]))
    store.add_column("score", IntegerType())
    store.upsert(
        spark,
        spark.createDataFrame([Row(k=3, p="a", val=30, score=7)]),
        key_cols=["k"],
    )
    store.redact(spark, ["k"], spark.createDataFrame([Row(k=1)]))
    got = {r["k"]: r["score"] for r in store.read(spark).collect()}
    assert got == {2: None, 3: 7}  # k=1 gone, k=3 keeps its score
    # time travel to the pre-redact head also keeps it
    assert {
        r["k"]: r["score"] for r in store.read(spark, version=3).collect()
    } == {2: None, 3: 7}


def test_branch_carries_schema_evolution(spark, tmp_path):
    """r10 review (confirmed repro): a branch forked from an evolved
    table must read/write through the same logical→physical mapping,
    and merging it must not un-do the evolution on the parent."""
    store = SnapshotStore(str(tmp_path / "t"), "p")
    store.commit(_mk(spark, [(1, "a", 10)]))
    store.rename_column("val", "value_usd")
    br = store.create_branch("dev")
    assert set(br.read(spark).columns) == {"k", "p", "value_usd"}
    br.upsert(
        spark,
        spark.createDataFrame([Row(k=2, p="b", value_usd=20)]),
        key_cols=["k"],
    )
    v = store.merge_branch("dev")
    got = {
        r["k"]: r["value_usd"]
        for r in store.read(spark, version=v).collect()
    }
    assert got == {1: 10, 2: 20}
    assert "val" not in store.read(spark).columns


def test_redact_reaches_pre_rename_epochs(spark, tmp_path):
    """r10 review: redact keys must match EVERY physical epoch of a
    logical key column — files written before a rename (old physical
    name) and after a full commit (mapping reset, new physical name)
    are all probed via the coalesced variant expression; the forgotten
    key disappears from every retained version."""
    store = SnapshotStore(str(tmp_path / "t"), "p")
    store.commit(_mk(spark, [(1, "a", 10), (2, "b", 20)]))           # v1: 'val'
    store.rename_column("val", "uid")                                 # v2
    # full commit RESETS the mapping: files now physically named 'uid'
    full = spark.createDataFrame(
        [Row(k=1, p="a", uid=11), Row(k=3, p="b", uid=30)]
    )
    store.commit(full)                                                # v3
    n = store.redact(spark, ["uid"], spark.createDataFrame([Row(uid=10)]))
    assert n >= 1
    # v1 physically stores the key under 'val'; the redact must still
    # have erased uid=10 there (read v1 under its own logical schema)
    assert _rows(store.read(spark, version=1)) == [(2, "b", 20)]
    # v2 (post-rename, same files) serves it as uid — gone as well
    assert [
        (r["k"], r["uid"]) for r in store.read(spark, version=2).collect()
    ] == [(2, 20)]
    # v3's files (new physical epoch) never held uid=10 — intact
    assert sorted(
        (r["k"], r["uid"]) for r in store.read(spark, version=3).collect()
    ) == [(1, 11), (3, 30)]


def test_mv_feed_scale_mismatch_refused(spark):
    """r10 review: apply_feed accumulates in the STORED view's sum
    type; a feed at a narrower scale integrates exactly, a feed WIDER
    than the stored scale is refused instead of silently rounded."""
    from decimal import Decimal

    import pytest

    from karna_spark.operators.mv import apply_feed, grouped_mv

    base = spark.createDataFrame(
        [("a", Decimal("1.25"))], "g string, amt decimal(18,2)"
    )
    mv = grouped_mv(base, ["g"], ["amt"])
    # narrower feed (scale 0) is exact in a scale-2 accumulator
    feed0 = spark.createDataFrame(
        [("a", Decimal("2"), "I")], "g string, amt decimal(18,0), op string"
    )
    out = {r["g"]: r["amt_sum"] for r in apply_feed(mv, feed0, ["g"], ["amt"]).collect()}
    assert out == {"a": Decimal("3.25")}
    # wider feed (scale 4) would be rounded — refused
    feed4 = spark.createDataFrame(
        [("a", Decimal("0.1234"), "I")],
        "g string, amt decimal(18,4), op string",
    )
    with pytest.raises(TypeError, match="scale"):
        apply_feed(mv, feed4, ["g"], ["amt"])


def test_widen_column_type_promotion(spark, tmp_path):
    """S29: widening a column's type is metadata-only — old files keep
    the narrow physical type and up-cast losslessly at read; new
    writes land wide (values beyond the narrow range round-trip);
    narrowing and lossy changes are refused."""
    import pytest
    from pyspark.sql.types import DecimalType, IntegerType, LongType

    store = SnapshotStore(str(tmp_path / "t"), "p")
    base = spark.createDataFrame(
        [Row(k=1, p="a", val=7)],
        "k bigint, p string, val int",
    )
    store.commit(base)                                   # v1: val int
    v2 = store.widen_column("val", LongType())           # v2: val bigint
    df = store.read(spark)
    assert dict(df.dtypes)["val"] == "bigint"
    assert _rows(df) == [(1, "a", 7)]
    big = 5_000_000_000  # beyond int range
    store.upsert(
        spark,
        spark.createDataFrame([Row(k=2, p="b", val=big)],
                              "k bigint, p string, val bigint"),
        key_cols=["k"],
    )                                                    # v3
    assert _rows(store.read(spark)) == [(1, "a", 7), (2, "b", big)]
    # time travel: v1 serves the ORIGINAL narrow schema
    assert dict(store.read(spark, version=1).dtypes)["val"] == "int"
    assert dict(store.read(spark, version=v2).dtypes)["val"] == "bigint"
    # narrowing / lossy changes refused
    with pytest.raises(ValueError, match="lossless"):
        store.widen_column("val", IntegerType())
    with pytest.raises(ValueError, match="lossless"):
        store.widen_column("val", DecimalType(10, 2))  # scale change
    # int -> decimal(20,0) is lossless
    store.widen_column("k", DecimalType(20, 0))
    assert dict(store.read(spark).dtypes)["k"] == "decimal(20,0)"
    assert sorted(int(r["k"]) for r in store.read(spark).collect()) == [1, 2]
    # compose with rename: the mapping still serves the wide type
    store.rename_column("val", "value_wide")
    got = {r["k"] for r in store.read(spark).collect()}
    assert dict(store.read(spark).dtypes)["value_wide"] == "bigint"
    assert len(got) == 2


def test_redact_after_int_to_decimal_widen(spark, tmp_path):
    """r10 ADVICE: widen_column legally admits int→decimal(p,0), so a
    cross-epoch read (redact's probe union) must reconcile an
    integral/decimal physical mix instead of crashing — otherwise
    right-to-be-forgotten becomes impossible on a legally-widened
    table until a full rewrite."""
    from pyspark.sql.types import DecimalType

    store = SnapshotStore(str(tmp_path / "t"), "p")
    base = spark.createDataFrame(
        [Row(k=1, p="a", val=10), Row(k=2, p="b", val=20)],
        "k bigint, p string, val int",
    )
    store.commit(base)                                # v1: val int
    store.widen_column("val", DecimalType(12, 0))     # v2: val decimal
    from decimal import Decimal

    store.upsert(
        spark,
        spark.createDataFrame(
            [Row(k=3, p="a", val=Decimal(30))],
            "k bigint, p string, val decimal(12,0)",
        ),
        key_cols=["k"],
    )                                                 # v3: decimal files
    # the probe union now spans int files (v1 epoch) and decimal files
    n = store.redact(spark, ["k"], spark.createDataFrame([Row(k=1)]))
    assert n >= 1
    got = {int(r["k"]): int(r["val"]) for r in store.read(spark).collect()}
    assert got == {2: 20, 3: 30}
    # every retained version forgot k=1
    for v in (1, 2):
        assert 1 not in {
            int(r["k"]) for r in store.read(spark, version=v).collect()
        }


def test_redact_repointed_epochs_read_after_widen(spark, tmp_path):
    """r10 ADVICE: redact rewrites hit dirs at the WIDEST physical type
    and repoints pre-widen manifests at the new files; those manifests
    must be republished with upgraded declared types, or time travel to
    a pre-widen version applies its narrow explicit schema to wide
    parquet — a narrowing read Spark refuses. Widening is lossless, so
    the logical contract ('every non-redacted row of every version')
    still holds."""
    from pyspark.sql.types import LongType

    store = SnapshotStore(str(tmp_path / "t"), "p")
    base = spark.createDataFrame(
        [Row(k=1, p="a", val=10), Row(k=2, p="a", val=20)],
        "k bigint, p string, val int",
    )
    store.commit(base)                                # v1: val int files
    store.widen_column("val", LongType())             # v2: val bigint
    store.upsert(
        spark,
        spark.createDataFrame(
            [Row(k=3, p="a", val=5_000_000_000)],
            "k bigint, p string, val bigint",
        ),
        key_cols=["k"],
    )                                                 # v3: bigint files
    # k=1 lives in the v1 int-file epoch → that dir is rewritten at
    # the widest type (bigint) and v1's manifest repointed at it
    n = store.redact(spark, ["k"], spark.createDataFrame([Row(k=1)]))
    assert n >= 1
    # time travel to the pre-widen version must still read (upgraded
    # declared type), serving every non-redacted row
    v1 = store.read(spark, version=1)
    assert [(r["k"], r["val"]) for r in v1.collect()] == [(2, 20)]
    assert dict(v1.dtypes)["val"] == "bigint"  # lossless upgrade
    # the widened head is intact
    assert sorted(
        (r["k"], r["val"]) for r in store.read(spark).collect()
    ) == [(2, 20), (3, 5_000_000_000)]


# ---------------------------------------------------------------------------
# S30 partition-spec evolution
# ---------------------------------------------------------------------------


def _mk4(spark, data):
    """rows of (k, region, lang, val)"""
    return spark.createDataFrame(
        [Row(k=k, region=r, lang=lg, val=v) for k, r, lg, v in data]
    )


_BASE4 = [
    (1, "us", "en", 10),
    (2, "us", "de", 20),
    (3, "eu", "en", 30),
    (4, "eu", "fr", 40),
]


def test_partition_spec_evolution_metadata_only(spark, tmp_path):
    """repartition_spec is a one-manifest-write commit: pointers are a
    re-keyed copy (qualified ``col=val`` form, each under the spec it
    was written at), no data file is touched, stats survive re-keyed,
    and both the evolved and every prior version read byte-identically."""
    store = SnapshotStore(str(tmp_path / "t"), "region")
    v1 = store.commit(_mk4(spark, _BASE4))
    files_before = sorted(glob.glob(str(tmp_path / "t" / "data" / "**" / "*.parquet"), recursive=True))
    v2 = store.repartition_spec("lang")
    files_after = sorted(glob.glob(str(tmp_path / "t" / "data" / "**" / "*.parquet"), recursive=True))
    assert files_before == files_after  # metadata-only
    doc = store._manifest_doc(v2)
    assert set(doc["partitions"]) == {"region=us", "region=eu"}
    assert doc["specs"] == [
        {"col": "region", "since": 0},
        {"col": "lang", "since": v2},
    ]
    # stats re-keyed, not lost
    assert doc["stats"]["region=us"]["val"] == [10, 20]
    got = sorted(
        (r["k"], r["region"], r["lang"], r["val"])
        for r in store.read(spark).collect()
    )
    assert got == sorted(_BASE4)
    assert sorted(
        (r["k"], r["region"], r["lang"], r["val"])
        for r in store.read(spark, version=v1).collect()
    ) == sorted(_BASE4)


def test_spec_evolution_upsert_mixed_specs(spark, tmp_path):
    """After the spec change, an upsert (a) writes its delta under the
    NEW spec, (b) replaces a key living in an old-spec partition via a
    merge-on-read delete entry (the old directory is never rewritten in
    place — its rows would redistribute into new-spec dirs and collide
    with inherited pointers), and (c) leaves prior versions intact."""
    store = SnapshotStore(str(tmp_path / "t"), "region")
    v1 = store.commit(_mk4(spark, _BASE4))
    store.repartition_spec("lang")
    v3 = store.upsert(
        spark,
        _mk4(spark, [(2, "us", "de", 21), (5, "ap", "en", 50)]),
        key_cols=["k"],
    )
    doc = store._manifest_doc(v3)
    # delta landed under lang=; old region= pointers inherited untouched
    assert {"lang=de", "lang=en", "region=us", "region=eu"} <= set(
        doc["partitions"]
    )
    assert doc["partitions"]["region=us"] == v1
    # the k=2 replacement in region=us retired through a MOR entry
    dels = doc.get("deletes") or []
    assert len(dels) == 1 and dels[0]["partitions"] == ["region=us"]
    got = sorted((r["k"], r["val"]) for r in store.read(spark).collect())
    assert got == [(1, 10), (2, 21), (3, 30), (4, 40), (5, 50)]
    # snapshot isolation: v1 unchanged
    assert sorted(
        (r["k"], r["val"]) for r in store.read(spark, version=v1).collect()
    ) == [(1, 10), (2, 20), (3, 30), (4, 40)]
    # changelog across the spec boundary round-trips the diff
    ops = sorted(
        (r["op"], r["k"])
        for r in store.read_changes(spark, v1, v3, key_cols=["k"]).collect()
    )
    assert ops == [("I", 5), ("U", 2)]
    # and WITHIN the evolved epoch the MOR prune stays exact: v2→v3
    # differs only by the retirement entry (same region pointers) and
    # the new lang pointers
    ops = sorted(
        (r["op"], r["k"])
        for r in store.read_changes(spark, 2, v3, key_cols=["k"]).collect()
    )
    assert ops == [("I", 5), ("U", 2)]


def test_spec_evolution_cdc_deletes_old_spec_row(spark, tmp_path):
    """A CDC 'D' row whose key lives in an old-spec partition is a
    merge-on-read retirement, same as upsert replacement."""
    store = SnapshotStore(str(tmp_path / "t"), "region")
    store.commit(_mk4(spark, _BASE4))
    store.repartition_spec("lang")
    ch = spark.createDataFrame(
        [
            Row(k=4, region="eu", lang="fr", val=0, op="D"),
            Row(k=1, region="us", lang="en", val=11, op="U"),
        ]
    )
    store.apply_changes(spark, ch, key_cols=["k"])
    got = sorted((r["k"], r["val"]) for r in store.read(spark).collect())
    assert got == [(1, 11), (2, 20), (3, 30)]


def test_spec_evolution_compact_migrates_full_table(spark, tmp_path):
    """compact() with no partition list is the migration op: every row
    lands under the current spec, MOR entries fold in, and the spec
    history prunes to the current entry — after which the OLD spec
    column is droppable again. A PARTIAL compact naming an old-spec
    partition is refused (its rows would redistribute and collide);
    a current-spec-only partial compact stays legal."""
    import pytest

    store = SnapshotStore(str(tmp_path / "t"), "region")
    store.commit(_mk4(spark, _BASE4))
    store.repartition_spec("lang")
    store.upsert(
        spark,
        _mk4(spark, [(2, "us", "de", 21), (5, "ap", "en", 50)]),
        key_cols=["k"],
    )
    with pytest.raises(ValueError, match="FULL-table"):
        store.compact(spark, partition_values=["region=us"])
    with pytest.raises(ValueError):
        store.drop_column("region")  # old spec col still referenced
    vc = store.compact(spark)
    doc = store._manifest_doc(vc)
    assert set(doc["partitions"]) == {"lang=en", "lang=de", "lang=fr"}
    assert doc["specs"] == [{"col": "lang", "since": 2}]
    assert not doc.get("deletes")
    got = sorted((r["k"], r["val"]) for r in store.read(spark).collect())
    assert got == [(1, 10), (2, 21), (3, 30), (4, 40), (5, 50)]
    # migrated: the old spec column is a plain column again
    store.drop_column("region")
    assert "region" not in store.read(spark).columns
    # partial compacts legal again on the single-spec table
    store.compact(spark, partition_values=["lang=en"])
    got = sorted((r["k"], r["val"]) for r in store.read(spark).collect())
    assert got == [(1, 10), (2, 21), (3, 30), (4, 40), (5, 50)]


def test_spec_evolution_guards(spark, tmp_path):
    import pytest

    store = SnapshotStore(str(tmp_path / "t"), "region")
    store.commit(_mk4(spark, _BASE4))
    with pytest.raises(ValueError, match="no such column"):
        store.repartition_spec("nope")
    with pytest.raises(ValueError, match="already the partition column"):
        store.repartition_spec("region")
    store.repartition_spec("lang")
    with pytest.raises(ValueError, match="already the partition column"):
        store.repartition_spec("lang")
    # both historical and current spec cols are rename/drop-protected
    for col in ("region", "lang"):
        with pytest.raises(ValueError):
            store.rename_column(col, "x")
        with pytest.raises(ValueError):
            store.drop_column(col)


def test_spec_evolution_vacuum_mixed_dirs(spark, tmp_path):
    """vacuum on a spec-evolved table parses dirs under EVERY spec col:
    live mixed-spec pointers stay, expired versions' dirs go."""
    store = SnapshotStore(str(tmp_path / "t"), "region")
    store.commit(_mk4(spark, _BASE4))
    store.repartition_spec("lang")
    store.upsert(spark, _mk4(spark, [(5, "ap", "en", 50)]), key_cols=["k"])
    want = sorted(
        (r["k"], r["val"]) for r in store.read(spark).collect()
    )
    deleted = store.vacuum(retain_last=1, orphan_grace_sec=0.0)
    got = sorted((r["k"], r["val"]) for r in store.read(spark).collect())
    assert got == want == [(1, 10), (2, 20), (3, 30), (4, 40), (5, 50)]
    # nothing live was deleted: the latest manifest still resolves all
    # its dirs; expired manifests are gone
    assert store._published_versions() == [store.latest_version()]
    # v1's dirs were all inherited by the latest manifest -> no data
    # dir could be collected, only expired manifests
    assert deleted == []
    # now rewrite everything under the new spec and vacuum again: the
    # old-spec dirs become unreferenced and ARE collected
    store.compact(spark)
    deleted = store.vacuum(retain_last=1, orphan_grace_sec=0.0)
    assert any(d.startswith("region=") for d in deleted)
    got = sorted((r["k"], r["val"]) for r in store.read(spark).collect())
    assert got == want


def test_spec_evolution_redact_mixed_history(spark, tmp_path):
    """redact reaches rows in EVERY version across the spec boundary:
    per-spec-group probe + rewrite, manifests of both epochs repointed."""
    store = SnapshotStore(str(tmp_path / "t"), "region")
    store.commit(_mk4(spark, _BASE4))
    store.repartition_spec("lang")
    store.upsert(
        spark,
        _mk4(spark, [(2, "us", "de", 21), (5, "ap", "en", 50)]),
        key_cols=["k"],
    )
    n = store.redact(spark, ["k"], spark.createDataFrame([Row(k=2)]))
    assert n >= 1
    for v in store._published_versions():
        ks = sorted(r["k"] for r in store.read(spark, version=v).collect())
        assert 2 not in ks, f"v{v} still serves the redacted key"
    # non-redacted rows of every version intact
    assert sorted(
        r["k"] for r in store.read(spark, version=1).collect()
    ) == [1, 3, 4]
    assert sorted(
        r["k"] for r in store.read(spark).collect()
    ) == [1, 3, 4, 5]


def test_spec_evolution_branch_wap(spark, tmp_path):
    """A branch forked from a spec-evolved table carries the spec
    history: branch writes land under the current spec, and the merge
    fast-forward preserves specs (and defaults) on the parent."""
    from pyspark.sql.types import IntegerType

    store = SnapshotStore(str(tmp_path / "t"), "region")
    store.commit(_mk4(spark, _BASE4))
    store.repartition_spec("lang")
    store.add_column("score", IntegerType(), default=9)
    br = store.create_branch("wap")
    br.upsert(spark, spark.createDataFrame(
        [(5, "ap", "en", 50, 3)],
        "k long, region string, lang string, val long, score int",
    ), key_cols=["k"])
    # parent unaffected pre-merge
    assert sorted(r["k"] for r in store.read(spark).collect()) == [1, 2, 3, 4]
    store.merge_branch("wap")
    doc = store._manifest_doc(store.latest_version())
    assert doc.get("specs") and doc.get("defaults")
    got = {r["k"]: (r["score"], r["lang"]) for r in store.read(spark).collect()}
    assert got == {1: (9, "en"), 2: (9, "de"), 3: (9, "en"), 4: (9, "fr"),
                   5: (3, "en")}


def test_read_as_of_timestamp(spark, tmp_path):
    """Timestamp time travel: read(as_of=ts) resolves to the newest
    version committed at or before ts (injectable clock)."""
    import pytest

    t = iter(range(1000, 1100))
    store = SnapshotStore(str(tmp_path / "t"), "p", clock=lambda: next(t))
    store.commit(_mk(spark, [(1, "a", 10)]))            # committed_at 1000
    store.upsert(spark, _mk(spark, [(2, "a", 20)]), ["k"])  # 1001
    store.upsert(spark, _mk(spark, [(3, "b", 30)]), ["k"])  # 1002
    assert _rows(store.read(spark, as_of=1000.5)) == [(1, "a", 10)]
    assert _rows(store.read(spark, as_of=1001)) == [(1, "a", 10), (2, "a", 20)]
    assert len(_rows(store.read(spark, as_of=5000))) == 3
    with pytest.raises(ValueError, match="no version committed"):
        store.read(spark, as_of=10)
    with pytest.raises(ValueError, match="not both"):
        store.read(spark, version=1, as_of=1001)


def test_branch_keeps_the_store_clock(spark, tmp_path):
    """A branch stamps its manifests with its parent store's clock, so
    read(as_of=...) on the branch resolves in the same time base."""
    t = iter(range(1000, 1100))
    store = SnapshotStore(str(tmp_path / "t"), "p", clock=lambda: next(t))
    store.commit(_mk(spark, [(1, "a", 10)]))                # 1000
    br = store.create_branch("dev")                         # fork: 1001
    br.upsert(spark, _mk(spark, [(2, "a", 20)]), ["k"])     # 1002
    store.branch("dev").upsert(
        spark, _mk(spark, [(3, "b", 30)]), ["k"]            # 1003
    )
    assert [
        br._manifest_doc(v)["committed_at"] for v in br._published_versions()
    ] == [1001.0, 1002.0, 1003.0]
    assert _rows(br.read(spark, as_of=1002.5)) == [(1, "a", 10), (2, "a", 20)]
    assert _rows(br.read(spark, as_of=1001)) == [(1, "a", 10)]
    assert br.version_as_of(1003) == br.latest_version()


def test_add_column_default_initial_value(spark, tmp_path):
    """Iceberg-v3 initial defaults: rows written BEFORE the add read
    the default; rows written after — including explicit NULLs — read
    what was written. Rewrites bake the default in; renames carry it;
    time travel to pre-add versions is unaffected."""
    from pyspark.sql.types import IntegerType

    store = SnapshotStore(str(tmp_path / "t"), "p")
    v1 = store.commit(_mk(spark, [(1, "a", 10), (2, "b", 20)]))
    store.add_column("score", IntegerType(), default=7)
    store.upsert(spark, spark.createDataFrame(
        [(3, "a", 30, None), (4, "b", 40, 5)],
        "k long, p string, val long, score int",
    ), key_cols=["k"])
    got = {r["k"]: r["score"] for r in store.read(spark).collect()}
    assert got == {1: 7, 2: 7, 3: None, 4: 5}
    assert "score" not in store.read(spark, version=v1).columns
    # rename follows the default
    store.rename_column("score", "quality")
    got = {r["k"]: r["quality"] for r in store.read(spark).collect()}
    assert got == {1: 7, 2: 7, 3: None, 4: 5}
    # compaction bakes the default into the files; reads unchanged
    store.compact(spark)
    got = {r["k"]: r["quality"] for r in store.read(spark).collect()}
    assert got == {1: 7, 2: 7, 3: None, 4: 5}
    # drop removes the default with the column; a re-add starts clean
    store.drop_column("quality")
    store.add_column("quality", IntegerType())
    got = {r["k"]: r["quality"] for r in store.read(spark).collect()}
    assert got == {1: None, 2: None, 3: None, 4: None}


def test_spec_evolution_retirement_scan_prunes_by_key_stats(spark, tmp_path):
    """The old-spec retirement probe range-prunes with manifest stats:
    an upsert whose (single numeric) key range cannot intersect an
    un-migrated partition's stored key bounds skips that partition's
    files entirely — and the result is still exact."""
    store = SnapshotStore(str(tmp_path / "t"), "region")
    store.commit(_mk4(spark, _BASE4))  # k in 1..4 per region
    store.repartition_spec("lang")
    # delta key far outside every stored k bound: probe must match
    # nothing, no delete entry appears, content is delta-append only
    v = store.upsert(
        spark, _mk4(spark, [(100, "ap", "en", 1)]), key_cols=["k"]
    )
    doc = store._manifest_doc(v)
    assert not doc.get("deletes")
    got = sorted((r["k"], r["val"]) for r in store.read(spark).collect())
    assert got == [(1, 10), (2, 20), (3, 30), (4, 40), (100, 1)]
    # delta key INSIDE the bounds still retires correctly
    v2 = store.upsert(
        spark, _mk4(spark, [(3, "eu", "en", 31)]), key_cols=["k"]
    )
    assert store._manifest_doc(v2).get("deletes")
    got = sorted((r["k"], r["val"]) for r in store.read(spark).collect())
    assert got == [(1, 10), (2, 20), (3, 31), (4, 40), (100, 1)]


def test_pending_spec_migration_report(spark, tmp_path):
    store = SnapshotStore(str(tmp_path / "t"), "region")
    store.commit(_mk4(spark, _BASE4))
    rep = store.pending_spec_migration()
    assert rep["pending"] is False and rep["n_old_spec_ptrs"] == 0
    store.repartition_spec("lang")
    rep = store.pending_spec_migration()
    assert rep == {
        "current_spec": "lang",
        "n_ptrs": 2,
        "n_old_spec_ptrs": 2,
        "old_spec_cols": ["region"],
        "pending": True,
    }
    store.compact(spark)
    rep = store.pending_spec_migration()
    assert rep["pending"] is False and rep["n_old_spec_ptrs"] == 0
    assert rep["current_spec"] == "lang"


# ------------------------------------------------- S31 equality deletes
def test_eq_delete_publishes_without_scanning_data(spark, tmp_path):
    # The headline property: delete_keys costs O(|keys|) — zero reads
    # of the table's data files. Evidence: it works even after the
    # data directories are made unreadable.
    import os
    import stat

    store = SnapshotStore(str(tmp_path / "t"), "p")
    store.commit(_mk(spark, [(1, "a", 10), (2, "b", 20), (3, "b", 30)]))
    ddirs = [
        os.path.join(store.data, d)
        for d in os.listdir(store.data)
        if d.startswith("p=")
    ]
    try:
        for d in ddirs:
            os.chmod(d, 0)
        v = store.delete_keys(spark, "k", [2, 99])
    finally:
        for d in ddirs:
            os.chmod(d, stat.S_IRWXU)
    assert v == 2
    assert _rows(store.read(spark)) == [(1, "a", 10), (3, "b", 30)]
    assert _rows(store.read(spark, version=1)) == [
        (1, "a", 10), (2, "b", 20), (3, "b", 30)
    ]
    e = store._manifest_doc(2)["deletes"][0]
    assert e["kind"] == "eq" and e["col"] == "k" and "partitions" not in e


def test_eq_delete_sequence_semantics_reinsert_survives(spark, tmp_path):
    # Iceberg eq-delete scoping: applies only to rows written BEFORE
    # the delete (_rv < id); a same-key re-insert afterwards survives.
    store = SnapshotStore(str(tmp_path / "t"), "p")
    store.commit(_mk(spark, [(1, "a", 10), (2, "a", 20), (9, "b", 90)]))
    store.delete_keys(spark, "k", [2, 9])
    assert _rows(store.read(spark)) == [(1, "a", 10)]
    store.upsert(spark, _mk(spark, [(2, "a", 99)]), ["k"])
    assert _rows(store.read(spark)) == [(1, "a", 10), (2, "a", 99)]
    # the entry is still live after the PARTIAL rewrite (global,
    # carried — partition b is still served by an inherited pointer)
    # but inert for the rewritten row, which carries a fresh _rv
    assert any(
        e.get("kind") == "eq"
        for e in store._manifest_doc(store.latest_version())["deletes"]
    )


def test_eq_delete_full_compact_folds_and_retires(spark, tmp_path):
    store = SnapshotStore(str(tmp_path / "t"), "p")
    store.commit(_mk(spark, [(1, "a", 10), (2, "b", 20), (3, "b", 30)]))
    store.delete_keys(spark, "k", [3])
    v = store.compact(spark)
    assert not store._manifest_doc(v).get("deletes")
    assert _rows(store.read(spark)) == [(1, "a", 10), (2, "b", 20)]
    # pre-compact versions still apply the delete through their own
    # manifests; v1 still has the row
    assert len(_rows(store.read(spark, version=2))) == 2
    assert len(_rows(store.read(spark, version=1))) == 3


def test_eq_delete_partial_compact_carries_entry_exactly(spark, tmp_path):
    # a partial rewrite cannot retire a global eq entry; rewritten
    # rows are exempted by the _rv guard, inherited rows stay filtered
    store = SnapshotStore(str(tmp_path / "t"), "p")
    store.commit(_mk(spark, [(1, "a", 10), (2, "b", 20), (3, "b", 30)]))
    store.delete_keys(spark, "k", [1, 3])
    v = store.compact(spark, partition_values=["b"])
    dels = store._manifest_doc(v).get("deletes")
    assert dels and dels[0]["kind"] == "eq"
    assert _rows(store.read(spark)) == [(2, "b", 20)]


def test_eq_delete_composes_with_rename_and_widen(spark, tmp_path):
    from pyspark.sql.types import LongType

    store = SnapshotStore(str(tmp_path / "t"), "p")
    store.commit(
        _mk(spark, [(1, "a", 10), (2, "a", 20), (3, "b", 30)]).withColumn(
            "val", F.col("val").cast("int")
        )
    )
    store.rename_column("k", "kid")          # v2
    store.delete_keys(spark, "kid", [2])      # v3: stored under phys 'k'
    assert store._manifest_doc(3)["deletes"][0]["col"] == "k"
    assert sorted(r["kid"] for r in store.read(spark).collect()) == [1, 3]
    store.widen_column("val", LongType())     # v4: delete still applies
    got = sorted(
        (r["kid"], r["val"]) for r in store.read(spark).collect()
    )
    assert got == [(1, 10), (3, 30)]


def test_eq_delete_drop_column_guard(spark, tmp_path):
    import pytest

    store = SnapshotStore(str(tmp_path / "t"), "p")
    store.commit(_mk(spark, [(1, "a", 10), (2, "a", 20)]))
    store.delete_keys(spark, "val", [20])
    with pytest.raises(ValueError, match="equality-delete"):
        store.drop_column("val")
    store.compact(spark)  # folds + retires
    store.drop_column("val")
    assert sorted(r["k"] for r in store.read(spark).collect()) == [1]


def test_eq_delete_changelog_disables_pointer_prune(spark, tmp_path):
    store = SnapshotStore(str(tmp_path / "t"), "p")
    store.commit(_mk(spark, [(1, "a", 10), (2, "b", 20), (3, "b", 30)]))
    store.delete_keys(spark, "k", [1, 3])
    ch = sorted(
        (r["op"], r["k"]) for r in
        store.read_changes(spark, 1, 2, key_cols=["k"]).collect()
    )
    assert ch == [("D", 1), ("D", 3)]


def test_eq_delete_vacuum_gc_and_branch_fork(spark, tmp_path):
    store = SnapshotStore(str(tmp_path / "t"), "p")
    store.commit(_mk(spark, [(1, "a", 10), (2, "b", 20)]))   # v1
    store.delete_keys(spark, "k", [1])                        # v2
    br = store.create_branch("wap")
    assert _rows(br.read(spark)) == [(2, "b", 20)]            # fork sees it
    br.delete_keys(spark, "k", [2])
    assert _rows(br.read(spark)) == []
    assert _rows(store.read(spark)) == [(2, "b", 20)]         # parent intact
    store.delete_branch("wap")
    store.commit(_mk(spark, [(5, "a", 50)]))                  # v3 (full)
    import os

    store.vacuum(retain_last=1, orphan_grace_sec=0.0)
    droot = os.path.join(store.data, "_deletes")
    left = sorted(os.listdir(droot)) if os.path.isdir(droot) else []
    assert left == []  # expired manifests released both key sets


# --------------------------------------- S32 metadata-only aggregation
def test_count_rows_opens_no_data_after_commit(spark, tmp_path):
    # counts were recorded at commit; answering must not touch data
    import os
    import stat

    store = SnapshotStore(str(tmp_path / "t"), "p")
    store.commit(_mk(spark, [(1, "a", 10), (2, "a", 20), (3, "b", 30)]))
    ddirs = [
        os.path.join(store.data, d)
        for d in os.listdir(store.data)
        if d.startswith("p=")
    ]
    try:
        for d in ddirs:
            os.chmod(d, 0)
        assert store.count_rows() == 3
    finally:
        for d in ddirs:
            os.chmod(d, stat.S_IRWXU)


def test_stats_agg_matches_scan_and_inherits(spark, tmp_path):
    store = SnapshotStore(str(tmp_path / "t"), "p")
    store.commit(_mk(spark, [(1, "a", 10), (2, "a", 20), (3, "b", 30)]))
    store.upsert(spark, _mk(spark, [(4, "b", 5), (9, "c", 90)]), ["k"])
    got = {
        r["partition"]: (r["n_rows"], r["val_min"], r["val_max"])
        for r in store.stats_agg(spark, ["val"]).collect()
    }
    assert got == {"a": (2, 10, 20), "b": (2, 5, 30), "c": (1, 90, 90)}
    assert store.count_rows() == 5
    assert store.count_rows(version=1) == 3


def test_count_refuses_pending_mor_then_recovers(spark, tmp_path):
    import pytest

    store = SnapshotStore(str(tmp_path / "t"), "p")
    store.commit(_mk(spark, [(1, "a", 10), (2, "b", 20)]))
    store.delete_where(spark, "val >= 20")
    with pytest.raises(ValueError, match="overcount"):
        store.count_rows()
    with pytest.raises(ValueError, match="overcount"):
        store.stats_agg(spark, ["val"])
    store.compact(spark)
    assert store.count_rows() == 1


def test_redact_refreshes_manifest_counts_every_version(spark, tmp_path):
    store = SnapshotStore(str(tmp_path / "t"), "p")
    store.commit(_mk(spark, [(1, "a", 10), (2, "a", 20), (3, "b", 30)]))
    store.commit(_mk(spark, [(1, "a", 11), (3, "b", 31)]))
    store.redact(spark, ["k"], _mk(spark, [(1, "a", 0)]))
    assert store.count_rows(version=1) == 2
    assert store.count_rows(version=2) == 1
    # bounds survive as supersets; counts are exact
    got = {
        r["partition"]: r["n_rows"]
        for r in store.stats_agg(spark, ["val"], version=1).collect()
    }
    assert got == {"a": 1, "b": 1}


def test_stats_agg_resolves_renamed_column_and_reserved_guard(spark, tmp_path):
    import pytest

    store = SnapshotStore(str(tmp_path / "t"), "p")
    store.commit(_mk(spark, [(1, "a", 10), (2, "b", 20)]))
    store.rename_column("val", "score")
    got = {
        r["partition"]: (r["n_rows"], r["score_min"], r["score_max"])
        for r in store.stats_agg(spark, ["score"]).collect()
    }
    assert got == {"a": (1, 10, 10), "b": (1, 20, 20)}
    with pytest.raises(ValueError, match="__rows"):
        store.commit(
            _mk(spark, [(1, "a", 10)]).withColumn("__rows", F.lit(1))
        )


# --------------------------------------------------- S33 MERGE INTO
def test_merge_three_clause_semantics(spark, tmp_path):
    store = SnapshotStore(str(tmp_path / "t"), "p")
    store.commit(_mk(spark, [
        (1, "a", 10), (2, "a", 20), (3, "b", 30), (4, "b", 40),
    ]))
    src = _mk(spark, [
        (2, "a", 99),   # matched, val 20 >= 15 -> UPDATE
        (3, "b", 77),   # matched, but t.val < 35 is false -> UPDATE
        (1, "a", 0),    # matched, t.val 10 < 15 -> DELETE
        (9, "c", 90),   # not matched -> INSERT (val >= 50)
        (8, "c", 8),    # not matched, insert cond fails -> nothing
    ])
    store.merge(
        spark, src, ["k"],
        matched_delete_cond="t.val < 15",
        not_matched_insert_cond="s.val >= 50",
    )
    assert _rows(store.read(spark)) == [
        (2, "a", 99), (3, "b", 77), (4, "b", 40), (9, "c", 90),
    ]
    # untouched-partition pointer inheritance: only a, b, c rewritten;
    # v1 time travel intact
    assert len(_rows(store.read(spark, version=1))) == 4


def test_merge_untouched_matched_rows_rewrite_nothing(spark, tmp_path):
    # a matched row passing neither clause enters no feed row; a
    # partition with only such rows keeps its inherited pointer
    store = SnapshotStore(str(tmp_path / "t"), "p")
    store.commit(_mk(spark, [(1, "a", 10), (2, "b", 20)]))
    store.merge(
        spark,
        _mk(spark, [(1, "a", 11), (2, "b", 99)]),
        ["k"],
        matched_update_cond="s.val < 50",   # only k=1 updates
    )
    doc = store._manifest_doc(2)
    assert doc["partitions"]["a"] == 2      # rewritten
    assert doc["partitions"]["b"] == 1      # inherited pointer
    assert _rows(store.read(spark)) == [(1, "a", 11), (2, "b", 20)]


def test_merge_not_matched_by_source_clauses(spark, tmp_path):
    # delete is tested BEFORE update (clause order), conditions see
    # only t.* (s.* is all-NULL on source-missing rows), SET image is
    # cast back to the target type, and matched/inserted rows route
    # through the ordinary clauses unchanged.
    store = SnapshotStore(str(tmp_path / "t"), "p")
    store.commit(_mk(spark, [
        (1, "a", 10), (2, "a", 20), (3, "b", 30), (4, "b", 40),
    ]))
    src = _mk(spark, [(2, "a", 99), (9, "c", 90)])
    store.merge(
        spark, src, ["k"],
        not_matched_by_source_delete="t.val < 15",       # kills k=1
        not_matched_by_source_update_set={"val": "t.val + 0.5"},
        not_matched_by_source_update_cond="t.val < 35",  # takes k=3
    )
    # k=1 deleted (val 10 < 15); k=3 updated to 30 (30.5 cast back to
    # the bigint target type); k=4 (val 40) passes neither NMBS clause
    # and stays untouched; k=2 matched-updated; k=9 inserted.
    assert _rows(store.read(spark)) == [
        (2, "a", 99), (3, "b", 30), (4, "b", 40), (9, "c", 90),
    ]
    # v1 time travel intact across the full-outer pass
    assert len(_rows(store.read(spark, version=1))) == 4


def test_merge_full_sync_mirror(spark, tmp_path):
    # not_matched_by_source_delete=True + unconditional matched update
    # + unconditional insert == make the target mirror the source
    store = SnapshotStore(str(tmp_path / "t"), "p")
    store.commit(_mk(spark, [(1, "a", 10), (2, "a", 20), (3, "b", 30)]))
    store.merge(
        spark,
        _mk(spark, [(2, "a", 21), (9, "c", 90)]),
        ["k"],
        not_matched_by_source_delete=True,
    )
    assert _rows(store.read(spark)) == [(2, "a", 21), (9, "c", 90)]
    # an emptied partition drops out of the manifest (no dangling dir)
    assert "b" not in store._manifest_doc(2)["partitions"]


def test_merge_nmbs_update_set_refusals(spark, tmp_path):
    import pytest

    store = SnapshotStore(str(tmp_path / "t"), "p")
    store.commit(_mk(spark, [(1, "a", 10)]))
    src = _mk(spark, [(1, "a", 11)])
    with pytest.raises(ValueError, match="key or partition-spec"):
        store.merge(
            spark, src, ["k"],
            not_matched_by_source_update_set={"p": "'z'"},
        )
    with pytest.raises(ValueError, match="key or partition-spec"):
        store.merge(
            spark, src, ["k"],
            not_matched_by_source_update_set={"k": "t.k + 1"},
        )
    with pytest.raises(ValueError, match="unknown columns"):
        store.merge(
            spark, src, ["k"],
            not_matched_by_source_update_set={"nope": "1"},
        )
    # refusals happen before any version claim: head still v1
    assert store.latest_version() == 1


def test_merge_without_nmbs_keeps_left_join(spark, tmp_path):
    # no NMBS clause -> the plan must stay a LEFT join (delta-scale
    # bound), not silently widen to full-outer
    store = SnapshotStore(str(tmp_path / "t"), "p")
    store.commit(_mk(spark, [(1, "a", 10), (2, "b", 20)]))
    # peek at the feed plan through a spy: simplest observable is
    # semantics — a target row missing from the source is untouched
    store.merge(spark, _mk(spark, [(1, "a", 11)]), ["k"])
    assert _rows(store.read(spark)) == [(1, "a", 11), (2, "b", 20)]


def test_merge_refuses_duplicate_source_keys(spark, tmp_path):
    import pytest

    store = SnapshotStore(str(tmp_path / "t"), "p")
    store.commit(_mk(spark, [(1, "a", 10)]))
    with pytest.raises(ValueError, match="multiple source rows"):
        store.merge(
            spark, _mk(spark, [(1, "a", 1), (1, "a", 2)]), ["k"]
        )


# ------------------------------------------------------ S34 rollback
def test_rollback_restores_content_keeps_history(spark, tmp_path):
    import pytest

    store = SnapshotStore(str(tmp_path / "t"), "p")
    store.commit(_mk(spark, [(1, "a", 10), (2, "b", 20)]))     # v1
    store.upsert(spark, _mk(spark, [(2, "b", 99)]), ["k"])      # v2 (bad)
    v3 = store.rollback(1)
    assert v3 == 3
    assert _rows(store.read(spark)) == [(1, "a", 10), (2, "b", 20)]
    # the bad commit stays auditable
    assert _rows(store.read(spark, version=2)) == [
        (1, "a", 10), (2, "b", 99)
    ]
    # metadata-only: v3 owns no data dirs of its own
    import os

    assert not any(
        vd == "v=3"
        for d in os.listdir(store.data)
        if d.startswith("p=")
        for vd in os.listdir(os.path.join(store.data, d))
    )
    with pytest.raises(ValueError, match="already at"):
        store.rollback(3)
    # changelog across the rollback: v2 -> v3 re-derives the undo
    ch = sorted(
        (r["op"], r["k"], r["val"])
        for r in store.read_changes(spark, 2, 3, key_cols=["k"]).collect()
    )
    assert ch == [("U", 2, 20)]


def test_rollback_carries_deletes_and_survives_vacuum(spark, tmp_path):
    store = SnapshotStore(str(tmp_path / "t"), "p")
    store.commit(_mk(spark, [(1, "a", 10), (2, "b", 20), (3, "b", 30)]))
    store.delete_keys(spark, "k", [3])                          # v2
    store.upsert(spark, _mk(spark, [(1, "a", 99)]), ["k"])       # v3
    store.rollback(2)                                            # v4
    assert _rows(store.read(spark)) == [(1, "a", 10), (2, "b", 20)]
    store.vacuum(retain_last=1, orphan_grace_sec=0.0)
    # the rolled-back head still serves: its manifest pins the v1
    # data dirs AND the v2 eq-delete file through the vacuum
    assert _rows(store.read(spark)) == [(1, "a", 10), (2, "b", 20)]


def test_eq_delete_zero_keys_publishes_noop(spark, tmp_path):
    # an empty key set must not leave an entry every future read
    # anti-joins against (self-review r11)
    store = SnapshotStore(str(tmp_path / "t"), "p")
    store.commit(_mk(spark, [(1, "a", 10)]))
    v = store.delete_keys(spark, "k", [])
    assert v == 2
    assert not store._manifest_doc(2).get("deletes")
    assert _rows(store.read(spark)) == [(1, "a", 10)]


def test_merge_null_source_key_inserts(spark, tmp_path):
    # a NULL key never matches (SQL equality), so the row routes to
    # the NOT MATCHED clause — Delta's ON-clause NULL semantics
    store = SnapshotStore(str(tmp_path / "t"), "p")
    store.commit(_mk(spark, [(1, "a", 10)]))
    store.merge(
        spark,
        spark.createDataFrame(
            [(None, "a", 99), (1, "a", 11)], "k long, p string, val long"
        ),
        ["k"],
    )
    got = sorted(
        ((r["k"], r["val"]) for r in store.read(spark).collect()),
        key=lambda t: (t[0] is None, t[0] or 0),
    )
    assert got == [(1, 11), (None, 99)]


# ------------------------------------------------- S35 operation log
def test_history_records_every_operation(spark, tmp_path):
    from pyspark.sql.types import DecimalType, StringType

    store = SnapshotStore(str(tmp_path / "t"), "p")
    store.commit(_mk(spark, [(1, "a", 10), (2, "b", 20), (3, "b", 30)]))
    store.upsert(spark, _mk(spark, [(2, "b", 21)]), ["k"])
    store.apply_changes(
        spark,
        spark.createDataFrame([Row(k=3, p="b", val=31, op="U")]),
        ["k"],
    )
    store.delete_keys(spark, "k", [1])
    store.delete_where(spark, "val > 100")
    store.merge(spark, _mk(spark, [(9, "c", 90)]), ["k"])
    store.add_column("tag", StringType())
    store.rename_column("val", "score")
    store.widen_column("k", DecimalType(20, 0))
    store.repartition_spec("score")
    store.compact(spark)
    store.rollback(2)
    h = store.history()
    ops = [e["operation"] for e in h]
    assert ops == [
        "commit", "upsert", "cdc", "eq-delete", "delete", "merge",
        "add-column", "rename-column", "widen-column", "respec",
        "compact", "rollback",
    ]
    assert [e["version"] for e in h] == list(range(1, 13))
    # exact counts where answerable, None while MOR deletes pending
    assert h[0]["n_rows"] == 3
    assert h[3]["n_rows"] is None          # eq-delete pending
    assert h[10]["n_rows"] == 3            # compact folded the eq-delete
                                           # of k=1 in: {2, 3, 9}
    assert h[-1]["n_rows"] == 3            # rollback restored v2's state
    assert all(e["committed_at"] is not None for e in h)
    df = store.history_df(spark)
    assert df.count() == 12
    assert [r["operation"] for r in df.orderBy("version").collect()] == ops


def test_history_branch_ops_and_vacuum_expiry(spark, tmp_path):
    store = SnapshotStore(str(tmp_path / "t"), "p")
    store.commit(_mk(spark, [(1, "a", 10)]))
    store.commit(_mk(spark, [(1, "a", 11)]))
    br = store.create_branch("wap")
    assert br.history()[0]["operation"] == "branch-fork"
    br.upsert(spark, _mk(spark, [(2, "a", 20)]), ["k"])
    store.merge_branch("wap")
    assert store.history()[-1]["operation"] == "branch-merge"
    store.vacuum(retain_last=1, orphan_grace_sec=0.0)
    # claims are store-global (the branch upsert claimed v3), so the
    # merge published parent v4 — the expired history drops to it
    assert [e["version"] for e in store.history()] == [4]


def test_merge_random_clauses_match_model(spark, tmp_path):
    """S33 property gate: seeded random MERGE programs — random source
    subsets (matched rows, fresh keys, value collisions) under random
    UPDATE/DELETE/INSERT threshold conditions — checked against a
    pure-Python executor of Delta's clause semantics (DELETE tested
    before UPDATE; unmatched sources route to INSERT; rows passing no
    clause untouched). The interleaving model check runs ONE fixed
    delete clause; this sweeps the clause space."""
    import random

    for seed in (7, 19):
        random.seed(seed)
        root = str(tmp_path / f"m{seed}")
        store = SnapshotStore(root, "p")
        part = {k: "abc"[k % 3] for k in range(1, 13)}
        state = {
            k: random.randrange(100)
            for k in random.sample(range(1, 13), 8)
        }
        store.commit(_mk(spark, [(k, part[k], v) for k, v in state.items()]))
        for _ in range(4):
            src = {
                k: random.randrange(100)
                for k in random.sample(range(1, 13), random.randint(1, 6))
            }
            ut, dt, it = (random.randrange(100) for _ in range(3))
            v = store.merge(
                spark,
                _mk(spark, [(k, part[k], val) for k, val in src.items()]),
                ["k"],
                matched_update_cond=f"s.val >= {ut}",
                matched_delete_cond=f"t.val < {dt}",
                not_matched_insert_cond=f"s.val >= {it}",
            )
            for k, sval in src.items():
                if k in state:
                    if state[k] < dt:
                        state.pop(k)
                    elif sval >= ut:
                        state[k] = sval
                elif sval >= it:
                    state[k] = sval
            got = _rows(store.read(spark, version=v))
            want = sorted((k, part[k], val) for k, val in state.items())
            assert got == want, f"seed={seed} v={v} ut={ut} dt={dt} it={it}"


# --------------------------------- r11 ADVICE fixes + S30b + vacuum age
def test_stats_agg_all_null_bounds_returns_nulls(spark, tmp_path):
    # r11 ADVICE: a requested column with no recorded bounds in ANY
    # partition (strings — parquet may truncate their stats) must
    # return NULL cells, not raise CANNOT_DETERMINE_TYPE from schema
    # inference over an all-None column.
    store = SnapshotStore(str(tmp_path / "t"), "p")
    df = spark.createDataFrame(
        [Row(k=1, p="a", val=10, name="x"), Row(k=2, p="b", val=20, name="y")]
    )
    store.commit(df)
    got = store.stats_agg(spark, ["name", "val"]).collect()
    assert {r["partition"] for r in got} == {"a", "b"}
    assert all(r["name_min"] is None and r["name_max"] is None for r in got)
    vals = {r["partition"]: (r["val_min"], r["val_max"]) for r in got}
    assert vals == {"a": (10, 10), "b": (20, 20)}
    # and the typed result is stable: string col bounds are double-
    # typed NULLs, recorded int bounds stay LONG
    sch = {f.name: f.dataType.simpleString()
           for f in store.stats_agg(spark, ["name", "val"]).schema.fields}
    assert sch["val_min"] == "bigint" and sch["name_min"] == "double"


def test_merge_source_named_count_and_nondeterministic(spark, tmp_path):
    # r11 ADVICE: (a) a source column literally named 'count' must not
    # break the duplicate-key check; (b) the source is pinned once —
    # a non-deterministic source cannot pass the dup check yet feed
    # different rows into the clause join.
    store = SnapshotStore(str(tmp_path / "t"), "p")
    base = spark.createDataFrame([Row(k=1, p="a", count=10)])
    store.commit(base)
    src = spark.createDataFrame([Row(k=1, p="a", count=77),
                                 Row(k=2, p="b", count=20)])
    store.merge(spark, src, ["k"])
    got = sorted((r["k"], r["count"]) for r in store.read(spark).collect())
    assert got == [(1, 77), (2, 20)]
    # non-deterministic source: rand()-derived key set — localCheckpoint
    # pins ONE materialization, so merge sees a consistent image (runs
    # without the dup-check/feed divergence; content is then coherent)
    nd = (
        spark.range(200)
        .withColumn("k", (F.rand(seed=None) * 1000).cast("long") + 100)
        .withColumn("p", F.lit("a"))
        .withColumn("count", F.lit(1))
        .select("k", "p", "count")
        .dropDuplicates(["k"])
    )
    store2 = SnapshotStore(str(tmp_path / "t2"), "p")
    store2.commit(spark.createDataFrame([Row(k=1, p="a", count=0)]))
    v = store2.merge(spark, nd, ["k"])
    # every key in the table appears exactly once
    cnt = (
        store2.read(spark, version=v)
        .groupBy("k").agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1).count()
    )
    assert cnt == 0


def test_delete_keys_refuses_uncastable_key_frame(spark, tmp_path):
    # r11 ADVICE: keys that become NULL under the cast to the key
    # column's type must raise, not silently never-match.
    import pytest

    store = SnapshotStore(str(tmp_path / "t"), "p")
    store.commit(_mk(spark, [(1, "a", 10), (2, "b", 20)]))
    bad = spark.createDataFrame([Row(key="not-a-number"), Row(key="2")])
    with pytest.raises(ValueError, match="cast"):
        store.delete_keys(spark, "k", bad)
    # clean-casting frame still works
    ok = spark.createDataFrame([Row(key="2")])
    store.delete_keys(spark, "k", ok)
    assert _rows(store.read(spark)) == [(1, "a", 10)]


def test_history_unknown_op_for_pre_s35_manifest(spark, tmp_path):
    # r11 ADVICE: a manifest without an op field (pre-S35) reports
    # 'unknown', not a fabricated 'commit'.
    import json as _json

    store = SnapshotStore(str(tmp_path / "t"), "p")
    store.commit(_mk(spark, [(1, "a", 10)]))
    mp = store._mpath(1)
    doc = _json.load(open(mp))
    doc.pop("op")
    with open(mp, "w") as fh:
        _json.dump(doc, fh)
    assert [e["operation"] for e in store.history()] == ["unknown"]


def test_vacuum_older_than_retains_age_window(spark, tmp_path):
    # S15b: retention-by-age — versions newer than the cutoff survive,
    # older ones expire, the current snapshot and tags are never
    # expired. Deterministic via the injectable commit clock.
    import pytest

    t = {"now": 1000.0}
    store = SnapshotStore(str(tmp_path / "t"), "p", clock=lambda: t["now"])
    for i in range(5):
        t["now"] = 1000.0 + i * 100  # v1..v5 at t=1000,1100,...,1400
        store.upsert(spark, _mk(spark, [(1, "a", i)]), ["k"]) if i else \
            store.commit(_mk(spark, [(1, "a", 0)]))
    store.tag("pin", version=2)
    store.vacuum(retain_last=1, older_than=1250.0, orphan_grace_sec=0.0)
    # kept: v4 (t=1300) + v5 (t=1400) by age, v5 by retain_last/current,
    # v2 by tag; expired: v1, v3
    assert store._published_versions() == [2, 4, 5]
    assert _rows(store.read(spark, version=4)) == [(1, "a", 3)]
    assert _rows(store.read(spark, tag="pin")) == [(1, "a", 1)]
    with pytest.raises(FileNotFoundError):
        store.read(spark, version=3)
    # cutoff in the future expires everything but the head + tag
    store.vacuum(retain_last=1, older_than=9999.0, orphan_grace_sec=0.0)
    assert store._published_versions() == [2, 5]


def test_composite_spec_lifecycle(spark, tmp_path):
    # S30b: multi-field transform spec — metadata-only flip, derived
    # directories for new writes, spec-blind reads, point reads via
    # spec_key, equality pruning via prune_keys, migration compact.
    import zlib

    store = SnapshotStore(str(tmp_path / "t"), "p")
    store.commit(_mk(spark, [(1, "a", 10), (2, "a", 20), (3, "b", 30)]))
    v2 = store.repartition_spec(["p", "bucket(4, k)"])
    spec = store._doc_specs(store._manifest_doc(v2))[-1]
    assert spec["fields"] == [
        {"src": "p", "t": None}, {"src": "k", "t": ["bucket", 4]}
    ]
    v3 = store.upsert(spark, _mk(spark, [(1, "a", 11), (9, "c", 90)]), ["k"])
    doc = store._manifest_doc(v3)
    b1 = zlib.crc32(b"1") % 4
    assert f"__sp{v2}=a~{b1}" in doc["partitions"]
    assert _rows(store.read(spark)) == [
        (1, "a", 11), (2, "a", 20), (3, "b", 30), (9, "c", 90)]
    # point read scans exactly the one derived directory
    key = store.spec_key({"p": "a", "k": 1})
    assert _rows(store.read(spark, partition_values=[key])) == [(1, "a", 11)]
    # pruning: old-spec keys kept conservatively, matching bucket kept,
    # non-matching new-spec keys dropped
    pk = store.prune_keys("k", 1)
    assert key in pk and f"__sp{v2}=c~{zlib.crc32(b'9') % 4}" not in pk
    assert {"p=a", "p=b"} <= set(pk)
    # identity field prunes BOTH spec epochs
    pa = store.prune_keys("p", "a")
    assert "p=b" not in pa and key in pa and "p=a" in pa
    # migration compact: all pointers under the composite spec, spec
    # history pruned, content identical
    v5 = store.compact(spark)
    doc5 = store._manifest_doc(v5)
    assert all(k.startswith(f"__sp{v2}=") for k in doc5["partitions"])
    assert len(store._doc_specs(doc5)) == 1
    assert _rows(store.read(spark)) == [
        (1, "a", 11), (2, "a", 20), (3, "b", 30), (9, "c", 90)]
    # time travel across epochs intact
    assert _rows(store.read(spark, version=1)) == [
        (1, "a", 10), (2, "a", 20), (3, "b", 30)]


def test_composite_spec_truncate_null_and_guards(spark, tmp_path):
    import pytest

    store = SnapshotStore(str(tmp_path / "t"), "p")
    store.commit(spark.createDataFrame([
        Row(k=1, p="x", val=23, name="alphabet"),
        Row(k=2, p="y", val=-7, name=None),
    ]))
    v2 = store.repartition_spec(["truncate(4, name)", "truncate(10, val)"])
    store.upsert(spark, spark.createDataFrame(
        [Row(k=3, p="z", val=27, name="alpine")]), ["k"])
    doc = store._manifest_doc(store.latest_version())
    assert f"__sp{v2}=alpi~20" in doc["partitions"]
    # int truncate floors negatives to the lower multiple; NULL source
    # renders the reserved token — write one of each and check keys
    store.upsert(spark, spark.createDataFrame(
        [(4, "w", -7, None)], "k long, p string, val long, name string"
    ), ["k"])
    doc = store._manifest_doc(store.latest_version())
    assert f"__sp{v2}=__null__~-10" in doc["partitions"]
    got = sorted((r["k"], r["name"], r["val"])
                 for r in store.read(spark).collect())
    assert got == [(1, "alphabet", 23), (2, None, -7),
                   (3, "alpine", 27), (4, None, -7)]
    # guards: dropping a composite SOURCE refused; float sources and
    # unparseable fields refused; no-op respec refused
    with pytest.raises(ValueError, match="partition column"):
        store.drop_column("name")
    with pytest.raises(ValueError, match="already the partition spec"):
        store.repartition_spec(["truncate(4, name)", "truncate(10, val)"])
    with pytest.raises(ValueError, match="unparseable"):
        store.repartition_spec(["bucket(4)"])
    store2 = SnapshotStore(str(tmp_path / "f"), "p")
    store2.commit(spark.createDataFrame([Row(k=1, p="a", x=1.5)]))
    with pytest.raises(ValueError, match="int-like"):
        store2.repartition_spec(["bucket(8, x)"])
    # single-field identity list degrades to the single-column form
    v = store2.repartition_spec(["k"])
    assert store2._doc_specs(store2._manifest_doc(v))[-1] == {
        "col": "k", "since": v}


def test_composite_spec_rename_source_still_writes(spark, tmp_path):
    # renaming a composite SOURCE is metadata-only and safe: the spec
    # tracks the physical name; the derived expression resolves the
    # new logical name through the colmap on the next write
    store = SnapshotStore(str(tmp_path / "t"), "p")
    store.commit(_mk(spark, [(1, "a", 10)]))
    v2 = store.repartition_spec(["p", "bucket(4, k)"])
    store.rename_column("k", "doc_id")
    delta = spark.createDataFrame([Row(doc_id=5, p="b", val=50)])
    store.upsert(spark, delta, ["doc_id"])
    got = sorted((r["doc_id"], r["p"], r["val"])
                 for r in store.read(spark).collect())
    assert got == [(1, "a", 10), (5, "b", 50)]
    key = store.spec_key({"p": "b", "doc_id": 5})
    assert key.startswith(f"__sp{v2}=b~")
    got1 = [(r["doc_id"], r["val"])
            for r in store.read(spark, partition_values=[key]).collect()]
    assert got1 == [(5, 50)]


def test_where_eq_prunes_through_transform_specs(spark, tmp_path):
    """S30b automatic equality pruning: read(where_eq=(field, value))
    evaluates the predicate against every spec epoch's transforms and
    scans only consistent directories — the engine-side form of
    prune_keys (no manual key construction), exact via the residual
    row filter."""
    import zlib

    store = SnapshotStore(str(tmp_path / "t"), "p")
    store.commit(_mk(spark, [(1, "a", 10), (2, "b", 20), (17, "b", 30)]))
    store.repartition_spec(["p", "bucket(4, k)"])
    store.upsert(spark, _mk(spark, [(5, "c", 50), (9, "c", 90)]), ["k"])
    # single-col epoch key p=a/p=b + composite epoch keys for c
    df = store.read(spark, where_eq=("k", 17))
    files = df.inputFiles()
    # k=17 lives in the OLD single-col spec — old dirs are kept
    # conservatively (the old spec derives from p, not k), composite
    # dirs whose bucket(k) mismatches are dropped
    b17 = zlib.crc32(b"17") % 4
    b5 = zlib.crc32(b"5") % 4
    b9 = zlib.crc32(b"9") % 4
    assert all(f"__sp2=c~{b5}" not in f or b5 == b17 for f in files)
    assert all(f"__sp2=c~{b9}" not in f or b9 == b17 for f in files)
    assert _rows(df) == [(17, "b", 30)]
    # equality on a new-spec row: exactly the matching composite dir +
    # the conservative old-spec dirs
    df9 = store.read(spark, where_eq=("k", 9))
    assert _rows(df9) == [(9, "c", 90)]
    # after migration the whole table is composite: pruning on the
    # bucket source now drops every non-matching directory
    store.compact(spark)
    df9m = store.read(spark, where_eq=("k", 9))
    assert _rows(df9m) == [(9, "c", 90)]
    keys = {f.split("/data/")[1].split("/")[0] for f in df9m.inputFiles()}
    assert all(k.endswith(f"~{b9}") for k in keys), keys
    # identity field prunes too (composite identity component)
    dfc = store.read(spark, where_eq=("p", "c"))
    keysc = {f.split("/data/")[1].split("/")[0] for f in dfc.inputFiles()}
    assert all(k.startswith("__sp2=c~") for k in keysc), keysc
    assert _rows(dfc) == [(5, "c", 50), (9, "c", 90)]


# -------------------------------------- r12 storage review-fix regressions
def test_upsert_reads_base_before_claiming(spark, tmp_path):
    """A racer that claims+publishes between this writer's version
    claim and its publish must surface as ConcurrentWriteError — never
    as a silently-lost update. (The old claim-then-read ordering let
    the writer base on the racer's head yet publish a LOWER version
    that passed CAS and was never served.)"""
    import pytest

    root = str(tmp_path / "t")
    store = SnapshotStore(root, "p")
    store.commit(_mk(spark, [(1, "a", 10)]))
    orig_claim = store._claim_version
    fired = {"done": False}

    def claim_with_racer():
        v = orig_claim()
        if not fired["done"]:
            fired["done"] = True
            # the racer claims a HIGHER number and publishes first
            SnapshotStore(root, "p").upsert(
                spark, _mk(spark, [(2, "a", 20)]), ["k"]
            )
        return v

    store._claim_version = claim_with_racer
    with pytest.raises(ConcurrentWriteError):
        store.upsert(spark, _mk(spark, [(1, "a", 11)]), ["k"])
    store._claim_version = orig_claim
    # the racer's write is at head; a retry lands on top of it
    store.upsert(spark, _mk(spark, [(1, "a", 11)]), ["k"])
    assert _rows(store.read(spark)) == [(1, "a", 11), (2, "a", 20)]


def test_partition_column_type_gate(spark, tmp_path):
    """Boolean/float/timestamp partition columns are refused: their
    python str() rendering diverges from Spark's directory rendering
    (str(True)='True' vs dir 'true'), which would make upsert replace
    instead of merge — silent row loss."""
    import pytest
    from pyspark.sql import Row as R

    store = SnapshotStore(str(tmp_path / "t"), "flag")
    with pytest.raises(ValueError, match="int-like / string / date"):
        store.commit(spark.createDataFrame([R(k=1, flag=True, val=10)]))
    store2 = SnapshotStore(str(tmp_path / "t2"), "w")
    with pytest.raises(ValueError, match="int-like / string / date"):
        store2.commit(spark.createDataFrame([R(k=1, w=0.5, val=10)]))


def test_numeric_looking_string_partition_round_trips(spark, tmp_path):
    """'00123' must read back as '00123', not inference-re-rendered
    '123' — and an upsert against it must merge, not split the
    partition into two keys."""
    from pyspark.sql import Row as R

    store = SnapshotStore(str(tmp_path / "t"), "code")
    store.commit(spark.createDataFrame(
        [R(k=1, code="00123", val=10), R(k=2, code="00123", val=20)]
    ))
    got = sorted((r["k"], r["code"]) for r in store.read(spark).collect())
    assert got == [(1, "00123"), (2, "00123")], got
    store.upsert(
        spark,
        spark.createDataFrame([R(k=1, code="00123", val=11)]),
        ["k"],
    )
    doc = store._manifest_doc(2)
    assert sorted(doc["partitions"]) == ["00123"], doc["partitions"]
    got = sorted((r["k"], r["code"], r["val"])
                 for r in store.read(spark).collect())
    assert got == [(1, "00123", 11), (2, "00123", 20)], got
    # where_eq prunes by the RAW value too
    assert store.prune_keys("code", "00123") == ["00123"]
    assert sorted(
        (r["k"], r["val"])
        for r in store.read(spark, where_eq=("code", "00123")).collect()
    ) == [(1, 11), (2, 20)]


def test_point_read_of_absent_partition_is_empty(spark, tmp_path):
    store = SnapshotStore(str(tmp_path / "t"), "p")
    store.commit(_mk(spark, [(1, "a", 10)]))
    out = store.read(spark, partition_values=["zzz"])
    assert out.count() == 0
    assert set(out.columns) == {"k", "p", "val"}


def test_eq_delete_refuses_null_keys(spark, tmp_path):
    import pytest
    from pyspark.sql import Row as R

    store = SnapshotStore(str(tmp_path / "t"), "p")
    store.commit(_mk(spark, [(1, "a", 10)]))
    with pytest.raises(ValueError, match="NULL equality-delete"):
        store.delete_keys(spark, "k", [None, 1])
    kdf = spark.createDataFrame(
        [R(key=None), R(key=1)], "key long"
    )
    with pytest.raises(ValueError, match="NULL equality-delete"):
        store.delete_keys(spark, "k", kdf)


def test_merge_source_column_named_op(spark, tmp_path):
    """The CDC op rides a reserved name, so a source column literally
    named 'op' merges cleanly."""
    from pyspark.sql import Row as R

    store = SnapshotStore(str(tmp_path / "t"), "p")
    store.commit(spark.createDataFrame([R(k=1, p="a", op="x", val=10)]))
    store.merge(
        spark,
        spark.createDataFrame([R(k=1, p="a", op="y", val=11),
                               R(k=2, p="b", op="z", val=20)]),
        ["k"],
    )
    got = sorted((r["k"], r["op"], r["val"])
                 for r in store.read(spark).collect())
    assert got == [(1, "y", 11), (2, "z", 20)], got


def test_del_char_partition_value_round_trips(spark, tmp_path):
    """chr(0x7F) is in Spark's directory escape set; the store's
    escape table must match or the directory is never found again."""
    from pyspark.sql import Row as R

    store = SnapshotStore(str(tmp_path / "t"), "p")
    val = "a" + chr(0x7F) + "b"
    store.commit(spark.createDataFrame([R(k=1, p=val, x=10)]))
    got = [(r["k"], r["p"]) for r in store.read(spark).collect()]
    assert got == [(1, val)]
    store.upsert(spark, spark.createDataFrame([R(k=2, p=val, x=20)]), ["k"])
    assert sorted(r["k"] for r in store.read(spark).collect()) == [1, 2]
    assert store.vacuum(retain_last=2, orphan_grace_sec=0.0) == []


def test_merge_detects_base_move_between_read_and_apply(spark, tmp_path):
    """merge() evaluates its clause conditions against the head it
    read; a racer publishing before the feed is applied must surface
    as ConcurrentWriteError — never as clause decisions made against
    stale rows silently clobbering the racer's commit."""
    import pytest

    root = str(tmp_path / "t")
    store = SnapshotStore(root, "p")
    store.commit(_mk(spark, [(1, "a", 10), (2, "a", 20)]))
    orig_claim = store._claim_version
    fired = {"done": False}

    def claim_after_racer():
        if not fired["done"]:
            fired["done"] = True
            # the racer lands a commit between merge's base read and
            # the feed apply (which claims the version first)
            SnapshotStore(root, "p").upsert(
                spark, _mk(spark, [(2, "a", 99)]), ["k"]
            )
        return orig_claim()

    store._claim_version = claim_after_racer
    with pytest.raises(ConcurrentWriteError, match="base moved"):
        store.merge(
            spark,
            _mk(spark, [(1, "a", 11)]),
            ["k"],
            not_matched_by_source_delete="t.val < 50",
        )
    store._claim_version = orig_claim
    # the racer's write survived; a retry sees the new head, where
    # val=99 FAILS the delete condition — the racer's row lives on
    # (under the old silent-overwrite behavior the stale val=20
    # evaluation would have deleted it)
    store.merge(
        spark,
        _mk(spark, [(1, "a", 11)]),
        ["k"],
        not_matched_by_source_delete="t.val < 50",
    )
    assert _rows(store.read(spark)) == [(1, "a", 11), (2, "a", 99)]


def test_merge_nmbs_degenerate_clause_refusals(spark, tmp_path):
    """An empty SET dict (would full-outer-rewrite an identical table)
    and a dangling update condition (would be silently ignored) are
    refused before any version claim."""
    import pytest

    store = SnapshotStore(str(tmp_path / "t"), "p")
    store.commit(_mk(spark, [(1, "a", 10)]))
    src = _mk(spark, [(1, "a", 11)])
    with pytest.raises(ValueError, match="UPDATE SET is empty"):
        store.merge(
            spark, src, ["k"], not_matched_by_source_update_set={}
        )
    with pytest.raises(ValueError, match="silently ignored"):
        store.merge(
            spark, src, ["k"],
            not_matched_by_source_update_cond="t.val < 5",
        )
    assert store.latest_version() == 1


def test_merge_random_nmbs_clauses_match_model(spark, tmp_path):
    """Full five-clause sweep: the NMBS DELETE/UPDATE-SET pair joins
    the random-program gate (delete tested before update on BOTH the
    matched and the source-missing side; conditions over t.*; SET
    applies an expression to surviving source-missing rows)."""
    import random

    for seed in (11, 23):
        random.seed(seed)
        root = str(tmp_path / f"nm{seed}")
        store = SnapshotStore(root, "p")
        part = {k: "abc"[k % 3] for k in range(1, 13)}
        state = {
            k: random.randrange(100)
            for k in random.sample(range(1, 13), 8)
        }
        store.commit(_mk(spark, [(k, part[k], v) for k, v in state.items()]))
        for _ in range(3):
            src = {
                k: random.randrange(100)
                for k in random.sample(range(1, 13), random.randint(1, 6))
            }
            ut, dt, it, ndt, nut = (random.randrange(100) for _ in range(5))
            add = random.randrange(1000, 9000)
            v = store.merge(
                spark,
                _mk(spark, [(k, part[k], val) for k, val in src.items()]),
                ["k"],
                matched_update_cond=f"s.val >= {ut}",
                matched_delete_cond=f"t.val < {dt}",
                not_matched_insert_cond=f"s.val >= {it}",
                not_matched_by_source_delete=f"t.val < {ndt}",
                not_matched_by_source_update_set={"val": f"t.val + {add}"},
                not_matched_by_source_update_cond=f"t.val >= {nut}",
            )
            for k in list(state):
                if k in src:
                    continue
                if state[k] < ndt:
                    state.pop(k)
                elif state[k] >= nut:
                    state[k] = state[k] + add
            for k, sval in src.items():
                if k in state:
                    if state[k] < dt:
                        state.pop(k)
                    elif sval >= ut:
                        state[k] = sval
                elif sval >= it:
                    state[k] = sval
            got = _rows(store.read(spark, version=v))
            want = sorted((k, part[k], val) for k, val in state.items())
            assert got == want, (
                f"seed={seed} v={v} ut={ut} dt={dt} it={it} "
                f"ndt={ndt} nut={nut} add={add}"
            )


# ----------------------------------------------------- shallow clone
def test_clone_zero_copy_and_divergence(spark, tmp_path):
    """Clone is a pointer copy (every inherited leaf a symlink, no
    bytes duplicated) and the two tables diverge independently."""
    src = SnapshotStore(str(tmp_path / "src"), "p")
    src.commit(_mk(spark, [(1, "a", 10), (2, "a", 20), (3, "b", 30)]))
    src.upsert(spark, _mk(spark, [(1, "a", 11)]), ["k"])

    cl = src.clone(str(tmp_path / "cl"))
    # first clone version CONTINUES the source lineage (v2 here)
    assert cl.latest_version() == 2
    assert _rows(cl.read(spark)) == _rows(src.read(spark))
    # zero copy: every leaf dir under the clone's data is a symlink
    leaves = glob.glob(os.path.join(str(tmp_path / "cl"), "data", "*", "v=*"))
    assert leaves and all(os.path.islink(d) for d in leaves)
    # divergence: clone write invisible to source and vice versa
    cl.upsert(spark, _mk(spark, [(2, "a", 99)]), ["k"])
    src.upsert(spark, _mk(spark, [(3, "b", 77)]), ["k"])
    assert _rows(cl.read(spark)) == [(1, "a", 11), (2, "a", 99), (3, "b", 30)]
    assert _rows(src.read(spark)) == [(1, "a", 11), (2, "a", 20), (3, "b", 77)]
    # the clone's own write claimed a version ABOVE the inherited ones
    assert cl.latest_version() == 3
    assert cl.history()[-1]["operation"] == "upsert"
    assert cl.history()[0]["operation"] == "clone"
    # clone-side write landed locally, not in the source's data dir
    local = os.path.join(str(tmp_path / "cl"), "data", "p=a", "v=3")
    assert os.path.isdir(local) and not os.path.islink(local)


def test_clone_vacuum_drops_references_not_source_bytes(spark, tmp_path):
    src = SnapshotStore(str(tmp_path / "src"), "p")
    src.commit(_mk(spark, [(1, "a", 10), (3, "b", 30)]))
    cl = src.clone(str(tmp_path / "cl"))
    # privatize everything, then vacuum the clone down to its head
    cl.commit(_mk(spark, [(1, "a", 1), (3, "b", 3)]))
    deleted = cl.vacuum(retain_last=1, orphan_grace_sec=0)
    assert deleted  # the inherited symlinks were collected
    # source data untouched, source still reads fine
    assert os.path.isdir(os.path.join(str(tmp_path / "src"), "data", "p=a", "v=1"))
    assert _rows(src.read(spark)) == [(1, "a", 10), (3, "b", 30)]
    assert _rows(cl.read(spark)) == [(1, "a", 1), (3, "b", 3)]


def test_clone_carries_mor_deletes_and_guards(spark, tmp_path):
    src = SnapshotStore(str(tmp_path / "src"), "p")
    src.commit(_mk(spark, [(1, "a", 10), (2, "a", 20), (3, "b", 30)]))
    src.delete_where(spark, F.col("k") == 2)  # pending MOR delete set
    cl = src.clone(str(tmp_path / "cl"))
    assert _rows(cl.read(spark)) == [(1, "a", 10), (3, "b", 30)]
    ddir = os.path.join(str(tmp_path / "cl"), "data", "_deletes", "d=2")
    assert os.path.islink(ddir)
    # guards: no clone of a branch, no clone onto a non-empty dir,
    # no clone of an unpublished version
    br = src.create_branch("wap")
    import pytest as _pytest

    with _pytest.raises(ValueError):
        br.clone(str(tmp_path / "x"))
    with _pytest.raises(ValueError):
        src.clone(str(tmp_path / "cl"))
    with _pytest.raises(ValueError):
        src.clone(str(tmp_path / "y"), version=99)


def test_clone_breaks_loudly_after_source_vacuum(spark, tmp_path):
    """The documented Delta caveat, for UNPINNED clones (pin=False):
    source-side vacuum does not know about them; expired shared dirs
    leave the clone's inherited pointers dangling — reads fail
    loudly, never silently wrong."""
    import pytest as _pytest

    src = SnapshotStore(str(tmp_path / "src"), "p")
    src.commit(_mk(spark, [(1, "a", 10)]))
    cl = src.clone(str(tmp_path / "cl"), pin=False)
    src.commit(_mk(spark, [(1, "a", 11)]))  # v2 rewrites partition a
    src.vacuum(retain_last=1, orphan_grace_sec=0)  # expires v1 dirs
    with _pytest.raises(Exception):
        cl.read(spark).collect()


def test_clone_pin_tag_survives_source_vacuum(spark, tmp_path):
    """Default pin=True: the clone leaves a source-side tag pinning
    the forked version, so source vacuums keep the shared dirs; the
    clone reads fine until the tag is deleted, after which the next
    vacuum collects and the clone breaks loudly."""
    import pytest as _pytest

    src = SnapshotStore(str(tmp_path / "src"), "p")
    src.commit(_mk(spark, [(1, "a", 10)]))
    cl = src.clone(str(tmp_path / "cl"))
    assert src.tags() == {"clone-cl": 1}
    src.commit(_mk(spark, [(1, "a", 11)]))
    src.vacuum(retain_last=1, orphan_grace_sec=0)
    assert _rows(cl.read(spark)) == [(1, "a", 10)]  # pinned → intact
    src.delete_tag("clone-cl")
    src.vacuum(retain_last=1, orphan_grace_sec=0)
    with _pytest.raises(Exception):
        cl.read(spark).collect()


# ------------------------------------------------- metadata inheritance
# Every publishing verb derives its manifest from a base manifest plus
# only the keys it changes. Run each verb on a table that carries all
# three kinds of table metadata a verb can silently drop — a renamed
# column (colmap), a defaulted added column (defaults), an evolved
# partition spec (specs) — plus a live delete entry, and check that
# the new head keeps each of them unless the verb changes it.

_META_KEYS = ("colmap", "defaults", "specs")
_META_DDL = "k long, p string, val int, grp string, extra long"


@pytest.fixture(scope="module")
def _meta_table(spark, tmp_path_factory):
    from pyspark.sql.types import LongType

    root = str(tmp_path_factory.mktemp("meta") / "t")
    st = SnapshotStore(root, "p")
    st.commit(spark.createDataFrame(
        [(1, "a", 10, "x"), (2, "a", 20, "y"), (3, "b", 30, "x"),
         (4, "c", 40, "z")],
        "k long, p string, val int, g string",
    ))
    st.add_column("extra", LongType(), default=7)
    st.rename_column("g", "grp")
    st.repartition_spec("grp")
    st.delete_where(spark, "k = 3")
    doc = st._manifest_doc(st.latest_version())
    assert doc["colmap"]["grp"] == "g" and doc["defaults"]
    assert len(doc["specs"]) == 2 and doc["deletes"]
    return root


def _meta_rows(spark, *rows):
    return spark.createDataFrame(list(rows), _META_DDL)


def _head(st):
    return st._manifest_doc(st.latest_version())


def _verb_commit(spark, st, tmp):
    st.commit(st.read(spark))
    return st


def _verb_upsert(spark, st, tmp):
    st.upsert(spark, _meta_rows(spark, (5, "a", 50, "x", 1)), ["k"])
    return st


def _verb_apply_changes(spark, st, tmp):
    st.apply_changes(spark, spark.createDataFrame(
        [("U", 2, "a", 21, "y", 2), ("D", 4, "c", 40, "z", 7)],
        "op string, " + _META_DDL,
    ), ["k"])
    return st


def _verb_merge(spark, st, tmp):
    st.merge(spark, _meta_rows(spark, (1, "a", 11, "x", 3),
                               (6, "b", 60, "y", 4)), ["k"])
    return st


def _verb_delete_where(spark, st, tmp):
    st.delete_where(spark, "k = 1")
    return st


def _verb_delete_keys(spark, st, tmp):
    st.delete_keys(spark, "grp", ["z"])
    return st


def _verb_compact(spark, st, tmp):
    # a current-spec partition only: old-spec pointers stay, so the
    # spec history must survive
    st.upsert(spark, _meta_rows(spark, (5, "a", 50, "q", 1)), ["k"])
    st.compact(spark, ["g=q"])
    return st


def _verb_repartition_spec(spark, st, tmp):
    st.repartition_spec("p")
    return st


def _verb_add_column(spark, st, tmp):
    from pyspark.sql.types import StringType

    st.add_column("note", StringType())
    return st


def _verb_rename_column(spark, st, tmp):
    st.rename_column("val", "amount")
    return st


def _verb_drop_column(spark, st, tmp):
    st.drop_column("val")
    return st


def _verb_widen_column(spark, st, tmp):
    from pyspark.sql.types import LongType

    st.widen_column("val", LongType())
    return st


def _verb_rollback(spark, st, tmp):
    st.rollback(3)  # after the rename, before the respec
    return st


def _verb_create_branch(spark, st, tmp):
    return st.create_branch("dev")


def _verb_merge_branch(spark, st, tmp):
    from pyspark.sql.types import StringType

    br = st.create_branch("dev")
    br.add_column("note", StringType(), default="n")
    st.merge_branch("dev")
    return st


def _verb_clone(spark, st, tmp):
    return st.clone(str(tmp / "clone"))


# verb -> (run, the metadata keys it changes, base-manifest resolver)
_META_VERBS = {
    "commit": (_verb_commit, {"colmap", "defaults", "specs"}, None),
    "upsert": (_verb_upsert, set(), None),
    "apply_changes": (_verb_apply_changes, set(), None),
    "merge": (_verb_merge, set(), None),
    "delete_where": (_verb_delete_where, set(), None),
    "delete_keys": (_verb_delete_keys, set(), None),
    "compact": (_verb_compact, set(), None),
    "repartition_spec": (_verb_repartition_spec, {"specs"}, None),
    "add_column": (_verb_add_column, {"colmap"}, None),
    "rename_column": (_verb_rename_column, {"colmap"}, None),
    "drop_column": (_verb_drop_column, {"colmap"}, None),
    "widen_column": (_verb_widen_column, set(), None),
    "rollback": (_verb_rollback, set(), lambda st: st._manifest_doc(3)),
    "create_branch": (_verb_create_branch, set(), None),
    # the parent's new head derives from the branch head
    "merge_branch": (
        _verb_merge_branch, set(), lambda st: _head(st.branch("dev"))
    ),
    "clone": (_verb_clone, set(), None),
}


@pytest.mark.parametrize("verb", sorted(_META_VERBS))
def test_every_verb_keeps_table_metadata(spark, tmp_path, _meta_table, verb):
    import shutil

    run, changed, resolve_base = _META_VERBS[verb]
    root = str(tmp_path / "t")
    shutil.copytree(_meta_table, root)
    st = SnapshotStore(root, "p")
    before = _head(st)
    out = run(spark, st, tmp_path)
    base = resolve_base(st) if resolve_base else before
    head = _head(out)
    for key in _META_KEYS:
        if key in changed:
            assert head.get(key) != base.get(key), (verb, key)
        else:
            assert head.get(key) == base.get(key), (verb, key)
    # the head still reads: the kept metadata is consistent with it
    out.read(spark).collect()
