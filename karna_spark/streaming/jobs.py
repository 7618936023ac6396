"""Structured Streaming surface (SURVEY.md §2.9 T4 + §7 M6 stretch).

Streaming is NOT part of the reference's declared surface (reference
README.md:2 declares file querying only) — this module is the
north-star extension: the same event-time operators the batch layer
provides (T1-T3 use ``F.window``/``F.session_window``, identical in
both modes), now under ``readStream`` with watermarks governing late
data and state cleanup (T4), plus a custom stateful operator
(``applyInPandasWithState``, U3-streaming).

Design for scale:
- File source → in production a Kafka/queue source; only the
  ``readStream`` line changes, the plan below it is identical.
- Watermark = bounded state. Without it a 100 TB/day stream grows
  window state forever; with it Spark drops state (and late rows)
  older than ``delay`` — the knob trading completeness vs memory.
- ``availableNow`` trigger = incremental batch: process everything
  currently available with streaming semantics + checkpointed exactly-
  once progress, then stop. The idiom for periodic catch-up jobs over
  object-store landing zones.

Testing strategy: the driver's fixture is a static parquet file, so
jobs here stage it into a landing directory (plus a far-future sentinel
file) and run ``availableNow`` with ``maxFilesPerTrigger=1``; the
sentinel batch advances the watermark past every real event, so append
mode emits exactly the finalized windows — byte-equal to the batch
aggregation, hence oracle-checkable. The sentinel's own window is never
finalized and never emitted.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from karna_spark import intermediates
from karna_spark.catalog import read_fixture_table

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
_STREAM_CACHE = os.path.join(_REPO_ROOT, ".io_cache", "streaming")

# Far beyond any fixture event; its window can never be finalized by
# its own watermark, so it is structurally excluded from append output.
_SENTINEL_TS = "2035-01-01 00:00:00"


def stage_events(
    spark: SparkSession,
    sf_dir: str,
    with_sentinel: bool = True,
    duplicate: bool = False,
    double_sentinel: bool = False,
) -> str:
    """Stage the events fixture as a streaming landing directory:
    one data file (the fixture, µs timestamps) + optionally one
    later-arriving sentinel file that drives the watermark forward.
    ``duplicate=True`` instead lands the SAME data file twice (two
    micro-batches of identical rows) — an at-least-once source for the
    streaming dedup job. ``double_sentinel=True`` lands a SECOND
    sentinel as a third micro-batch: watermark advancement lags one
    batch (batch N is processed with the watermark computed after
    batch N-1), so stateful results that can only be RELEASED by the
    sentinel-driven watermark — outer-join null emissions above all —
    need one more batch processed at the advanced watermark
    (availableNow terminates without a closing no-data batch).

    Test scaffolding only — a production deployment points readStream
    at the real landing zone / queue instead.
    """
    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    flavor = (
        "dup"
        if duplicate
        else (
            "sentinel2"
            if double_sentinel
            else ("sentinel" if with_sentinel else "plain")
        )
    )
    root = os.path.join(_STREAM_CACHE, tag, flavor)
    done = os.path.join(root, "_STAGED")
    if not os.path.exists(done):
        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(root, exist_ok=True)
        ev = read_fixture_table(spark, sf_dir, "events")
        tmp = os.path.join(root, "_tmp_write")
        ev.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        shutil.move(os.path.join(tmp, part), os.path.join(root, "00_events.parquet"))
        shutil.rmtree(tmp)
        if duplicate:
            # Byte-identical second delivery, landed after the first →
            # a later micro-batch re-delivers every row.
            shutil.copy(
                os.path.join(root, "00_events.parquet"),
                os.path.join(root, "01_events_dup.parquet"),
            )
        if (with_sentinel or double_sentinel) and not duplicate:
            n_flush = 2 if double_sentinel else 1
            for i in range(n_flush):
                sent = spark.createDataFrame(
                    [(int(-1 - i), _SENTINEL_TS, int(-1), "__flush__", 0.0, "{}")],
                    "event_id long, ts_s string, user_id long, event_type string,"
                    " value double, props string",
                ).select(
                    "event_id",
                    (F.to_timestamp("ts_s") + F.expr(f"INTERVAL {i} HOUR")).alias("ts"),
                    "user_id",
                    "event_type",
                    "value",
                    "props",
                )
                tmp2 = os.path.join(root, "_tmp_sentinel")
                sent.coalesce(1).write.mode("overwrite").parquet(tmp2)
                part2 = next(f for f in os.listdir(tmp2) if f.endswith(".parquet"))
                # moved after the data file → later mtime →
                # FileStreamSource processes each as its own
                # micro-batch, in landing order
                shutil.move(
                    os.path.join(tmp2, part2),
                    os.path.join(root, f"{i + 1:02d}_flush.parquet"),
                )
                shutil.rmtree(tmp2)
        open(done, "w").close()
    return root


def events_stream(spark: SparkSession, landing_dir: str, one_batch: bool = False) -> DataFrame:
    """File-source stream over a landing directory of event parquet."""
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string"
    )
    reader = spark.readStream.schema(schema)
    if not one_batch:
        reader = reader.option("maxFilesPerTrigger", 1)
    return reader.format("parquet").load(landing_dir)


def run_to_memory(result: DataFrame, mode: str, checkpoint: str | None = None) -> DataFrame:
    """Execute a streaming plan to completion (availableNow) into a
    memory sink; returns the sink as a DataFrame."""
    name = f"karna_stream_{uuid.uuid4().hex[:10]}"
    writer = (
        result.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
    )
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    q = writer.start()
    q.awaitTermination()
    return result.sparkSession.table(name)


def tumbling_watermark(
    stream: DataFrame, window: str = "1 hour", delay: str = "30 minutes"
) -> DataFrame:
    """T4+T1: watermarked tumbling-window aggregation. In append mode a
    window row is emitted once, when the watermark passes its end —
    late rows beyond ``delay`` are dropped and their state freed."""
    return (
        stream.withWatermark("ts", delay)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 4
            ).alias("total_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def session_window_stream(
    stream: DataFrame, gap: str = "30 minutes", delay: str = "30 minutes"
) -> DataFrame:
    """T3 streaming twin: native ``F.session_window`` under readStream.
    Each event opens a [ts, ts+gap) window; overlapping windows merge,
    so a finalized window is exactly one gap-based session. Append mode
    emits a session once the watermark passes its close — state per
    open session, bounded by the watermark at any stream size. The
    batch twin (operators/sessionize.py) numbers sessions with a lag/
    running-sum window; boundaries agree whenever no inter-event gap
    equals the threshold exactly (µs-random data — the fixture's
    closest gap is 886 ms away)."""
    return (
        stream.withWatermark("ts", delay)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            (
                (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts")))
                / 1_000_000.0
            ).alias("duration_s"),
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        )
        .select("user_id", "session_start", "n_events", "duration_s")
    )


def dedup_stream(stream: DataFrame, watermark_delay: str = "1 hour") -> DataFrame:
    """Streaming exact dedup: exactly-once rows out of an at-least-once
    source. ``dropDuplicates`` under a watermark keeps per-key state
    only until the watermark passes — re-deliveries within the horizon
    are suppressed by state, older ones are dropped as late — so state
    is O(events per horizon), not O(stream). Spark only expires
    dedup state when the event-time column is PART of the dedup subset,
    so the key here is (event_id, ts), not event_id alone: re-delivered
    events are byte-identical (same ts), so the result is unchanged,
    and state actually expires at the horizon. The batch twin is
    `dedup_exact` (operators/dedup.py); same contract, unbounded
    history replaced by the watermark horizon."""
    return (
        stream.withWatermark("ts", watermark_delay)
        .dropDuplicates(["event_id", "ts"])
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
            "value",
        )
    )


def view_click_join(
    views: DataFrame,
    clicks: DataFrame,
    within: str = "1 hour",
    watermark_delay: str = "2 hours",
) -> DataFrame:
    """Stream-stream inner join: each view matched to the same user's
    clicks landing within ``within`` after it.

    The canonical funnel/attribution join. Both sides carry a watermark
    and the join condition bounds click_ts to [view_ts, view_ts +
    within]; together these let Spark expire buffered rows once the
    other side's watermark passes their match horizon — state stays
    O(events within the horizon), not O(stream), at any volume. Without
    the time bound the state store must keep every row forever.

    Inner-join append mode emits each match exactly once, when both
    rows have arrived — the complete result equals the batch join, so
    this is oracle-checkable like the windowed aggregation."""
    v = (
        views.select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user_id"),
            F.col("ts").alias("view_ts"),
        ).withWatermark("view_ts", watermark_delay)
    )
    c = (
        clicks.select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("click_ts"),
        ).withWatermark("click_ts", watermark_delay)
    )
    joined = v.join(
        c,
        (F.col("v_user_id") == F.col("c_user_id"))
        & (F.col("click_ts") >= F.col("view_ts"))
        & (F.col("click_ts") <= F.col("view_ts") + F.expr(f"INTERVAL {within}")),
        "inner",
    )
    return joined.select(
        F.col("v_user_id").alias("user_id"),
        "view_id",
        "click_id",
        F.date_format("view_ts", "yyyy-MM-dd HH:mm:ss").alias("view_ts"),
        F.date_format("click_ts", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
    )


def view_click_left_join(
    events_a: DataFrame,
    events_b: DataFrame,
    within: str = "1 hour",
    watermark_delay: str = "2 hours",
) -> DataFrame:
    """Stream-stream LEFT OUTER join (T15): every view emits exactly
    once — matched views as soon as both rows arrive (inner-join
    semantics), UNMATCHED views with a NULL click once the click-side
    watermark passes their match horizon, proving no click can still
    arrive. This is the harder half of the stream-stream contract:
    the null result can only be emitted by state expiry, never by
    data, so it certifies the watermark/state-eviction machinery
    itself — state stays O(events within the horizon) at any volume.

    The flush sentinel (far-future ts) must reach the
    EventTimeWatermark operator or the final unmatched views sit in
    state forever. A plain ``event_type == 'view'`` filter would NOT
    keep it there: Catalyst pushes filters on non-watermark columns
    BELOW the watermark node into the scan (and parquet row-group
    stats then skip the single-row sentinel file entirely — observed:
    the watermark froze at max(data ts) − delay and the last
    horizon's nulls never emitted). Both the type filter and the
    sentinel exclusion therefore reference the watermark column —
    ``PushPredicateThroughNonJoin`` refuses to push a predicate that
    mentions the watermark attribute, so the sentinel is scanned,
    advances the watermark, feeds the join as an ordinary row, and is
    dropped from the OUTPUT by its own far-future timestamp."""
    flush_horizon = F.lit("2030-01-01 00:00:00").cast("timestamp")
    v = (
        events_a.withWatermark("ts", watermark_delay)
        # single non-splittable disjunct referencing ts: stays above
        # the watermark node; lets real views AND sentinels through
        .filter((F.col("event_type") == "view") | (F.col("ts") >= flush_horizon))
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user_id"),
            F.col("ts").alias("view_ts"),
        )
    )
    c = (
        events_b.withWatermark("ts", watermark_delay)
        .filter((F.col("event_type") == "click") | (F.col("ts") >= flush_horizon))
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("click_ts"),
        )
    )
    joined = v.join(
        c,
        (F.col("v_user_id") == F.col("c_user_id"))
        & (F.col("click_ts") >= F.col("view_ts"))
        & (F.col("click_ts") <= F.col("view_ts") + F.expr(f"INTERVAL {within}")),
        "left_outer",
    )
    # Sentinel "views" (and sentinel-sentinel matches) carry the
    # far-future view_ts — excluded HERE, by a predicate that again
    # references the watermark attribute, so it cannot migrate below
    # the view-side watermark node. Sentinel "clicks" match no real
    # view and vanish with the left join.
    return joined.filter(F.col("view_ts") < flush_horizon).select(
        F.col("v_user_id").alias("user_id"),
        "view_id",
        "click_id",
        F.date_format("view_ts", "yyyy-MM-dd HH:mm:ss").alias("view_ts"),
        F.date_format("click_ts", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
    )


def static_enrich_join(stream: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream-static enrichment join (T18): every micro-batch of the
    event stream joins against a STATIC dimension snapshot — the
    lookup-table shape every ingest pipeline runs (user → account,
    doc → domain reputation). Stateless on the streaming side: no
    watermark, no state store, nothing buffered across batches — the
    static side is planned per micro-batch (so a dimension small
    enough to broadcast never shuffles the stream; the explicit
    broadcast hint pins that at any fact volume), and append mode
    emits each enriched row exactly once, so the complete streaming
    result hash-matches the batch join. The static frame is re-read
    per batch at its CURRENT content — pair with a SnapshotStore
    read for a consistent pinned version."""
    return (
        stream.join(
            F.broadcast(dim),
            stream["user_id"] == dim["c_custkey"],
            "inner",
        )
        .select(
            "event_id",
            "user_id",
            "event_type",
            "c_mktsegment",
            "c_nationkey",
        )
    )


def user_stats_stateful(stream: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    running totals carried in explicit group state across micro-batches.
    Arrow-batched (pandas) on executors; state lives in the state store,
    partitioned by key — scales with #users, not #events."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "user_id long, n_events long, total_value_c long"
    state_schema = "n long, total_c long"

    def update(key, pdfs, state: GroupState):
        n, total_c = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            # accumulate in integer cents — exact, order-independent
            total_c += int(round(pdf["value"].mul(100).round().sum()))
        state.update((n, total_c))
        import pandas as pd

        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value_c": [total_c]}
        )

    return (
        stream.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            update, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
        )
    )


def stage_events_split(spark: SparkSession, sf_dir: str, n_files: int = 3) -> str:
    """Stage the events fixture as ``n_files`` disjoint parquet files
    (split by ``event_id % n_files``) so ``maxFilesPerTrigger=1``
    yields ``n_files`` genuine micro-batches whose date ranges
    OVERLAP — every batch after the first must merge into, not
    append to, previously-written rollup state."""
    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    root = os.path.join(_STREAM_CACHE, tag, f"split{n_files}")
    done = os.path.join(root, "_STAGED")
    if not os.path.exists(done):
        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(root, exist_ok=True)
        ev = read_fixture_table(spark, sf_dir, "events")
        for i in range(n_files):
            part = ev.where(F.col("event_id") % n_files == i)
            tmp = os.path.join(root, f"_tmp_{i}")
            part.coalesce(1).write.mode("overwrite").parquet(tmp)
            f = next(p for p in os.listdir(tmp) if p.endswith(".parquet"))
            shutil.move(os.path.join(tmp, f), os.path.join(root, f"{i:02d}_events.parquet"))
            shutil.rmtree(tmp)
        open(done, "w").close()
    return root


def foreachbatch_rollup(
    spark: SparkSession, landing_dir: str, state_dir: str
) -> DataFrame:
    """T5+S9 under streaming: maintain a persistent daily rollup table
    with ``foreachBatch`` — the production pattern for incrementally
    materialized aggregates on engines without a transactional table
    format. Each micro-batch partial-aggregates its slice
    (operators/rollup.rollup_slice — one shuffle over the DELTA only),
    merges it with the stored state (tiny: |days|×|event_types| rows),
    and atomically swaps the state directory (write-new + rename —
    foreachBatch runs on the driver, so the swap is single-writer by
    construction; a real deployment would target an ACID table format
    instead). History is never rescanned: cost per batch is
    O(delta + state), the continuous-aggregate contract.

    Returns the finalized rollup read back from the swapped-in state —
    count/sum(integer cents)/min/max per (day, event_type). Integer-
    cent sums make merge(a, merge(b, c)) == recompute exactly, so the
    result is hash-comparable to the batch oracle no matter how the
    stream was split into batches."""
    from karna_spark.operators.rollup import merge_rollups, rollup_slice

    def _upsert(batch_df: DataFrame, batch_id: int) -> None:
        delta = rollup_slice(batch_df, "ts", ["event_type"], "value", bucket="day")
        live = os.path.join(state_dir, "live")
        if os.path.exists(live):
            base = spark.read.parquet(live)
            merged = merge_rollups(base, delta)
        else:
            merged = delta
        staged = os.path.join(state_dir, f"stage_{batch_id}")
        merged.coalesce(1).write.mode("overwrite").parquet(staged)
        old = os.path.join(state_dir, f"old_{batch_id}")
        if os.path.exists(live):
            os.rename(live, old)
        os.rename(staged, live)
        shutil.rmtree(old, ignore_errors=True)

    stream = events_stream(spark, landing_dir)
    q = (
        stream.writeStream.foreachBatch(_upsert)
        .option(
            "checkpointLocation",
            os.path.join(_STREAM_CACHE, "ckpt", uuid.uuid4().hex[:10]),
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(os.path.join(state_dir, "live"))


def foreachbatch_snapshot_rollup(
    spark: SparkSession, landing_dir: str, store_root: str
):
    """T8+S12: the foreachbatch_rollup pattern upgraded from
    write-new+rename to the manifest-versioned SnapshotStore — every
    micro-batch commit becomes a time-travelable snapshot of the
    continuous aggregate (the Delta/Iceberg streaming-sink shape).
    Per batch: partial-aggregate the DELTA (one shuffle over the batch
    only), merge with the CURRENT snapshot's rows for the affected
    partitions (pruned read via the manifest), and upsert — copy-on-
    write rewrites only the event_type partitions the batch touched,
    and the manifest rename is the atomic commit. History costs one
    manifest per batch, not a state rewrite; any past version stays
    byte-stable and readable while the stream runs.

    Returns (store, query-finished) with the store positioned at the
    final version; merge is exact (integer cents) so the final
    snapshot hash-matches the batch recompute regardless of how the
    stream was split or ordered."""
    from karna_spark.io.snapshots import SnapshotStore
    from karna_spark.operators.rollup import merge_rollups, rollup_slice

    store = SnapshotStore(store_root, "event_type")

    def _commit(batch_df: DataFrame, batch_id: int) -> None:
        delta = rollup_slice(batch_df, "ts", ["event_type"], "value", bucket="day")
        if store.latest_version() == 0:
            store.commit(delta)
            return
        affected = [
            r[0] for r in delta.select("event_type").distinct().collect()
        ]
        manifest = store._manifest(store.latest_version())
        known = [a for a in affected if str(a) in manifest]
        if known:
            base = store.read(spark, partition_values=[str(a) for a in known])
            merged = merge_rollups(base, delta)
        else:
            merged = delta
        # merged carries every row for the affected partitions, so the
        # keyed upsert (replace-by-key) publishes exact merged state.
        with intermediates.scope():
            merged = intermediates.checkpoint(merged, eager=True)
            store.upsert(spark, merged, key_cols=["bucket_ts", "event_type"])

    stream = events_stream(spark, landing_dir)
    q = (
        stream.writeStream.foreachBatch(_commit)
        .option(
            "checkpointLocation",
            os.path.join(_STREAM_CACHE, "ckpt", uuid.uuid4().hex[:10]),
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return store


def stage_documents_split(
    spark: SparkSession, sf_dir: str, n_files: int = 3
) -> str:
    """Stage the documents fixture as ``n_files`` disjoint parquet
    files (split by ``doc_id % n_files``) so ``maxFilesPerTrigger=1``
    yields ``n_files`` genuine ingest micro-batches — near-dup pairs
    exist both within and across the splits, so every batch after the
    first must probe previously-stored state, not just itself."""
    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    root = os.path.join(_STREAM_CACHE, tag, f"docsplit{n_files}")
    done = os.path.join(root, "_STAGED")
    if not os.path.exists(done):
        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(root, exist_ok=True)
        docs = read_fixture_table(spark, sf_dir, "documents")
        for i in range(n_files):
            part = docs.where(F.col("doc_id") % n_files == i)
            tmp = os.path.join(root, f"_tmp_{i}")
            part.coalesce(1).write.mode("overwrite").parquet(tmp)
            f = next(p for p in os.listdir(tmp) if p.endswith(".parquet"))
            shutil.move(
                os.path.join(tmp, f), os.path.join(root, f"{i:02d}_docs.parquet")
            )
            shutil.rmtree(tmp)
        open(done, "w").close()
    return root


def documents_stream(spark: SparkSession, landing_dir: str) -> DataFrame:
    """File-source stream over a landing directory of document parquet."""
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .format("parquet")
        .load(landing_dir)
    )


def foreachbatch_incremental_dedup(
    spark: SparkSession, landing_dir: str, state_root: str
) -> DataFrame:
    """T8+J18: streaming ingest dedup — the incremental MinHash
    steady-state run as a production stream. Per micro-batch:

    1. probe the STORED signature table (``minhash_signature_table``
       rows appended by every prior batch) with the arriving batch —
       corpus text is touched only for candidate-pruned verify
       lookups, so per-batch cost scales with |batch| x bucket
       occupancy, never |corpus seen so far|;
    2. append the verified pairs to the result log;
    3. append the batch's signatures + text to the stores.

    Every near-dup pair of the full corpus is emitted EXACTLY once —
    when its later member arrives (same-batch pairs once, by the
    operator's delta-delta contract) — so the canonicalized union of
    the per-batch logs equals the one-shot all-corpus answer
    regardless of how the stream was batched or ordered. Returns the
    accumulated pairs (new_id, match_id, jaccard, batch_id).

    Retry semantics: foreachBatch is at-least-once, so every appended
    row carries ``batch_id`` — a production deployment makes redelivery
    idempotent by dynamic-partition-overwriting the ``batch_id=<N>``
    slice of each store (or committing through the SnapshotStore),
    exactly as Spark's docs prescribe for foreachBatch sinks; the
    single-process fixture run cannot redeliver, so the plain append
    keeps the job readable here."""
    from karna_spark.operators.dedup import (
        minhash_lsh_incremental_pairs,
        minhash_signature_table,
    )

    sig_dir = os.path.join(state_root, "sigs")
    corpus_dir = os.path.join(state_root, "corpus")
    pairs_dir = os.path.join(state_root, "pairs")

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        with intermediates.scope():
            batch_df = intermediates.checkpoint(batch_df, eager=True)
            have_state = os.path.isdir(sig_dir)
            if have_state:
                sigs = spark.read.parquet(sig_dir)
                corpus = spark.read.parquet(corpus_dir).select("doc_id", "text")
                pairs = minhash_lsh_incremental_pairs(
                    corpus, batch_df, "doc_id", "text", base_signatures=sigs
                )
            else:
                pairs = minhash_lsh_incremental_pairs(
                    batch_df.limit(0), batch_df, "doc_id", "text"
                )
            (
                pairs.withColumn("batch_id", F.lit(batch_id).cast("int"))
                .write.mode("append")
                .parquet(pairs_dir)
            )
            (
                minhash_signature_table(batch_df, "doc_id", "text")
                .write.mode("append")
                .parquet(sig_dir)
            )
            batch_df.select("doc_id", "text").write.mode("append").parquet(
                corpus_dir
            )

    stream = documents_stream(spark, landing_dir)
    q = (
        stream.writeStream.foreachBatch(_batch)
        .option(
            "checkpointLocation",
            os.path.join(_STREAM_CACHE, "ckpt", uuid.uuid4().hex[:10]),
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(pairs_dir)


def chained_hourly_daily(stream: DataFrame) -> DataFrame:
    """T16: TWO stateful aggregations chained in one streaming query —
    hourly tumbling (count + exact decimal sum per event type), then a
    daily rollup OVER THE HOURLY STREAM via the window-of-window-time
    re-window (`F.window(F.window_time(w), '1 day')`), Spark's
    multiple-stateful-operator support (3.4+). The hourly row emits
    when the watermark passes its hour; the daily row emits when it
    passes the day — each stage's state stays bounded by the
    watermark, and the daily stage's input is |hours|-scale, not
    event-scale: exactly the cascade a 100 TB metrics pipeline runs so
    raw events are aggregated once and every coarser grain rolls up
    from the finer one. n_hours counts the finalized hourly rows that
    fed each daily row (provably the rollup consumed the intermediate
    stream, not the raw events)."""
    hourly = (
        stream.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("v"),
        )
    )
    return (
        hourly.groupBy(
            F.window(F.window_time("w"), "1 day").alias("d"), "event_type"
        )
        .agg(
            F.sum("n_events").alias("n_events"),
            F.count("*").cast("bigint").alias("n_hours"),
            F.sum("v").alias("v"),
        )
        .select(
            F.date_format(F.col("d.start"), "yyyy-MM-dd").alias("day"),
            "event_type",
            "n_events",
            "n_hours",
            F.round(F.col("v").cast("double"), 4).alias("total_value"),
        )
    )
