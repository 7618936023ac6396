"""Time-series inventory rows (SURVEY.md §2.9 T1-T3 batch, §2.3 J8
as-of join, §2.7 F3 datetime functions) over the events/orders tables.

Batch event-time semantics: ``F.window`` works identically in batch and
Structured Streaming, so these queries are the batch twins of the
streaming module. Timestamps cross the engine boundary as
second-truncated strings (see parity.py); sub-second arithmetic happens
in µs integers on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from karna_spark.operators.asof import asof_join
from karna_spark.queries.parity import ts_str
from karna_spark.queries.registry import register_query, table


# ---------------------------------------------------------------- T2
@register_query(
    "sliding_window_agg",
    oracle="""
    WITH slid AS (
      SELECT time_bucket(INTERVAL '15 minutes', CAST(ts AS TIMESTAMP))
               - k * INTERVAL '15 minutes' AS window_start,
             value
      FROM events, UNNEST([0, 1, 2, 3]) AS g(k)
    )
    SELECT strftime(window_start, '%Y-%m-%d %H:%M:%S') AS window_start_s,
           COUNT(*) AS n_events,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 4) AS total_value
    FROM slid
    GROUP BY 1
    """,
    tags="T2 A1",
)
def sliding_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2: 1-hour windows sliding every 15 min — each event lands in 4
    windows. Spark expands via the built-in `window` generator; the
    oracle reproduces the expansion with UNNEST (hour/15min divide
    evenly, so every event is in exactly 4 buckets and Spark's
    epoch-aligned starts coincide with time_bucket's)."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 4).alias(
                "total_value"
            ),
        )
        .select(
            ts_str(F.col("w.start"), "window_start_s"),
            "n_events",
            "total_value",
        )
    )


# ---------------------------------------------------------------- T3 / W5
@register_query(
    "session_window_agg",
    oracle="""
    WITH tagged AS (
      SELECT user_id, ts, value,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                         OVER (PARTITION BY user_id ORDER BY ts)
                       > 1800000000
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events
    ),
    s AS (
      SELECT user_id, ts, value,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_id
      FROM tagged
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           strftime(date_trunc('second', MIN(ts)), '%Y-%m-%d %H:%M:%S') AS session_start,
           COUNT(*) AS n_events,
           CAST(epoch_us(CAST(MAX(ts) AS TIMESTAMP)) - epoch_us(CAST(MIN(ts) AS TIMESTAMP))
                AS DOUBLE) / 1000000.0 AS duration_s
    FROM s
    GROUP BY user_id, session_id
    """,
    tags="T3 W5",
)
def session_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3 (batch): session-level windows — one row per (user, session)
    with start/size/duration. Streaming twin: F.session_window with a
    watermark (karna_spark.streaming)."""
    from karna_spark.operators.sessionize import session_stats

    ev = table(spark, sf_dir, "events").select("user_id", "ts", "value")
    stats = session_stats(ev, "user_id", "ts", gap_seconds=1800)
    return stats.select(
        "user_id",
        F.col("session_id").cast("bigint").alias("session_id"),
        ts_str("session_start", "session_start"),
        "n_events",
        # No rounding: duration is exact-µs-integer / 1e6 — the same
        # IEEE division on both engines (rounding would *introduce*
        # half-boundary divergence on values like x.97275).
        F.col("duration_s").alias("duration_s"),
    )


# ---------------------------------------------------------------- J8
@register_query(
    "asof_join_events",
    oracle="""
    SELECT p.event_id,
           p.user_id,
           strftime(date_trunc('second', v.ts), '%Y-%m-%d %H:%M:%S') AS view_ts,
           v.value AS view_value
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT CAST(ts AS TIMESTAMP) AS ts, user_id, value
                    FROM events WHERE event_type = 'view') v
      ON p.user_id = v.user_id AND CAST(p.ts AS TIMESTAMP) >= v.ts
    """,
    tags="J8",
)
def asof_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8: for every purchase, the user's most recent prior view.
    Implemented with the union+window as-of operator
    (karna_spark.operators.asof — one shuffle, no row explosion);
    oracle is DuckDB's native ASOF JOIN."""
    ev = table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("vts"), F.col("value").alias("view_value")
    )
    joined = asof_join(
        purchases,
        views,
        on="user_id",
        left_ts="ts",
        right_ts="vts",
        value_cols=["view_value"],
        matched_ts_col="matched_ts",
    )
    return joined.select(
        "event_id",
        "user_id",
        ts_str("matched_ts", "view_ts"),
        "view_value",
    )


# ---------------------------------------------------------------- J8 (nearest)
@register_query(
    "asof_join_nearest",
    oracle="""
    WITH l AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
         r AS (SELECT user_id, ts, value FROM events WHERE event_type = 'view'),
         ranked AS (
           SELECT l.event_id, l.user_id, r.ts AS r_ts, r.value AS view_value,
                  row_number() OVER (
                    PARTITION BY l.event_id
                    ORDER BY abs(epoch_us(CAST(l.ts AS TIMESTAMP))
                               - epoch_us(CAST(r.ts AS TIMESTAMP))) NULLS LAST,
                             r.ts
                  ) AS rn
           FROM l LEFT JOIN r ON l.user_id = r.user_id
         )
    SELECT event_id, user_id,
           strftime(date_trunc('second', r_ts), '%Y-%m-%d %H:%M:%S') AS view_ts,
           view_value
    FROM ranked WHERE rn = 1
    """,
    tags="J8",
)
def asof_join_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8 (nearest): each click matched to the user's closest view in
    absolute time, either direction, ties to the earlier view — the
    ``pd.merge_asof(direction="nearest")`` semantics. Same single
    shuffle + one window sort as directional as-of (both candidate
    carries are frames over one ordering); the oracle pays a per-user
    cross product + rank, which is exactly the plan shape this operator
    exists to avoid at scale."""
    ev = table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("vts"), F.col("value").alias("view_value")
    )
    joined = asof_join(
        clicks,
        views,
        on="user_id",
        left_ts="ts",
        right_ts="vts",
        value_cols=["view_value"],
        direction="nearest",
        matched_ts_col="matched_ts",
    )
    return joined.select(
        "event_id",
        "user_id",
        ts_str("matched_ts", "view_ts"),
        "view_value",
    )


# ---------------------------------------------------------------- T1+ (incremental)
@register_query(
    "events_incremental_rollup",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_value,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 / COUNT(*) AS avg_value,
           MIN(value) AS min_value,
           MAX(value) AS max_value
    FROM events
    GROUP BY 1, 2
    """,
    tags="T1 A1",
)
def events_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate maintenance (operators/rollup.py): the
    hourly rollup is built from a historical base slice plus a later delta
    slice, merged through algebraic partial states (count / integer-cent
    sum / min / max), and finalized. The oracle is the FULL recompute —
    the hash match proves merge(rollup(base), rollup(delta)) ==
    rollup(base ∪ delta) exactly, which is the property that lets a
    100 TB deployment refresh a rollup by shuffling only the new slice."""
    from karna_spark.operators.rollup import (
        finalize_rollup,
        merge_rollups,
        rollup_slice,
    )

    ev = table(spark, sf_dir, "events").select("ts", "event_type", "value")
    cutoff = F.to_timestamp(F.lit("2024-01-24 00:00:00"))
    base = ev.filter(F.col("ts") < cutoff)
    delta = ev.filter(F.col("ts") >= cutoff)
    state = merge_rollups(
        rollup_slice(base, "ts", ["event_type"], "value"),
        rollup_slice(delta, "ts", ["event_type"], "value"),
    )
    out = finalize_rollup(state)
    return out.select(
        ts_str("bucket_ts", "window_start"),
        "event_type",
        "n_events",
        "total_value",
        "avg_value",
        "min_value",
        "max_value",
    )


# ---------------------------------------------------------------- F3
@register_query(
    "datetime_functions",
    oracle="""
    SELECT o_orderkey,
           CAST(EXTRACT(year FROM o_orderdate) AS INT) AS yr,
           CAST(EXTRACT(month FROM o_orderdate) AS INT) AS mo,
           CAST(EXTRACT(day FROM o_orderdate) AS INT) AS dom,
           CAST(EXTRACT(quarter FROM o_orderdate) AS INT) AS qtr,
           CAST(EXTRACT(dow FROM o_orderdate) AS INT) AS dow_sun0,
           strftime(date_trunc('month', o_orderdate), '%Y-%m-%d %H:%M:%S') AS month_start,
           CAST(o_orderdate + INTERVAL 30 DAY AS DATE) AS due_date,
           datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS days_since_epoch_start,
           CAST(epoch_us(o_orderdate) / 1000000 AS BIGINT) AS unix_s
    FROM orders
    WHERE o_orderkey % 25 = 0
    """,
    tags="F3 P2",
)
def datetime_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3: the datetime extraction/truncation/arithmetic family.
    Spark's dayofweek is 1=Sunday; DuckDB's dow is 0=Sunday — aligned
    by subtracting 1. unix time via µs integers on both sides."""
    orders = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 25 == 0)
    return orders.select(
        "o_orderkey",
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
        F.dayofmonth("o_orderdate").alias("dom"),
        F.quarter("o_orderdate").alias("qtr"),
        (F.dayofweek("o_orderdate") - 1).alias("dow_sun0"),
        ts_str(F.date_trunc("month", F.col("o_orderdate")), "month_start"),
        (F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")).cast("date").alias("due_date"),
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date")).alias(
            "days_since_epoch_start"
        ),
        (F.unix_micros(F.col("o_orderdate").cast("timestamp")) / 1_000_000)
        .cast("bigint")
        .alias("unix_s"),
    )


# ---------------------------------------------------------------- T7 gap fill
@register_query(
    "timeseries_gap_fill",
    oracle="""
    WITH b AS (
      SELECT event_type, date_trunc('hour', ts) AS h,
             count(*) AS n,
             SUM(CAST(round(value * 100) AS BIGINT)) AS sum_c
      FROM events GROUP BY 1, 2
    ),
    bounds AS (SELECT min(h) AS lo, max(h) AS hi FROM b),
    spine AS (
      SELECT et.event_type, gs.h
      FROM (SELECT DISTINCT event_type FROM b) et,
           LATERAL (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h
                    FROM bounds) gs
    )
    SELECT strftime(s.h, '%Y-%m-%d %H:%M:%S') AS window_start,
           s.event_type,
           COALESCE(b.n, 0) AS n_events,
           b.h IS NULL AS is_gap,
           CAST(COALESCE(b.sum_c, 0) AS DOUBLE) / 100.0 AS total_value
    FROM spine s LEFT JOIN b USING (event_type, h)
    """,
    tags="T1 F3 O4",
)
def timeseries_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap filling over a generated date spine: hourly buckets per
    event type across the full observed range, absent hours
    materialized with zero counts and flagged — the step that makes
    downstream rolling windows and charts see a dense series. The
    spine is |types| × |hours| rows built from a 1-row bounds
    aggregate + `sequence`/`explode` (pure metadata work, no data
    shuffle); the real aggregate joins onto it broadcast-style. At
    100 TB the spine stays tiny while the aggregate is the usual
    two-phase groupBy."""
    ev = table(spark, sf_dir, "events")
    b = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("h"), "event_type"
    ).agg(
        F.count("*").alias("n"),
        F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("sum_c"),
    )
    bounds = b.agg(F.min("h").alias("lo"), F.max("h").alias("hi"))
    hours = bounds.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
        ).alias("h")
    )
    types = b.select("event_type").distinct()
    spine = hours.crossJoin(F.broadcast(types))
    out = spine.join(b, ["h", "event_type"], "left")
    return out.select(
        ts_str("h", "window_start"),
        "event_type",
        F.coalesce(F.col("n"), F.lit(0)).alias("n_events"),
        F.col("n").isNull().alias("is_gap"),
        (F.coalesce(F.col("sum_c"), F.lit(0)).cast("double") / 100.0).alias("total_value"),
    )


# ---------------------------------------------------------------- W3 range frame
@register_query(
    "window_range_trailing",
    oracle="""
    SELECT event_id, user_id,
           strftime(date_trunc('second', ts), '%Y-%m-%d %H:%M:%S') AS ts_s,
           count(*) OVER w AS n_1h,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) OVER w AS DOUBLE) / 100.0
             AS sum_val_1h
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(CAST(ts AS TIMESTAMP))
                 RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
    """,
    tags="W3 T2 W6",
)
def window_range_trailing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-frame window: per user, the trailing-1-hour event count
    and value sum at every event — a frame defined by TIME DISTANCE
    (RANGE on µs epoch), not row count, so bursts and quiet periods
    weigh correctly. One shuffle on the user key, one sort; Spark and
    the oracle both frame on the same integer µs axis, and the sum
    accumulates integer cents for cross-engine exactness."""
    ev = table(spark, sf_dir, "events")
    from pyspark.sql import Window

    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(us)
        .rangeBetween(-3_600_000_000, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        ts_str("ts", "ts_s"),
        F.count("*").over(w).alias("n_1h"),
        (
            F.sum(F.round(F.col("value") * 100).cast("bigint")).over(w).cast("double")
            / 100.0
        ).alias("sum_val_1h"),
    )


@register_query(
    "events_anomaly_mad",
    oracle="""
    WITH med AS (
      SELECT event_type, median(value) AS m FROM events GROUP BY event_type
    ),
    mad AS (
      SELECT e.event_type,
             any_value(m.m) AS m,
             median(abs(e.value - m.m)) AS mad
      FROM events e JOIN med m USING (event_type)
      GROUP BY e.event_type
    )
    SELECT e.event_type,
           COUNT(*) AS n_events,
           ROUND(any_value(mad.m), 4) AS med_value,
           ROUND(any_value(mad.mad), 4) AS mad_value,
           CAST(SUM(CASE WHEN abs(e.value - mad.m) > 2 * mad.mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM events e JOIN mad USING (event_type)
    GROUP BY e.event_type
    """,
    tags="A6 A5 P4 A11",
)
def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly detection: flag events whose value deviates from
    the per-type median by more than 2× the median absolute deviation
    (MAD) — the outlier rule that, unlike z-scores, is itself immune
    to the outliers it hunts. Three aggregates (median → MAD → flag
    count), each a shuffle on the 5-key event_type; the per-type stats
    frames are broadcast back onto the stream. Spark's exact
    ``percentile(0.5)`` and DuckDB's ``median`` share interpolation
    semantics, so med/MAD match to the last bit and the flag
    comparison is engine-independent."""
    ev = table(spark, sf_dir, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("m")
    )
    mad = (
        ev.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(
            F.first("m").alias("m"),
            F.expr("percentile(abs(value - m), 0.5)").alias("mad"),
        )
    )
    return (
        ev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.first("m"), 4).alias("med_value"),
            F.round(F.first("mad"), 4).alias("mad_value"),
            F.sum(
                F.when(F.abs(F.col("value") - F.col("m")) > 2 * F.col("mad"), 1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("n_outliers"),
        )
    )


@register_query(
    "events_funnel_conversion",
    oracle="""
    WITH t1 AS (
      SELECT user_id, min(ts) AS t FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    t2 AS (
      SELECT e.user_id, min(e.ts) AS t
      FROM events e JOIN t1 ON e.user_id = t1.user_id
        AND e.ts > t1.t AND e.ts <= t1.t + INTERVAL '1 day'
      WHERE e.event_type = 'click' GROUP BY e.user_id
    ),
    t3 AS (
      SELECT e.user_id, min(e.ts) AS t
      FROM events e JOIN t2 ON e.user_id = t2.user_id
        AND e.ts > t2.t AND e.ts <= t2.t + INTERVAL '3 days'
      WHERE e.event_type = 'purchase' GROUP BY e.user_id
    )
    SELECT (SELECT count(*) FROM t1) AS n_view,
           (SELECT count(*) FROM t2) AS n_click_1d,
           (SELECT count(*) FROM t3) AS n_purchase_3d,
           ROUND((SELECT count(*) FROM t3)::DOUBLE
                 / (SELECT count(*) FROM t1), 4) AS conversion
    """,
    tags="T1 J1 A2 T9",
)
def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel analysis: users whose first view is followed by a click
    within 1 day and then a purchase within 3 days of that click —
    the ordered-sequence conversion metric every product-analytics
    engine ships. Each stage is one aggregate over the event stream
    plus a broadcast join of the (tiny) qualifying-user frame from the
    previous stage; the event table is scanned per stage with the
    event_type filter pushed to parquet, never self-joined at scale.
    """
    ev = table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    t1 = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    t2 = (
        ev.where(F.col("event_type") == "click")
        .join(F.broadcast(t1), "user_id")
        .where(
            (F.col("ts") > F.col("t1"))
            & (F.col("ts") <= F.col("t1") + F.expr("INTERVAL 1 DAY"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    t3 = (
        ev.where(F.col("event_type") == "purchase")
        .join(F.broadcast(t2), "user_id")
        .where(
            (F.col("ts") > F.col("t2"))
            & (F.col("ts") <= F.col("t2") + F.expr("INTERVAL 3 DAY"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    c1 = t1.agg(F.count("*").alias("n_view"))
    c2 = t2.agg(F.count("*").alias("n_click_1d"))
    c3 = t3.agg(F.count("*").alias("n_purchase_3d"))
    return (
        c1.crossJoin(c2)
        .crossJoin(c3)
        .select(
            "n_view",
            "n_click_1d",
            "n_purchase_3d",
            F.round(
                F.col("n_purchase_3d").cast("double") / F.col("n_view"), 4
            ).alias("conversion"),
        )
    )


# ---------------------------------------------------------------- T17
@register_query(
    "timeseries_ewma",
    oracle="""
    WITH e AS (
      SELECT user_id, ts, event_id,
             CAST(ROUND(value * 100) AS BIGINT) AS c
      FROM events
    ),
    arr AS (
      SELECT user_id, list(c ORDER BY ts, event_id) AS cs
      FROM e GROUP BY user_id
    )
    SELECT user_id,
           CAST(len(cs) AS BIGINT) AS n_events,
           CAST(list_reduce(cs, (s, x) -> (s + x) // 2) AS BIGINT) AS ewma_c
    FROM arr
    """,
    tags="T17 T1 F5",
)
def timeseries_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T17: exponentially weighted moving average per user series —
    the recurrence s_t = (c_t + s_{t-1}) div 2 (alpha = 1/2, integer
    cents, truncating division) folded over the time-ordered series,
    the classic smoothing signal windows cannot express (each step
    depends on the previous RESULT, not a frame of inputs). Engine
    shape: one grouped collect into a (ts, event_id, c)-sorted array,
    then a JVM `aggregate()` fold — the whole recurrence runs inside
    whole-stage codegen with ZERO extra shuffles beyond the one
    group-by, embarrassingly parallel across series; per-series memory
    is the series length (fixture ~60 events/user; an unbounded
    production series would chunk by day and chain the seed, same
    fold). DuckDB replays the identical fold via list_reduce, and the
    truncating-division integer recurrence (div ≡ // on positives)
    makes the hash bit-exact — the F28/A35 certification recipe
    applied to sequential recurrences."""
    e = table(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        F.round(F.col("value") * 100).cast("bigint").alias("c"),
    )
    arr = e.groupBy("user_id").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(ts, event_id, c))),"
            " r -> r.c)"
        ).alias("cs")
    )
    return arr.select(
        "user_id",
        F.size("cs").cast("bigint").alias("n_events"),
        F.expr(
            "aggregate(slice(cs, 2, size(cs) - 1), cs[0],"
            " (s, x) -> (s + x) div 2)"
        )
        .cast("bigint")
        .alias("ewma_c"),
    )
