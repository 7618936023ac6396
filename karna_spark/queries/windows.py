"""Window-function inventory rows (SURVEY.md §2.5 W1-W5).

Every window here partitions by a key — at scale that is one shuffle
per distinct partitioning, and Catalyst collapses multiple window
expressions over the same (partition, order) spec into a single Window
operator (verify in the plan: one Window node per spec, not per
column). Orderings always end in a unique key so results are
deterministic under distributed execution.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from karna_spark.operators.sessionize import sessionize_salted
from karna_spark.queries.registry import register_query, table


# ---------------------------------------------------------------- W2
@register_query(
    "window_offsets",
    oracle="""
    SELECT event_id, user_id,
           lag(value)  OVER w AS prev_value,
           lead(value) OVER w AS next_value,
           first_value(event_type) OVER w AS first_type,
           nth_value(event_type, 2) OVER w AS second_type
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
    tags="W2",
)
def window_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2: analytic offsets per user timeline. Explicit ROWS frame so
    both engines agree on first/nth_value visibility."""
    ev = table(spark, sf_dir, "events")
    order = [F.col("ts").asc(), F.col("event_id").asc()]
    w = Window.partitionBy("user_id").orderBy(*order)
    wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return ev.select(
        "event_id",
        "user_id",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
        F.first("event_type").over(wf).alias("first_type"),
        F.nth_value("event_type", 2).over(wf).alias("second_type"),
    )


# ---------------------------------------------------------------- W3
@register_query(
    "window_running_aggs",
    oracle="""
    SELECT event_id, user_id,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE), 4) AS running_total,
           ROUND(AVG(value) OVER m, 4) AS moving_avg3,
           COUNT(*) OVER w AS n_so_far
    FROM events
    WINDOW
      w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      m AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
            ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
    """,
    tags="W3",
)
def window_running_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3: running total (decimal-exact — running sums hit every prefix,
    so order noise would compound) and a 3-row moving average."""
    ev = table(spark, sf_dir, "events")
    order = [F.col("ts").asc(), F.col("event_id").asc()]
    w = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    m = Window.partitionBy("user_id").orderBy(*order).rowsBetween(-2, Window.currentRow)
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.sum(F.col("value").cast("decimal(18,2)")).over(w).cast("double"), 4).alias(
            "running_total"
        ),
        F.round(F.avg("value").over(m), 4).alias("moving_avg3"),
        F.count("*").over(w).alias("n_so_far"),
    )


# ---------------------------------------------------------------- W4
@register_query(
    "window_topk_per_group",
    oracle="""
    SELECT * FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    ) WHERE rn <= 3
    """,
    tags="W4 W1",
)
def window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4: top-3 orders per customer. row_number + filter is the
    shuffle-once idiom; Spark additionally pushes a per-partition
    rank limit (WindowGroupLimit) before the shuffle, so the exchange
    carries ≤3 rows per customer — exactly what you want at 100 TB."""
    orders = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        orders.select(
            "o_custkey", "o_orderkey", "o_totalprice", F.row_number().over(w).alias("rn")
        )
        .filter(F.col("rn") <= 3)
    )


@register_query(
    "sessionization_salted",
    oracle="""
    WITH tagged AS (
      SELECT user_id, ts,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                         OVER (PARTITION BY user_id ORDER BY ts)
                       > 1800000000
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events
    ),
    sessions AS (
      SELECT user_id,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM tagged
    )
    SELECT user_id,
           CAST(MAX(session_id) AS BIGINT) AS n_sessions,
           COUNT(*) AS n_events
    FROM sessions
    GROUP BY user_id
    """,
    tags="W5",
)
def sessionization_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5, skew-resilient form: sessionize within (user, 6h-bucket)
    salted windows, then repair boundary-spanning sessions exactly
    (operators.sessionize.sessionize_salted, SKEW.md). The oracle is
    the PLAIN sessionization ground truth — the salted decomposition
    must be indistinguishable from the single-window answer."""
    ev = table(spark, sf_dir, "events")
    s = sessionize_salted(ev, "user_id", "ts", gap_seconds=1800, salt_seconds=6 * 3600)
    return s.groupBy("user_id").agg(
        F.max("session_id").cast("bigint").alias("n_sessions"),
        F.count("*").alias("n_events"),
    )


# ---------------------------------------------------------------- W3 (rolling median)
@register_query(
    "window_rolling_median",
    oracle="""
    SELECT event_id, user_id,
           median(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
             AS rolling_median
    FROM events
    """,
    tags="W3 A6 W7",
)
def window_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3+A6: trailing 10-event median per user — an order statistic
    over a moving frame, the robust-smoothing primitive mean-based
    rolling aggregates can't provide (outlier-resistant). Spark's
    `percentile(…, 0.5)` window and DuckDB's `median` interpolate
    even-count frames identically ((lo+hi)/2 — repr-exact on the full
    fixture), so the result needs no rounding. One shuffle on the user
    key, one sort; the frame buffer is 10 rows per partition cursor at
    any scale."""
    ev = table(spark, sf_dir, "events")
    return ev.selectExpr(
        "event_id",
        "user_id",
        "percentile(value, 0.5) OVER (PARTITION BY user_id ORDER BY ts, event_id"
        " ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS rolling_median",
    )


# ---------------------------------------------------------------- W9
@register_query(
    "events_session_length_histogram",
    oracle="""
    WITH tagged AS (
      SELECT user_id, ts,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                         OVER (PARTITION BY user_id ORDER BY ts)
                       > 1800000000
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events
    ),
    sess AS (
      SELECT user_id,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS session_id
      FROM tagged
    ),
    per_session AS (
      SELECT user_id, session_id, COUNT(*) AS n_events
      FROM sess GROUP BY user_id, session_id
    ),
    bucketed AS (
      SELECT CASE WHEN n_events = 1 THEN '1 (bounce)'
                  WHEN n_events <= 4 THEN '2-4'
                  WHEN n_events <= 9 THEN '5-9'
                  ELSE '10+' END AS size_bucket,
             n_events
      FROM per_session
    ),
    t AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM per_session)
    SELECT size_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(n_events) AS BIGINT) AS n_events,
           ROUND(CAST(COUNT(*) AS DOUBLE) / total, 6) AS session_share
    FROM bucketed CROSS JOIN t
    GROUP BY size_bucket, total
    """,
    tags="W5 A1 W9",
)
def events_session_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5 depth: session-length distribution + bounce rate — the
    product-analytics rollup on top of gap sessionization: bucket every
    session by event count ('1 (bounce)', '2-4', '5-9', '10+') and
    report each bucket's session share. Composes the certified
    sessionize operator (lag→flag→running sum, one window shuffle on
    user_id); sessions collapse to a |sessions| frame before
    bucketing, and the grand total is a one-row broadcast. Shares are
    exact integer ratios rounded once."""
    from karna_spark.operators.sessionize import session_stats

    ev = table(spark, sf_dir, "events")
    per_session = session_stats(ev, "user_id", "ts", gap_seconds=1800).select(
        "n_events"
    )
    bucket = (
        F.when(F.col("n_events") == 1, F.lit("1 (bounce)"))
        .when(F.col("n_events") <= 4, F.lit("2-4"))
        .when(F.col("n_events") <= 9, F.lit("5-9"))
        .otherwise(F.lit("10+"))
    )
    # Aggregate to the ≤4-row bucket frame FIRST; the session total is
    # then a sum over that tiny frame — sessionization runs once, not
    # once per consumer.
    bucket_counts = (
        per_session.select(bucket.alias("size_bucket"), "n_events")
        .groupBy("size_bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
            F.sum("n_events").cast("bigint").alias("n_events"),
        )
    )
    total = bucket_counts.agg(F.sum("n_sessions").cast("bigint").alias("total"))
    return bucket_counts.crossJoin(F.broadcast(total)).select(
        "size_bucket",
        "n_sessions",
        "n_events",
        F.round(F.col("n_sessions").cast("double") / F.col("total"), 6).alias(
            "session_share"
        ),
    )


# ---------------------------------------------------------------- W10
@register_query(
    "window_distribution_ranks",
    oracle="""
    SELECT c_custkey, c_nationkey,
           ROUND(percent_rank() OVER w, 6) AS pct_rank,
           ROUND(cume_dist() OVER w, 6) AS cume,
           CAST(row_number() OVER w AS BIGINT) AS rn
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)
    """,
    tags="W1 W3 W10",
)
def window_distribution_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 depth: distribution ranks (percent_rank, cume_dist) per
    nation over account balance — computed WITHOUT per-group window
    sorts: the (c_acctbal, c_custkey) tie-break makes the total order
    unique, so rank comes from the two-phase range-partitioned prefix
    count (operators/prefix.py), and then percent_rank = (rn-1)/(n-1),
    cume_dist = rn/n are pure arithmetic against broadcast group
    sizes — exactly the SQL definitions under a unique order, which
    the oracle's real window functions confirm. A PARTITION BY
    c_nationkey window would bound parallelism at 25 groups; this
    shape keeps every window group at |frame|/shuffle-partitions."""
    from karna_spark.operators.prefix import row_rank

    cu = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    sizes = cu.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    ranked = row_rank(
        cu, ["c_acctbal", "c_custkey"], group_by=["c_nationkey"], out_col="rn"
    ).join(F.broadcast(sizes), "c_nationkey")
    return ranked.select(
        "c_custkey",
        "c_nationkey",
        F.round(
            F.when(F.col("n") == 1, F.lit(0.0)).otherwise(
                (F.col("rn") - 1).cast("double") / (F.col("n") - 1)
            ),
            6,
        ).alias("pct_rank"),
        F.round(F.col("rn").cast("double") / F.col("n"), 6).alias("cume"),
        "rn",
    )


# ---------------------------------------------------------------- W11
def _pctl_terms(p: int) -> str:
    """SQL fragment: exact PERCENTILE_CONT(p/100) contribution of a
    ranked row, in integer hundredths (see window_percentile_cont)."""
    return f"""
      CASE WHEN rn = ((n-1)*{p})//100 + 1
           THEN v * (100 - ((n-1)*{p})%100) ELSE 0 END
    + CASE WHEN ((n-1)*{p})%100 > 0 AND rn = ((n-1)*{p})//100 + 2
           THEN v * (((n-1)*{p})%100) ELSE 0 END"""


@register_query(
    "window_percentile_cont",
    oracle=f"""
    WITH r AS (
      SELECT o_orderpriority AS g, o_totalprice AS v,
             row_number() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice, o_orderkey) AS rn,
             count(*) OVER (PARTITION BY o_orderpriority) AS n
      FROM orders
    )
    SELECT g AS o_orderpriority,
           ROUND(SUM({_pctl_terms(25)}) / 100.0, 4) AS p25,
           ROUND(SUM({_pctl_terms(50)}) / 100.0, 4) AS median,
           ROUND(SUM({_pctl_terms(75)}) / 100.0, 4) AS p75
    FROM r GROUP BY g
    """,
    tags="W11 W2 A6",
)
def window_percentile_cont(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W11: exact INTERPOLATED percentiles (ANSI PERCENTILE_CONT
    semantics — the gap between A6's approx_percentile sketch and
    A27's nearest-rank winsorized cuts): p25/median/p75 of order value
    per priority class, linear interpolation at fractional index
    h = (n-1)·p. The fractional weights are computed in integer
    HUNDREDTHS ((n-1)·p div/mod 100 — exact for dyadic p), each
    percentile is the weighted sum of at most two ranked rows, and the
    single float division + round(4) recovers the exact 1e-4-grid
    value, so both engines replay the identical spec. Scale shape:
    ranks come from the two-phase range-partitioned prefix machinery
    (operators/prefix.py `row_rank` — NOT a PARTITION BY window, which
    would bound parallelism at 5 priority groups), the 5-row size
    frame broadcasts, and the final aggregate map-combines; only rows
    at the two target ranks contribute nonzero terms."""
    from karna_spark.operators.prefix import row_rank

    vals = table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("g"),
        F.col("o_totalprice").alias("v"),
        "o_orderkey",
    )
    sizes = vals.groupBy("g").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    ranked = row_rank(
        vals, ["v", "o_orderkey"], group_by=["g"], out_col="rn"
    ).join(F.broadcast(sizes), "g")

    def term(p: int):
        lo = F.expr(f"((n-1)*{p}) div 100")
        rem = ((F.col("n") - 1) * p) % 100
        return F.when(F.col("rn") == lo + 1, F.col("v") * (100 - rem)).otherwise(
            F.lit(0.0)
        ) + F.when(
            (rem > 0) & (F.col("rn") == lo + 2), F.col("v") * rem
        ).otherwise(F.lit(0.0))

    return ranked.groupBy("g").agg(
        *[
            F.round(F.sum(term(p)) / 100.0, 4).alias(name)
            for p, name in ((25, "p25"), (50, "median"), (75, "p75"))
        ]
    ).select(F.col("g").alias("o_orderpriority"), "p25", "median", "p75")
