"""Relational core: projection/filter/join/sort/set-op inventory rows
(SURVEY.md §2.2 P1-P6, §2.3 J1-J7, §2.6 O1-O6).

Declared capability: full SQL over tabular files (reference
README.md:2). All queries are pure `pyspark.sql` built-ins — Catalyst
handles pushdown, join-strategy selection and top-k; nothing here
re-implements what the optimizer does.

Scale notes per query are in the docstrings; the recurring theme: the
only shuffles are on aggregation keys, dimension joins broadcast, and
every LIMIT result set is made deterministic with a unique-key
tie-break so distributed execution order can't change the answer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from karna_spark.functions.local_frame import literal_frame
from karna_spark.queries.parity import (
    davg, dec, dsum, sql_davg, sql_dsum,
)
from karna_spark.queries.registry import register_query, table


# ---------------------------------------------------------------- P6
@register_query(
    "null_three_valued_logic",
    oracle="""
    SELECT
      COUNT(*) AS n_rows,
      COUNT(NULLIF(l_discount, 0.0)) AS n_nonzero_disc,
      CAST(SUM(CAST(NULLIF(l_discount, 0.0) AS DECIMAL(18,2))) AS DOUBLE) AS sum_nonzero_disc,
      COUNT(CASE WHEN NULLIF(l_discount, 0.0) IS NULL THEN 1 END) AS n_null_disc,
      COUNT(CASE WHEN (NULLIF(l_discount, 0.0) > 0.05) IS NULL THEN 1 END) AS n_unknown_pred
    FROM lineitem
    """,
    tags="P6 A2",
)
def null_three_valued_logic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6: NULL-aware aggregation — COUNT skips NULLs, comparisons with
    NULL are UNKNOWN. Semantics come from Catalyst; this query pins them
    against the oracle rather than re-implementing anything."""
    li = table(spark, sf_dir, "lineitem")
    nz = F.nullif(F.col("l_discount"), F.lit(0.0))
    return li.agg(
        F.count("*").alias("n_rows"),
        F.count(nz).alias("n_nonzero_disc"),
        F.sum(dec(nz)).cast("double").alias("sum_nonzero_disc"),
        F.count(F.when(nz.isNull(), 1)).alias("n_null_disc"),
        F.count(F.when((nz > 0.05).isNull(), 1)).alias("n_unknown_pred"),
    )


# ---------------------------------------------------------------- J1
@register_query(
    "join_star_counts",
    oracle="""
    SELECT r_name, n_name, COUNT(*) AS n_customers,
           {acct}
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    """.format(acct=sql_davg("c_acctbal", "avg_acctbal")),
    tags="J1 J7 A1",
)
def join_star_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1/J7: inner equi-joins through the dimension chain; both dims
    broadcast so the fact side never shuffles for the join — only the
    final 25-group aggregation exchanges."""
    cust = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.count("*").alias("n_customers"), davg("c_acctbal", "avg_acctbal"))
    )


# ---------------------------------------------------------------- J2
@register_query(
    "join_left_outer",
    oracle="""
    SELECT c_custkey, COUNT(o_orderkey) AS n_orders,
           CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 0) AS DOUBLE) AS total_spend
    FROM customer
    LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey
    """,
    tags="J2 A1 P6",
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: left outer join preserving order-less customers (their
    aggregate sees only NULLs → COUNT 0, COALESCE'd sum 0). At scale
    this is a shuffle join on custkey both sides; AQE will demote to
    broadcast if the customer side proves small."""
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(F.sum(dec("o_totalprice")), F.lit(0).cast("decimal(18,2)"))
            .cast("double")
            .alias("total_spend"),
        )
    )


# ---------------------------------------------------------------- J2 (full)
@register_query(
    "join_full_outer",
    oracle="""
    WITH cust_by_nation AS (
      SELECT c_nationkey AS nationkey, COUNT(*) AS n_cust
      FROM customer GROUP BY c_nationkey
    ),
    supp_by_nation AS (
      SELECT s_nationkey AS nationkey, COUNT(*) AS n_supp
      FROM supplier GROUP BY s_nationkey
    )
    SELECT
      COALESCE(c.nationkey, s.nationkey) AS nationkey,
      COALESCE(c.n_cust, 0) AS n_cust,
      COALESCE(s.n_supp, 0) AS n_supp
    FROM cust_by_nation c
    FULL OUTER JOIN supp_by_nation s ON c.nationkey = s.nationkey
    """,
    tags="J2 A1 P4",
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: full outer join of two aggregates — nations having customers
    but no suppliers (or vice versa) survive with zero-filled counts."""
    cust = (
        table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count("*").alias("n_cust"))
    )
    supp = (
        table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(F.count("*").alias("n_supp"))
    )
    return (
        cust.alias("c")
        .join(supp.alias("s"), F.col("c.nationkey") == F.col("s.nationkey"), "full")
        .select(
            F.coalesce(F.col("c.nationkey"), F.col("s.nationkey")).alias("nationkey"),
            F.coalesce(F.col("c.n_cust"), F.lit(0)).alias("n_cust"),
            F.coalesce(F.col("s.n_supp"), F.lit(0)).alias("n_supp"),
        )
    )


# ---------------------------------------------------------------- J6
@register_query(
    "join_theta_range",
    oracle="""
    SELECT s_suppkey, s_name, COUNT(*) AS n_richer_customers
    FROM supplier
    JOIN customer ON c_nationkey = s_nationkey AND c_acctbal > s_acctbal
    GROUP BY s_suppkey, s_name
    """,
    tags="J6 J7 A1",
)
def join_theta_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6: equi + range predicate. Catalyst plans the equality as the
    hash-join key and the inequality as a post-join filter — far better
    at scale than a nested-loop over the full cross product."""
    supp = table(spark, sf_dir, "supplier")
    cust = table(spark, sf_dir, "customer")
    return (
        cust.join(
            F.broadcast(supp),
            (cust.c_nationkey == supp.s_nationkey) & (cust.c_acctbal > supp.s_acctbal),
        )
        .groupBy("s_suppkey", "s_name")
        .agg(F.count("*").alias("n_richer_customers"))
    )


# ---------------------------------------------------------------- O4
@register_query(
    "union_all_vs_distinct",
    oracle="""
    WITH u AS (
      SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
      UNION ALL
      SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'
    )
    SELECT COUNT(*) AS n_all, COUNT(DISTINCT k) AS n_distinct FROM u
    """,
    tags="O4 A2 A3",
)
def union_all_vs_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4: bag union vs set cardinality over it."""
    a = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey").alias("k"))
    )
    b = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select(F.col("o_custkey").alias("k"))
    )
    return a.unionByName(b).agg(
        F.count("*").alias("n_all"), F.count_distinct("k").alias("n_distinct")
    )


# ---------------------------------------------------------------- O5
@register_query(
    "intersect_except",
    oracle="""
    SELECT
      (SELECT COUNT(*) FROM (
         SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
         INTERSECT
         SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')) AS n_both,
      (SELECT COUNT(*) FROM (
         SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
         EXCEPT
         SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')) AS n_only_open
    """,
    tags="O5 A2",
)
def intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O5: set intersection / difference (distinct semantics)."""
    orders = table(spark, sf_dir, "orders")
    open_c = orders.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    done_c = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    n_both = open_c.intersect(done_c).count()
    n_only = open_c.subtract(done_c).count()  # EXCEPT (distinct) semantics
    # Counts computed as Spark actions feed a one-row DataFrame: the
    # set-ops themselves are distributed; only the two scalars land on
    # the driver (same as any scalar subquery result).
    return literal_frame(
        spark, [(n_both, n_only)], "n_both bigint, n_only_open bigint"
    )


# ---------------------------------------------------------------- O6
@register_query(
    "sample_systematic",
    oracle=f"""
    SELECT COUNT(*) AS n_sampled,
           {sql_dsum("o_totalprice", "sampled_spend")}
    FROM orders WHERE o_orderkey % 20 = 0
    """,
    tags="O6 P2 A2",
)
def sample_systematic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O6: deterministic 1-in-20 systematic sample on the key (the
    oracle-checkable analog of TABLESAMPLE; `df.sample(fraction, seed)`
    is exposed in operators.sampling for the probabilistic form)."""
    orders = table(spark, sf_dir, "orders")
    return orders.filter(F.col("o_orderkey") % 20 == 0).agg(
        F.count("*").alias("n_sampled"), dsum("o_totalprice", "sampled_spend")
    )


@register_query(
    "join_fuzzy_entity",
    oracle="""
    SELECT a.c_nationkey AS nationkey,
           a.c_custkey AS id_a, b.c_custkey AS id_b,
           CAST(levenshtein(a.c_name, b.c_name) AS INT) AS dist
    FROM customer a JOIN customer b
      ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
    WHERE levenshtein(a.c_name, b.c_name) <= 1
    """,
    tags="J9 J6 F1 J12",
)
def join_fuzzy_entity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution / record linkage: fuzzy self-join on edit
    distance ≤ 1 inside a blocking key (nation). The block join is the
    scale contract — Levenshtein runs only on same-block pairs (the
    classic linkage blocking strategy), never corpus × corpus; the
    comparison itself is the JVM built-in ``levenshtein``. Block-key
    skew at 100 TB falls under AQE skew splitting; finer blocking
    (name prefix, phonetic key) is the standard escalation when a
    block outgrows its executor."""
    cust = table(spark, sf_dir, "customer").select(
        "c_nationkey", "c_custkey", "c_name"
    )
    a = cust.select(
        F.col("c_nationkey").alias("nationkey"),
        F.col("c_custkey").alias("id_a"),
        F.col("c_name").alias("name_a"),
    )
    b = cust.select(
        F.col("c_nationkey").alias("nationkey"),
        F.col("c_custkey").alias("id_b"),
        F.col("c_name").alias("name_b"),
    )
    return (
        a.join(b, "nationkey")
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("dist", F.levenshtein("name_a", "name_b"))
        .where(F.col("dist") <= 1)
        .select("nationkey", "id_a", "id_b", F.col("dist").cast("int").alias("dist"))
    )


# ---------------------------------------------------------------- J17
@register_query(
    "join_null_safe_eq",
    oracle="""
    WITH s AS (
        SELECT user_id, NULLIF(date_part('day', ts) % 3, 0) AS grp
        FROM events WHERE event_type = 'click'
    ),
    t AS (
        SELECT user_id, NULLIF(date_part('day', ts) % 3, 0) AS grp
        FROM events WHERE event_type = 'purchase'
    )
    SELECT s.grp, CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(COUNT(DISTINCT s.user_id) AS BIGINT) AS n_users
    FROM s JOIN t
      ON s.grp IS NOT DISTINCT FROM t.grp AND s.user_id = t.user_id
    GROUP BY s.grp
    """,
    tags="J1 P6 J17",
)
def join_null_safe_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J17: NULL-safe equi-join (`<=>` / IS NOT DISTINCT FROM) — the
    3VL corner where a plain equi-join silently drops every NULL key:
    here NULL group keys MUST pair with NULL group keys (the SQL
    standard's distinct-predicate semantics). Spark plans `<=>` as a
    regular hash join key (EqualNullSafe is a valid equi-join
    expression), so this shuffles and scales exactly like J1 — no
    fallback to a nested-loop join."""
    ev = table(spark, sf_dir, "events")
    grp = F.nullif(F.dayofmonth("ts") % 3, F.lit(0))
    s = ev.filter(F.col("event_type") == "click").select(
        "user_id", grp.alias("grp")
    )
    t = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("t_user"), grp.alias("t_grp")
    )
    joined = s.join(
        t,
        s["grp"].eqNullSafe(t["t_grp"]) & (s["user_id"] == t["t_user"]),
    )
    return joined.groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.count_distinct("user_id").cast("bigint").alias("n_users"),
    )
