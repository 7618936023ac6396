"""Vector / similarity-search queries (north-star; SURVEY.md §2.7 F8,
operators in karna_spark.operators.similarity).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from karna_spark import intermediates
from karna_spark.functions.vector import cosine, dot, norm_l2
from karna_spark.operators.similarity import (
    ann_bruteforce_topk,
    ann_lsh_topk,
)
from karna_spark.operators.sizing import spread_scan
from karna_spark.queries.registry import register_query, table

# Fixture embedding dimensionality (TESTDATA.md: embeddings.embedding is
# a 64-dim float vector). Passed explicitly so LSH plan construction
# stays action-free — ArrayType carries no length, and resolving it
# with a .first() would run a Spark job before the query's own action.
EMB_DIM = 64


@register_query(
    "vector_centroid_drift",
    oracle="""
    WITH u AS (
      SELECT label, vec_id % 2 = 0 AS is_old,
             generate_subscripts(embedding, 1) AS dim,
             unnest(embedding) AS v
      FROM embeddings
    ),
    q AS (
      SELECT label, is_old, dim,
             CAST(round((CAST(v AS DOUBLE) + 2.0) * 1000.0) AS BIGINT) AS vq
      FROM u
    ),
    per_dim AS (
      SELECT label, dim,
             SUM(CASE WHEN is_old THEN vq ELSE 0 END) AS s_old,
             SUM(CASE WHEN is_old THEN 1 ELSE 0 END) AS n_old,
             SUM(CASE WHEN NOT is_old THEN vq ELSE 0 END) AS s_new,
             SUM(CASE WHEN NOT is_old THEN 1 ELSE 0 END) AS n_new
      FROM q GROUP BY label, dim
    )
    SELECT label,
           CAST(MAX(n_old) AS BIGINT) AS n_old,
           CAST(MAX(n_new) AS BIGINT) AS n_new,
           CAST(SUM(
             ((1000 * s_old) // n_old - (1000 * s_new) // n_new)
             * ((1000 * s_old) // n_old - (1000 * s_new) // n_new)
           ) AS BIGINT) AS drift_ssq
    FROM per_dim
    WHERE n_old > 0 AND n_new > 0
    GROUP BY label
    """,
    tags="F23 A1 F8",
)
def vector_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F23: embedding distribution-drift monitor — squared L2 distance
    between per-label centroids of two corpus slices (old = even
    vec_id, new = odd), the pipeline check that catches an embedding
    model or data-mix change between ingests. Integer-exact end to
    end so the answer is identical on any engine, any partitioning:
    elements are offset (+2, making them positive) and quantized to
    e3 integers; per-dim quantized means use truncating integer
    division (exact; positive operands make floor == truncate on both
    engines); the drift is the BIGINT sum of squared mean deltas —
    bounded by dims × (3·10⁶)² regardless of corpus size, so no
    overflow at any scale. Plan: one posexplode (map-side ×64) into a
    two-phase (label, dim) aggregate — shuffle carries ≤
    |labels|×dims rows; the final per-label reduce is metadata-scale.
    """
    emb = table(spark, sf_dir, "embeddings")
    q = emb.select(
        "label",
        (F.col("vec_id") % 2 == 0).alias("is_old"),
        F.posexplode("embedding").alias("dim", "v"),
    ).select(
        "label",
        "is_old",
        "dim",
        F.round((F.col("v").cast("double") + F.lit(2.0)) * F.lit(1000.0))
        .cast("bigint")
        .alias("vq"),
    )
    per_dim = q.groupBy("label", "dim").agg(
        F.sum(F.when(F.col("is_old"), F.col("vq")).otherwise(0)).alias("s_old"),
        F.sum(F.when(F.col("is_old"), 1).otherwise(0)).alias("n_old"),
        F.sum(F.when(~F.col("is_old"), F.col("vq")).otherwise(0)).alias("s_new"),
        F.sum(F.when(~F.col("is_old"), 1).otherwise(0)).alias("n_new"),
    )
    delta = (F.expr("(1000 * s_old) div n_old") - F.expr("(1000 * s_new) div n_new"))
    return (
        per_dim.filter((F.col("n_old") > 0) & (F.col("n_new") > 0))
        .groupBy("label")
        .agg(
            F.max("n_old").cast("bigint").alias("n_old"),
            F.max("n_new").cast("bigint").alias("n_new"),
            F.sum(delta * delta).cast("bigint").alias("drift_ssq"),
        )
    )


@register_query(
    "vector_ops",
    oracle="""
    SELECT vec_id,
           ROUND(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                       CAST(embedding AS DOUBLE[]))), 4) AS l2_norm,
           ROUND(list_dot_product(CAST(embedding AS DOUBLE[]),
                                  CAST(embedding AS DOUBLE[]))
                 / len(embedding), 4) AS mean_sq,
           CAST(len(embedding) AS INT) AS dim
    FROM embeddings
    WHERE vec_id % 5 = 0
    """,
    tags="F8",
)
def vector_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8: vector math as SQL lambdas (dot/norm) — JVM-side, codegen'd,
    no UDF. The same expressions power the dedup/similarity operators."""
    emb = table(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 5 == 0)
    v = F.col("embedding")
    return emb.select(
        "vec_id",
        F.round(norm_l2(v), 4).alias("l2_norm"),
        F.round(dot(v, v) / F.size(v), 4).alias("mean_sq"),
        F.size(v).alias("dim"),
    )


@register_query(
    "similarity_topk_bruteforce",
    oracle="""
    WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id < 10),
    scored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv) AS cos_raw
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> q.query_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, cos_raw,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos_raw DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, ROUND(cos_raw, 4) AS cos, rank
    FROM ranked WHERE rank <= 5
    """,
    tags="F8 J5 W4",
)
def similarity_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ANN baseline: top-5 cosine neighbors for 10 query vectors.
    Queries broadcast; the corpus is scanned once; WindowGroupLimit
    caps the shuffle at k rows per query."""
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    res = ann_bruteforce_topk(emb, queries, "vec_id", "vec_id", "embedding", k=5)
    return res.select(
        "query_id", "neighbor_id", F.round(F.col("cos"), 4).alias("cos"), "rank"
    )


def similarity_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate ANN: sign-LSH buckets (8 hyperplanes) probed for the
    same 10 queries — the scale path when both sides are large (the
    bucket equi-join replaces the full cross product). RETIRED from the
    driver registry in r8 (was rows-only — no SQL twin for the
    hyperplane constants); the pipeline is hash-certified by its
    driver twin ``similarity_lsh_recall`` (recall@10 vs brute force,
    exact oracle replay), and this builder stays as the bench anchor
    + plan-test surface."""
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    res = ann_lsh_topk(
        emb, queries, "vec_id", "vec_id", "embedding", k=5, n_planes=8, dim=EMB_DIM
    )
    return res.select(
        "query_id", "neighbor_id", F.round(F.col("cos"), 4).alias("cos"), "rank"
    )


# Retired from the driver registry in r12 (consolidation: dominated
# by similarity_topk_bruteforce + similarity_lsh_recall, which
# certify the same scoring with recall gates). Kept as a library
# surface.
def similarity_threshold_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (radius) search: all corpus vectors with cosine ≥ 0.15 to
    one query vector — the filter-pushdown-friendly form of similarity
    search (a scan + narrow predicate, no shuffle at all)."""
    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    return (
        emb.filter(F.col("vec_id") != 0)
        .join(F.broadcast(q), F.lit(True))
        .withColumn("cos_raw", cosine(F.col("embedding"), F.col("qv")))
        .filter(F.col("cos_raw") >= 0.15)
        .select("vec_id", F.round(F.col("cos_raw"), 4).alias("cos"))
    )


# --------------------------------------------------------- recall gates
#
# The production ANN paths above (seeded-random hyperplanes, Lloyd-
# trained IVF/PQ) are rows-only for the driver: their trained constants
# have no SQL twin. These three queries close that gap with a *fully
# oracle-replayable* configuration of the SAME operator machinery —
# axis-aligned LSH planes (sign of a coordinate), seed-row IVF
# centroids, seed-row PQ codebooks — and emit recall@10 against
# in-plan exact brute force. DuckDB reconstructs the identical ANN
# pipeline AND the brute-force truth from the parquet alone, so the
# driver hash-checks a genuine quality measurement end-to-end: if
# bucketing, probing, encoding, ADC, or ranking drifts, recall drifts
# and the round goes red. Measured at sf0.01: LSH ≈0.88, IVF ≈0.60
# (nprobe 3/8 of a diffuse corpus), PQ ≈0.54 (64 dims → 32 codes,
# 12.8× compression) — pytest pins floors, the driver pins values.

_IVF_SEED_IDS = list(range(100, 500, 50))  # 8 cells
_PQ_SEED_IDS = [7 + 15 * i for i in range(32)]  # 32 centroids/subspace


def _recall_vs_bruteforce(emb, queries, ann: DataFrame, k: int) -> DataFrame:
    """Per-query overlap of an ANN top-k with the exact top-k."""
    bf = ann_bruteforce_topk(emb, queries, "vec_id", "vec_id", "embedding", k=k)
    hits = (
        ann.select("query_id", "neighbor_id")
        .join(bf.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count("*").alias("h"))
    )
    return (
        bf.select("query_id")
        .distinct()
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("h"), F.lit(0)).alias("hits_at_10"),
            F.round(F.coalesce(F.col("h"), F.lit(0)) / float(k), 4).alias("recall_at_10"),
        )
    )


_BF_TOP10_SQL = """
    bf AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.query_id, c.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY q.query_id
                 ORDER BY list_cosine_similarity(c.v, q.qv) DESC, c.vec_id
               ) AS rk
        FROM corpus c CROSS JOIN q
        WHERE c.vec_id <> q.query_id
      ) WHERE rk <= 10
    ),
    recall AS (
      SELECT bf.query_id,
             CAST(count(ann.neighbor_id) AS BIGINT) AS hits_at_10,
             ROUND(count(ann.neighbor_id) / 10.0, 4) AS recall_at_10
      FROM bf
      LEFT JOIN ann ON ann.query_id = bf.query_id
                   AND ann.neighbor_id = bf.neighbor_id
      GROUP BY bf.query_id
    )
    SELECT query_id, hits_at_10, recall_at_10 FROM recall
"""


@register_query(
    "similarity_lsh_recall",
    oracle="""
    WITH corpus AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv FROM corpus WHERE vec_id < 10),
    tables AS (SELECT unnest(range(16)) AS t),
    cbuck AS (
      SELECT c.vec_id, tb.t,
             (CASE WHEN c.v[4*tb.t+1] >= 0 THEN 1 ELSE 0 END
            + CASE WHEN c.v[4*tb.t+2] >= 0 THEN 2 ELSE 0 END
            + CASE WHEN c.v[4*tb.t+3] >= 0 THEN 4 ELSE 0 END
            + CASE WHEN c.v[4*tb.t+4] >= 0 THEN 8 ELSE 0 END) AS bucket
      FROM corpus c CROSS JOIN tables tb
    ),
    qbuck AS (
      SELECT q.query_id, q.qv, tb.t,
             (CASE WHEN q.qv[4*tb.t+1] >= 0 THEN 1 ELSE 0 END
            + CASE WHEN q.qv[4*tb.t+2] >= 0 THEN 2 ELSE 0 END
            + CASE WHEN q.qv[4*tb.t+3] >= 0 THEN 4 ELSE 0 END
            + CASE WHEN q.qv[4*tb.t+4] >= 0 THEN 8 ELSE 0 END) AS bucket
      FROM q CROSS JOIN tables tb
    ),
    cand AS (
      SELECT DISTINCT qb.query_id, qb.qv, cb.vec_id AS neighbor_id
      FROM cbuck cb JOIN qbuck qb ON cb.t = qb.t AND cb.bucket = qb.bucket
      WHERE cb.vec_id <> qb.query_id
    ),
    ann AS (
      SELECT query_id, neighbor_id FROM (
        SELECT cand.query_id, cand.neighbor_id,
               row_number() OVER (
                 PARTITION BY cand.query_id
                 ORDER BY list_cosine_similarity(c.v, cand.qv) DESC, cand.neighbor_id
               ) AS rk
        FROM cand JOIN corpus c ON c.vec_id = cand.neighbor_id
      ) WHERE rk <= 10
    ),
    """
    + _BF_TOP10_SQL,
    tags="F8 J9 F16",
)
def similarity_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of amplified sign-LSH vs exact brute force, per query.
    Runs the production ``ann_lsh_topk`` machinery (bucket explode →
    equi-join → candidate dedup → exact rank) with 16 tables of 4
    axis-aligned planes covering all 64 dims — a plane family whose
    buckets DuckDB replays exactly (sign of a coordinate), making this
    the driver-certified quality gate for the LSH family."""
    from karna_spark.operators.similarity import ann_lsh_topk, axis_planes

    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    ann = ann_lsh_topk(
        emb, queries, "vec_id", "vec_id", "embedding",
        k=10, dim=EMB_DIM, planes=axis_planes(4, 16, EMB_DIM),
    )
    return _recall_vs_bruteforce(emb, queries, ann, k=10)


@register_query(
    "similarity_ivf_recall",
    oracle="""
    WITH corpus AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv FROM corpus WHERE vec_id < 10),
    cents AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cluster_id, v AS cv
      FROM corpus WHERE vec_id IN (100, 150, 200, 250, 300, 350, 400, 450)
    ),
    cassign AS (
      SELECT vec_id, v, cluster_id FROM (
        SELECT c.vec_id, c.v, ct.cluster_id,
               row_number() OVER (
                 PARTITION BY c.vec_id
                 ORDER BY list_distance(c.v, ct.cv), ct.cluster_id
               ) AS rn
        FROM corpus c CROSS JOIN cents ct
      ) WHERE rn = 1
    ),
    qassign AS (
      SELECT query_id, qv, cluster_id FROM (
        SELECT q.query_id, q.qv, ct.cluster_id,
               row_number() OVER (
                 PARTITION BY q.query_id
                 ORDER BY list_distance(q.qv, ct.cv), ct.cluster_id
               ) AS rn
        FROM q CROSS JOIN cents ct
      ) WHERE rn <= 3
    ),
    ann AS (
      SELECT query_id, neighbor_id FROM (
        SELECT qa.query_id, ca.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY qa.query_id
                 ORDER BY list_cosine_similarity(ca.v, qa.qv) DESC, ca.vec_id
               ) AS rk
        FROM qassign qa JOIN cassign ca USING (cluster_id)
        WHERE ca.vec_id <> qa.query_id
      ) WHERE rk <= 10
    ),
    """
    + _BF_TOP10_SQL,
    tags="F8 J9 U3 F16",
)
def similarity_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of IVF vs exact brute force, per query. Runs the
    production ``ann_ivf_topk`` machinery (argmin cell assignment →
    probe nprobe=3 of 8 inverted lists → exact rank) with centroids
    taken verbatim from 8 fixed corpus rows, so the oracle rebuilds the
    identical quantizer from the parquet — the driver-certified quality
    gate for the IVF family."""
    from pyspark.sql import Window as W

    from karna_spark.operators.similarity import ann_ivf_topk

    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    cents = (
        emb.filter(F.col("vec_id").isin(_IVF_SEED_IDS))
        .select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("centroid"),
        )
        .withColumn("cluster_id", F.row_number().over(W.orderBy("vec_id")) - 1)
        .select("cluster_id", "centroid")
    )
    ann = ann_ivf_topk(
        emb, queries, cents, "vec_id", "vec_id", "embedding", k=10, nprobe=3
    )
    return _recall_vs_bruteforce(emb, queries, ann, k=10)


@register_query(
    "similarity_ivf_incremental",
    oracle="""
    WITH corpus AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv FROM corpus WHERE vec_id % 50 = 0),
    cents AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cluster_id, v AS cv
      FROM corpus WHERE vec_id IN (100, 150, 200, 250, 300, 350, 400, 450)
    ),
    cassign AS (
      SELECT vec_id, v, cluster_id FROM (
        SELECT c.vec_id, c.v, ct.cluster_id,
               row_number() OVER (
                 PARTITION BY c.vec_id
                 ORDER BY list_distance(c.v, ct.cv), ct.cluster_id
               ) AS rn
        FROM corpus c CROSS JOIN cents ct
      ) WHERE rn = 1
    ),
    qassign AS (
      SELECT query_id, qv, cluster_id FROM (
        SELECT q.query_id, q.qv, ct.cluster_id,
               row_number() OVER (
                 PARTITION BY q.query_id
                 ORDER BY list_distance(q.qv, ct.cv), ct.cluster_id
               ) AS rn
        FROM q CROSS JOIN cents ct
      ) WHERE rn <= 3
    ),
    ann AS (
      SELECT query_id, neighbor_id FROM (
        SELECT qa.query_id, ca.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY qa.query_id
                 ORDER BY list_cosine_similarity(ca.v, qa.qv) DESC, ca.vec_id
               ) AS rk
        FROM qassign qa JOIN cassign ca USING (cluster_id)
        WHERE ca.vec_id <> qa.query_id
      ) WHERE rk <= 10
    ),
    """
    + _BF_TOP10_SQL,
    tags="F8 J9 U3 J18 J19",
)
def similarity_ivf_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Steady-state ANN ingest — the embeddings twin of J18\'s
    incremental MinHash: 90% of the corpus plays the role of the
    stored inverted-file index (an `ivf_assignment_table`, computed
    once and persisted as a production deployment would store it,
    partitionable by cell), and the arriving 2% batch is the ONLY
    data the argmin assignment UDF touches — each new vector is
    assigned to its cell, unioned with the stored lists, and searched
    against the probed cells exactly as the full operator would.
    Certification mirrors `similarity_ivf_recall`: centroids are 8
    fixed corpus rows so the oracle rebuilds the identical quantizer
    in SQL and the recall@10 frame is hash-certified; a pytest
    differential additionally proves the stored-index path returns
    byte-identical neighbors to the in-job path. Per-ingest cost at
    100 TB scales with |batch| x probed-cell occupancy — corpus
    vectors are never re-assigned (the saved term is the
    O(|corpus|) assignment UDF)."""
    from pyspark.sql import Window as W
    from pyspark.storagelevel import StorageLevel

    from karna_spark.operators.similarity import (
        ann_ivf_topk,
        ivf_assignment_table,
    )

    # PERSISTED (r13): emb feeds five consumers (stored-index build,
    # delta slice, centroid seed rows, the probed search, and the
    # brute-force recall referee) — uncached, each re-ran the spread
    # exchange plus the scan. One pass's projection, released by the
    # caller's scope.
    emb = intermediates.persist(
        spread_scan(table(spark, sf_dir, "embeddings")), StorageLevel.MEMORY_AND_DISK
    )
    base = emb.filter(F.col("vec_id") % 50 != 0)
    delta = emb.filter(F.col("vec_id") % 50 == 0)
    cents = (
        emb.filter(F.col("vec_id").isin(_IVF_SEED_IDS))
        .select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("centroid"),
        )
        .withColumn("cluster_id", F.row_number().over(W.orderBy("vec_id")) - 1)
        .select("cluster_id", "centroid")
    )
    # The stored index: in production this is read back from a table
    # keyed/partitioned by bucket and appended per ingest; persist
    # stands in for the store here (released by the caller's scope).
    idx = intermediates.persist(
        ivf_assignment_table(base, cents, "vec_id", "embedding"),
        StorageLevel.MEMORY_AND_DISK,
    )
    idx.count()
    delta_asg = ivf_assignment_table(delta, cents, "vec_id", "embedding")
    ann = ann_ivf_topk(
        emb,
        delta,
        cents,
        "vec_id",
        "vec_id",
        "embedding",
        k=10,
        nprobe=3,
        corpus_assignments=idx.unionByName(delta_asg),
    )
    return _recall_vs_bruteforce(emb, delta, ann, k=10)


@register_query(
    "similarity_pq_recall",
    oracle="""
    WITH corpus AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv FROM corpus WHERE vec_id < 10),
    subq AS (SELECT unnest(range(32)) AS j),
    seeds AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, v
      FROM corpus WHERE vec_id % 15 = 7 AND vec_id <= 472
    ),
    cb AS (
      SELECT s.c, sq.j, s.v[2*sq.j+1] AS c1, s.v[2*sq.j+2] AS c2
      FROM seeds s CROSS JOIN subq sq
    ),
    codes AS (
      SELECT vec_id, j, c AS code FROM (
        SELECT co.vec_id, cb.j, cb.c,
               row_number() OVER (
                 PARTITION BY co.vec_id, cb.j
                 ORDER BY power(co.v[2*cb.j+1] - cb.c1, 2)
                        + power(co.v[2*cb.j+2] - cb.c2, 2), cb.c
               ) AS rn
        FROM corpus co CROSS JOIN cb
      ) WHERE rn = 1
    ),
    adc AS (
      SELECT q.query_id, cd.vec_id AS neighbor_id,
             SUM(power(q.qv[2*cd.j+1] - cb.c1, 2)
               + power(q.qv[2*cd.j+2] - cb.c2, 2)) AS dist
      FROM codes cd
      JOIN cb ON cb.j = cd.j AND cb.c = cd.code
      CROSS JOIN q
      WHERE cd.vec_id <> q.query_id
      GROUP BY q.query_id, cd.vec_id
    ),
    ann AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (
                 PARTITION BY query_id ORDER BY dist, neighbor_id
               ) AS rk
        FROM adc
      ) WHERE rk <= 10
    ),
    """
    + _BF_TOP10_SQL,
    tags="F8 U2 F15 F16",
)
def similarity_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of PQ/ADC vs exact brute force, per query. Runs the
    production ``ann_pq_topk`` machinery (Arrow-vectorized encode →
    per-query LUT → ADC rank) with 32 subspaces × 32 codebook rows
    taken verbatim from fixed corpus rows (``pq_codebooks_from_rows``),
    so the oracle re-encodes the corpus and replays ADC exactly — the
    driver-certified quality gate for the PQ family. 64 float dims →
    32 codes is 12.8× compression; recall ≈0.54 on this deliberately
    diffuse fixture is the measured tradeoff, not a bug."""
    from karna_spark.operators.similarity import ann_pq_topk, pq_codebooks_from_rows

    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    codebooks = pq_codebooks_from_rows(emb, "embedding", "vec_id", _PQ_SEED_IDS, m=32)
    ann = ann_pq_topk(
        emb, queries, codebooks, "vec_id", "vec_id", "embedding", k=10
    )
    return _recall_vs_bruteforce(emb, queries, ann, k=10)


# ----------------------------------------------------------- F28 k-means

_KM_K, _KM_ITERS, _KM_SCALE, _KM_OFF = 8, 3, 1024, 2048


def _kmeans_oracle(k: int, iters: int, scale: int, off: int) -> str:
    """Generate the chained-CTE DuckDB oracle for ``iters`` exact Lloyd
    iterations — proof that a FIXED-depth iterative algorithm is
    SQL-expressible once every step is exact integer arithmetic (the
    float variants in operators/similarity.py are not, and stay on the
    recall-gate certification path)."""
    parts = [f"""
    WITH e AS (
      SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
             CAST(floor(CAST(unnest(embedding) AS DOUBLE) * {scale}.0)
                  AS BIGINT) + {off} AS xq
      FROM embeddings
    ),
    init AS (
      SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS cid
      FROM (SELECT DISTINCT vec_id FROM embeddings ORDER BY vec_id LIMIT {k})
    ),
    c0 AS (SELECT i.cid, e.dim, e.xq AS c FROM e JOIN init i USING (vec_id))"""]
    for t in range(1, iters + 1):
        p = t - 1
        parts.append(f""",
    d{t} AS (
      SELECT e.vec_id, c.cid, SUM((e.xq - c.c) * (e.xq - c.c)) AS dist
      FROM e JOIN c{p} c ON e.dim = c.dim
      GROUP BY e.vec_id, c.cid
    ),
    a{t} AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
        FROM d{t}
      ) WHERE rn = 1
    ),
    s{t} AS (
      SELECT a.cid, e.dim, SUM(e.xq) AS s, COUNT(*) AS n
      FROM e JOIN a{t} a USING (vec_id)
      GROUP BY a.cid, e.dim
    ),
    c{t} AS (
      SELECT p.cid, p.dim, COALESCE((2 * s.s + s.n) // (2 * s.n), p.c) AS c
      FROM c{p} p LEFT JOIN s{t} s ON p.cid = s.cid AND p.dim = s.dim
    )""")
    parts.append(f"""
    SELECT CAST(c{iters}.cid AS INT) AS cluster_id,
           CAST(c{iters}.dim - 1 AS INT) AS dim,
           CAST(c{iters}.c - {off} AS BIGINT) AS coord_q,
           CAST(COALESCE(s{iters}.n, 0) AS BIGINT) AS n_points
    FROM c{iters} LEFT JOIN s{iters}
      ON c{iters}.cid = s{iters}.cid AND c{iters}.dim = s{iters}.dim""")
    return "".join(parts)


@register_query(
    "vector_kmeans_lloyd",
    oracle=_kmeans_oracle(_KM_K, _KM_ITERS, _KM_SCALE, _KM_OFF),
    tags="F28 F8 A1",
)
def vector_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F28: distributed k-means, certification grade — 3 exact Lloyd
    iterations over the embedding corpus (k=8), every arithmetic step
    exact integer math (operators/kmeans.py), so the driver hash-matches
    a DuckDB oracle replaying the identical spec as chained CTEs. This
    upgrades the engine's iterative-algorithm story from rows-only
    (the float k-means behind IVF/SemDeDup, certified via recall gates)
    to direct value certification. Scale: assignment is a literal-
    centroid codegen map (no UDF, no shuffle); the per-iteration
    shuffle carries ≤ k·dim rows after map-side combine; driver traffic
    is k·dim ints per iteration. Output: one row per (cluster_id, dim)
    with the quantized coordinate and final cluster population."""
    from karna_spark.operators.kmeans import kmeans_lloyd_exact

    emb = table(spark, sf_dir, "embeddings")
    return kmeans_lloyd_exact(
        spark, emb, "vec_id", "embedding",
        k=_KM_K, iters=_KM_ITERS, scale=_KM_SCALE, offset=_KM_OFF,
    )


# --------------------------------------------------------- RRF fusion
# Shared with the NL front-end's hybrid intent row
# (frontends_q.frontend_nl_hybrid_search): one oracle text for the one
# operator implementation (operators/retrieval.py:hybrid_rrf).
RRF_ORACLE_SQL = """
    WITH d AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws
               FROM documents),
    dl AS (SELECT doc_id, len(ws) AS dl FROM d),
    stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
    tf AS (
      SELECT doc_id, term, count(*) AS tf
      FROM (SELECT doc_id, unnest(ws) AS term FROM d)
      WHERE term IN ('query', 'join', 'shuffle')
      GROUP BY doc_id, term
    ),
    idf AS (
      SELECT term,
             ln(1 + (s.n_docs - count(DISTINCT doc_id) + 0.5)
                    / (count(DISTINCT doc_id) + 0.5)) AS idf
      FROM tf, stats s GROUP BY term, s.n_docs
    ),
    bm AS (
      SELECT tf.doc_id,
             ROUND(SUM(idf.idf * tf.tf * 2.2
                       / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / s.avgdl))), 4)
               AS bm25
      FROM tf JOIN idf USING (term)
      JOIN dl ON dl.doc_id = tf.doc_id, stats s
      GROUP BY tf.doc_id
    ),
    lexk AS (
      SELECT doc_id,
             CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS INT)
               AS r_lex
      FROM bm QUALIFY r_lex <= 100
    ),
    q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
          FROM embeddings WHERE vec_id = 0),
    dn AS (
      SELECT e.vec_id AS doc_id,
             ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                          q.qv), 4) AS cos
      FROM embeddings e, q WHERE e.vec_id <> 0
    ),
    densek AS (
      SELECT doc_id,
             CAST(row_number() OVER (ORDER BY cos DESC, doc_id) AS INT)
               AS r_dense
      FROM dn QUALIFY r_dense <= 100
    ),
    fused AS (
      SELECT COALESCE(l.doc_id, de.doc_id) AS doc_id, l.r_lex, de.r_dense,
             COALESCE(CAST(1 AS DOUBLE) / (60 + l.r_lex), 0)
               + COALESCE(CAST(1 AS DOUBLE) / (60 + de.r_dense), 0) AS rrf
      FROM lexk l FULL OUTER JOIN densek de ON l.doc_id = de.doc_id
    ),
    top AS (SELECT * FROM fused ORDER BY rrf DESC, doc_id LIMIT 10)
    SELECT doc_id, r_lex, r_dense, rrf,
           CAST(row_number() OVER (ORDER BY rrf DESC, doc_id) AS INT)
             AS fused_rank
    FROM top
    """


@register_query(
    "retrieval_rrf_fusion",
    oracle=RRF_ORACLE_SQL,
    tags="F35 F11 J5",
)
def retrieval_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid lexical+dense retrieval via reciprocal-rank fusion
    (operators/retrieval.py:rrf_fuse) — the RAG-stack scorer that
    combines a BM25 candidate list (terms {query, join, shuffle} over
    documents.text, the F11 operator unchanged) with a dense cosine
    list (corpus embeddings vs the vec_id=0 query vector) as
    sum of 1/(60+rank), union semantics: a doc missing from one list
    keeps only the other list's contribution. Each list is truncated
    to its top-100 by TakeOrdered BEFORE any window (topn_ranks: the
    row_number runs over ≤100 rows, never the corpus), so at 100 TB
    the fusion cost is two bounded lists + a 100-row full-outer join,
    independent of corpus size. Ranks are exact ints and the fused
    score is two IEEE double ops written identically in the oracle, so
    the row set is hash-exact WITHOUT rounding the fused score."""
    from karna_spark.operators.retrieval import hybrid_rrf

    return hybrid_rrf(
        table(spark, sf_dir, "documents"),
        table(spark, sf_dir, "embeddings"),
        "doc_id", "text", "vec_id", "embedding",
        ["query", "join", "shuffle"], anchor_id=0, k=10,
    )


# ------------------------------------------- binary Hamming ANN (J21)
@register_query(
    "similarity_hamming_rerank",
    oracle="""
    WITH sk AS (
      SELECT vec_id,
             CAST(list_sum([CASE WHEN embedding[i+1] > 0
                            THEN (1::BIGINT << i) ELSE 0::BIGINT END
                            FOR i IN range(0, 32)]) AS BIGINT) AS w0,
             CAST(list_sum([CASE WHEN embedding[i+33] > 0
                            THEN (1::BIGINT << i) ELSE 0::BIGINT END
                            FOR i IN range(0, 32)]) AS BIGINT) AS w1
      FROM embeddings
    ),
    q AS (SELECT * FROM sk WHERE vec_id < 5),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             CAST(bit_count(xor(c.w0, q.w0))
                  + bit_count(xor(c.w1, q.w1)) AS INT) AS hamming
      FROM sk c CROSS JOIN q WHERE c.vec_id <> q.vec_id
    ),
    cand AS (
      SELECT query_id, neighbor_id, hamming,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY hamming, neighbor_id) AS r
      FROM scored QUALIFY r <= 50
    ),
    rer AS (
      SELECT cand.query_id, cand.neighbor_id, cand.hamming,
             ROUND(list_cosine_similarity(
               CAST(ce.embedding AS DOUBLE[]),
               CAST(qe.embedding AS DOUBLE[])), 4) AS cos
      FROM cand
      JOIN embeddings ce ON ce.vec_id = cand.neighbor_id
      JOIN embeddings qe ON qe.vec_id = cand.query_id
    )
    SELECT query_id, neighbor_id, hamming, cos,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, neighbor_id) AS INT)
             AS rank
    FROM rer QUALIFY rank <= 10
    """,
    tags="J21 J5 F8",
)
def similarity_hamming_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J21: binary-embedding ANN (operators/similarity.py:
    ann_hamming_rerank) — pack each 64-dim vector's SIGN BITS into two
    32-bit words, rank candidates by Hamming distance on the 8-byte
    sketch (a 32× scan-size reduction vs the float vectors — FAISS's
    IndexBinaryFlat pattern), keep the top-50 per query, then rerank
    exactly those candidates by exact cosine and keep the top-10. The
    packing, the xor/bit_count distance, both tie-broken rank stages,
    and the rerank join are all replayed closed-form by the oracle, so
    the hash certifies the bit math itself. All JVM expressions
    (zip_with/aggregate/shiftleft/bit_count) — no UDF anywhere; the
    candidate stage's top-R is a WindowGroupLimit, and the exact-
    vector read in stage 2 touches |queries|·50 rows regardless of
    corpus size."""
    from karna_spark.operators.similarity import ann_hamming_rerank

    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return ann_hamming_rerank(
        emb, queries, "vec_id", "vec_id", "embedding",
        k=10, rerank=50, dim=EMB_DIM,
    )
