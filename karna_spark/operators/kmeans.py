"""Exact-arithmetic distributed k-means (Lloyd's) — hash-certifiable.

``similarity.train_kmeans`` (the IVF coarse quantizer) averages doubles,
so its centroids carry summation-order noise and can only be certified
indirectly (the r6 recall gates). This module is the *certification
grade* variant: every arithmetic step is exact integer math with a
defined rounding rule, so an independent engine (the DuckDB oracle)
running the same spec reproduces the result bit-for-bit:

- inputs quantize once to a positive integer grid:
  ``xq = floor(x * scale) + offset`` (floor and IEEE double multiply
  are identical in Spark and DuckDB; the offset keeps every later
  numerator positive so truncating integer division == floor division
  in both engines);
- assignment is exact: argmin over ``sum((xq_i - c_i)^2)`` (BIGINT),
  ties broken by the lower cluster id (struct-ordered ``array_min``);
- the centroid update is round-half-up rational division in integers:
  ``c = (2*s + n) div (2*n)`` where ``s``/``n`` are the cluster's
  per-dimension sum and count — no floating mean anywhere;
- an emptied cluster carries its previous centroid forward.

Scale shape (the 100 TB story): centroids are metadata (k·dim rows) and
ride into the assignment expression as literals inside whole-stage
codegen — the data-scale pass is a pure narrow map, no UDF, no join, no
shuffle. The only shuffle per iteration is the (cluster, dim) partial
aggregate, which map-side-combines to ≤ k·dim rows per task regardless
of input size. Driver traffic is k·dim integers per iteration (the same
collect ``train_kmeans`` already does). Init is the k smallest ids via
``orderBy().limit(k)`` — a TakeOrdered, not a global sort.

Reference parity: the reference declares no clustering surface
(karna-core/src/lib.rs:1-14 is the cargo template); this is pipeline
depth for the curation engine (SemDeDup/IVF both consume k-means).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from karna_spark import intermediates


def quantize_vectors(
    df: DataFrame, id_col: str, vec_col: str, scale: int, offset: int
) -> DataFrame:
    """(vec_id, xq array<bigint>) on the positive integer grid."""
    return df.select(
        F.col(id_col).alias("vec_id"),
        F.transform(
            F.col(vec_col),
            lambda v: F.floor(v.cast("double") * F.lit(float(scale))).cast("long")
            + F.lit(int(offset)),
        ).alias("xq"),
    )


def _assign(e: DataFrame, cents: list[tuple[int, list[int]]]) -> DataFrame:
    """Append exact argmin cluster id. ``cents`` is metadata-scale and
    ships as literals — the pass is shuffle-free and codegen'd."""
    choices: list[Column] = []
    for cid, vec in cents:
        lit_vec = F.array(*[F.lit(int(v)) for v in vec]).cast("array<bigint>")
        dist = F.aggregate(
            F.zip_with("xq", lit_vec, lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        choices.append(
            F.struct(dist.alias("dist"), F.lit(int(cid)).cast("int").alias("cid"))
        )
    return e.select("vec_id", "xq", F.array_min(F.array(*choices))["cid"].alias("cid"))


def _cluster_sums(assigned: DataFrame) -> DataFrame:
    """(cid, dim, s, n) — the one shuffle, bounded by k·dim after
    map-side combine."""
    return (
        assigned.select("cid", F.posexplode("xq").alias("dim", "val"))
        .groupBy("cid", "dim")
        .agg(F.sum("val").alias("s"), F.count(F.lit(1)).alias("n"))
    )


def _updated_centroids(
    prev: list[tuple[int, list[int]]], sum_rows: list
) -> list[tuple[int, list[int]]]:
    """Round-half-up integer centroid update with empty-cluster carry.

    Python ints here are exact and operate on k·dim values only; the
    data-scale sums were computed engine-side.
    """
    by_cid: dict[int, dict[int, tuple[int, int]]] = {}
    for r in sum_rows:
        by_cid.setdefault(r["cid"], {})[r["dim"]] = (int(r["s"]), int(r["n"]))
    out = []
    for cid, vec in prev:
        dims = by_cid.get(cid)
        if dims is None:
            out.append((cid, list(vec)))  # emptied — carry forward
        else:
            out.append(
                (cid, [(2 * dims[d][0] + dims[d][1]) // (2 * dims[d][1]) for d in range(len(vec))])
            )
    return out


def kmeans_lloyd_exact(
    spark: SparkSession,
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    iters: int,
    scale: int = 1024,
    offset: int = 2048,
) -> DataFrame:
    """Run ``iters`` exact Lloyd iterations; return one row per
    (cluster_id, dim): the quantized coordinate (offset removed) and
    the cluster's population under the final assignment.

    The first ``iters - 1`` updates collect k·dim integers to the
    driver (centroid literals for the next pass); the final update
    stays engine-side so the returned frame is Spark-computed. The
    quantized input is persisted once for the ``iters`` passes and
    released by the caller's scope (``karna_spark.intermediates``).
    """
    if iters < 1:
        raise ValueError("iters must be >= 1")
    e = quantize_vectors(df, id_col, vec_col, scale, offset)
    e = intermediates.persist(e, StorageLevel.MEMORY_AND_DISK_DESER)

    init_rows = e.orderBy("vec_id").limit(k).collect()  # TakeOrdered: k rows
    cents = [(i, [int(v) for v in r["xq"]]) for i, r in enumerate(init_rows)]

    for _ in range(iters - 1):
        sums = _cluster_sums(_assign(e, cents)).collect()  # k·dim rows
        cents = _updated_centroids(cents, sums)

    # Final iteration in-engine: update + population from one aggregate.
    from karna_spark.functions.local_frame import literal_frame

    prev_df = literal_frame(
        spark,
        [(cid, dim, int(c)) for cid, vec in cents for dim, c in enumerate(vec)],
        "cid int, dim int, c long",
    )
    s_final = _cluster_sums(_assign(e, cents))
    return (
        prev_df
        .join(F.broadcast(s_final), ["cid", "dim"], "left")
        .select(
            F.col("cid").alias("cluster_id"),
            F.col("dim"),
            (F.coalesce(F.expr("(2*s + n) div (2*n)"), F.col("c")) - F.lit(int(offset))).alias(
                "coord_q"
            ),
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_points"),
        )
    )
