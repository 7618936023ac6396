"""Similarity search over embedding columns (north-star requirement;
SURVEY.md §2.7 F8).

- ``ann_bruteforce_topk``: exact top-k by cosine — broadcast the query
  set, linear scan the corpus, per-query top-k via window. The
  correctness baseline and the right answer whenever |queries| is
  small: one pass over the data, no index, embarrassingly parallel.
- ``random_hyperplane_buckets`` + ``ann_lsh_topk``: sign-LSH (SimHash
  for vectors): bucket = sign bits under d random hyperplanes; search
  only matching buckets. Sub-linear probe cost at the price of recall;
  the scale path when both sides are large.
- ``train_kmeans`` + ``ann_ivf_topk``: IVF — k-means coarse quantizer,
  probe the ``nprobe`` nearest centroids. Training is plain DataFrame
  iteration (explode → groupBy mean); assignment is a broadcast join.

All math via karna_spark.functions.vector (codegen'd SQL lambdas).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from karna_spark.functions.vector import cosine

# ------------------------------------------------------------ brute force


def ann_bruteforce_topk(
    corpus: DataFrame,
    queries: DataFrame,
    corpus_id: str,
    query_id: str,
    vec_col: str,
    k: int = 5,
    exclude_self: bool = True,
) -> DataFrame:
    """Exact cosine top-k: for each query row, the k nearest corpus
    rows. Queries are broadcast (small side by contract); corpus is
    scanned once; WindowGroupLimit prunes to k per query *before* the
    final shuffle."""
    q = queries.select(F.col(query_id).alias("query_id"), F.col(vec_col).alias("q_vec"))
    c = corpus.select(F.col(corpus_id).alias("neighbor_id"), F.col(vec_col).alias("c_vec"))
    scored = c.join(F.broadcast(q), F.lit(True)).withColumn(
        "cos", cosine(F.col("q_vec"), F.col("c_vec"))
    )
    if exclude_self:
        scored = scored.filter(F.col("neighbor_id") != F.col("query_id"))
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


# ------------------------------------------------------------- sign LSH


def hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (plain LCG — no RNG
    dependency, reproducible across runs and engines)."""
    planes: list[list[float]] = []
    state = seed
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            row.append(((state >> 11) / float(1 << 53)) * 2.0 - 1.0)
        planes.append(row)
    return planes


def _bucket_expr(vec_col: str, dim: int, n_planes: int, seed: int):
    """Sign-LSH bucket id (0..2^n_planes-1): bit i = sign of
    ⟨v, plane_i⟩. The planes become literal arrays in the expression,
    evaluated fully inside codegen."""
    bucket = F.lit(0)
    for i, plane in enumerate(hyperplanes(dim, n_planes, seed)):
        arr = F.array(*[F.lit(x) for x in plane])
        d = F.aggregate(
            F.zip_with(F.col(vec_col), arr, lambda x, y: x.cast("double") * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bucket = bucket + F.when(d >= 0, F.lit(1 << i)).otherwise(F.lit(0))
    return bucket


def _resolve_dim(df: DataFrame, vec_col: str, dim: int | None) -> int:
    """Vector dimensionality for plane generation. Callers should pass
    ``dim`` explicitly (ArrayType carries no length, so plan
    construction stays action-free); the fallback is a one-row take on
    a column-pruned scan — correct, but it runs a Spark job at
    plan-build time."""
    if dim is not None:
        return dim
    return len(df.select(vec_col).first()[0])


def random_hyperplane_buckets(
    df: DataFrame,
    vec_col: str,
    n_planes: int = 8,
    seed: int = 42,
    out_col: str = "bucket",
    dim: int | None = None,
) -> DataFrame:
    """Append a single-table sign-LSH bucket id. Vectors with high
    cosine collide with probability (1 - θ/π)^n_planes."""
    dim = _resolve_dim(df, vec_col, dim)
    return df.withColumn(out_col, _bucket_expr(vec_col, dim, n_planes, seed))


def axis_planes(dims_per_table: int, n_tables: int, dim: int) -> list[list[list[float]]]:
    """Axis-aligned hyperplane sets: table ``t`` projects onto basis
    vectors e_{t·m} … e_{t·m+m-1}, so its bucket bits are simply the
    signs of ``m`` disjoint coordinates. A legitimate sign-LSH family
    (projection onto fixed unit vectors) whose buckets are exactly
    reproducible in ANSI SQL (``v[i] >= 0``) — used by the driver's
    recall gate so the oracle can replay the whole pipeline."""
    tables = []
    for t in range(n_tables):
        planes = []
        for i in range(dims_per_table):
            row = [0.0] * dim
            row[t * dims_per_table + i] = 1.0
            planes.append(row)
        tables.append(planes)
    return tables


def _multi_table_buckets(
    df: DataFrame,
    vec_col: str,
    dim: int,
    n_planes: int,
    n_tables: int,
    seed: int,
    planes: list[list[list[float]]] | None = None,
) -> DataFrame:
    """Explode each row into ``n_tables`` (table_id, bucket) keys, one
    per independent plane set — the amplification half of LSH.

    The n_tables × n_planes hyperplane projections are one dense
    (batch, dim) @ (dim, n_tables·n_planes) matmul — the canonical case
    where an Arrow-vectorized pandas UDF (numpy/BLAS) beats built-in
    expressions: the equivalent higher-order-function tree (one
    aggregate(zip_with) per plane) evaluates interpreted per element
    and is ~100× slower per row. Batch transfer is Arrow; the plane
    matrix ships once per task as a closure constant (L·m·dim doubles)."""
    if planes is None:
        planes = [hyperplanes(dim, n_planes, seed + 1000 * t) for t in range(n_tables)]
    planes = np.asarray([row for tbl in planes for row in tbl])  # (L*m, dim)
    weights = (1 << np.arange(n_planes)).astype(np.int64)

    @pandas_udf("array<long>")
    def bucket_ids(v: pd.Series) -> pd.Series:
        mat = np.vstack(v.to_numpy()).astype(np.float64)  # (batch, dim)
        signs = (mat @ planes.T) >= 0  # (batch, L*m)
        buckets = signs.reshape(len(v), n_tables, n_planes) @ weights  # (batch, L)
        return pd.Series(list(buckets))

    return df.select(
        "*", F.posexplode(bucket_ids(F.col(vec_col))).alias("table_id", "bucket")
    )


def ann_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    corpus_id: str,
    query_id: str,
    vec_col: str,
    k: int = 5,
    n_planes: int = 8,
    n_tables: int = 8,
    seed: int = 42,
    dim: int | None = None,
    planes: list[list[list[float]]] | None = None,
) -> DataFrame:
    """Approximate top-k via amplified sign-LSH: ``n_tables``
    independent tables of ``n_planes`` hyperplanes each; a corpus row is
    a candidate for a query iff they share a bucket in ANY table
    (recall = 1-(1-p^m)^L for per-plane collision p = 1-θ/π). The
    equi-join on (table_id, bucket) replaces the all-pairs scan: probe
    cost ≈ L · corpus/2^m per query instead of the full corpus, and the
    join shuffles on the bucket key, so it scales out. Candidates are
    deduped across tables before the exact-cosine rank.

    ``planes`` overrides the seeded pseudo-random hyperplanes with an
    explicit family (list of tables, each a list of dim-length plane
    vectors) — e.g. :func:`axis_planes` for an oracle-replayable
    configuration."""
    dim = _resolve_dim(corpus, vec_col, dim)
    if planes is not None:
        n_tables, n_planes = len(planes), len(planes[0])
    c_base = corpus.select(F.col(corpus_id).alias("neighbor_id"), F.col(vec_col).alias("c_vec"))
    # Bucket computation is CPU-bound (n_tables × n_planes dot
    # products per row); a small corpus arriving as 1-3 input splits
    # would pin it to those cores — spread only in that case (at real
    # scale splits >> cores and this is a no-op).
    sc = corpus.sparkSession.sparkContext
    if c_base.rdd.getNumPartitions() < sc.defaultParallelism:
        c_base = c_base.repartition(sc.defaultParallelism, "neighbor_id")
    c = _multi_table_buckets(c_base, "c_vec", dim, n_planes, n_tables, seed, planes)
    q = _multi_table_buckets(
        queries.select(F.col(query_id).alias("query_id"), F.col(vec_col).alias("q_vec")),
        "q_vec", dim, n_planes, n_tables, seed, planes,
    )
    cands = (
        c.join(F.broadcast(q), ["table_id", "bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "q_vec", "neighbor_id", "c_vec")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = cands.withColumn("cos", cosine(F.col("q_vec"), F.col("c_vec")))
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


# ----------------------------------------------------------------- IVF


def _nearest_centroids_udf(centroid_rows: list, n: int):
    """Arrow-vectorized argmin assignment: vector column → array of the
    ``n`` nearest cluster ids. One numpy distance matrix per batch
    instead of k interpreted l2-expression evaluations per row (and no
    k×dim literal forest in the plan — centroids ship as a closure
    constant). Ties break by ascending cluster id (stable argsort over
    id-sorted centroids), matching the SQL formulation it replaces."""
    rows = sorted(centroid_rows, key=lambda r: r["cluster_id"])
    ids = np.asarray([r["cluster_id"] for r in rows], dtype=np.int64)
    cents = np.asarray([list(r["centroid"]) for r in rows], dtype=np.float64)

    # The (rows, k, d) difference tensor is the memory hot spot: at a
    # 10k-row Arrow batch and k=√n cells (e.g. 894 at n=800k, d=64)
    # it is ~4.6 GB PER WORKER — the kernel OOM-kills the JVM. Chunk
    # rows so the tensor stays ≤ ~200 MB; per-element arithmetic is
    # unchanged, so results are bit-identical to the one-shot form.
    chunk = max(1, (200 * 2**20) // (8 * max(1, cents.shape[0] * cents.shape[1])))

    @pandas_udf("array<long>")
    def nearest(v: pd.Series) -> pd.Series:
        mat = np.vstack(v.to_numpy()).astype(np.float64)  # (b, d)
        if mat.shape[0] <= chunk:  # common case: batch fits — no loop
            d2 = ((mat[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            order = np.argsort(d2, axis=1, kind="stable")[:, :n]
            return pd.Series([ids[o] for o in order])
        out = []
        for lo in range(0, mat.shape[0], chunk):
            sub = mat[lo : lo + chunk]
            d2 = ((sub[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            order = np.argsort(d2, axis=1, kind="stable")[:, :n]
            out.extend(ids[o] for o in order)
        return pd.Series(out)

    return nearest


def train_kmeans(
    df: DataFrame, vec_col: str, k: int, iters: int = 5, id_col: str | None = None
) -> DataFrame:
    """Distributed k-means (Lloyd's) on an embedding column.

    Init: k deterministic rows (hash-sampled). Each iteration:
    broadcast centroids → argmin-distance assign → posexplode →
    groupBy (cluster, dim) mean → collect_list back to arrays. All
    shuffles are on (cluster, dim) — bounded by k·dim, not data size.
    Returns (cluster_id, centroid  array<double>).
    """
    vecs = df.select(F.col(vec_col).alias("v"))
    centroids = (
        vecs.withColumn("__h", F.xxhash64(F.col("v").cast("string")))
        .orderBy("__h")
        .limit(k)
        .select(F.monotonically_increasing_id().alias("cluster_id"), F.col("v").alias("centroid"))
        .select("cluster_id", F.transform("centroid", lambda x: x.cast("double")).alias("centroid"))
    )
    for _ in range(iters):
        cent_rows = centroids.collect()  # k rows only — driver-safe
        nearest = _nearest_centroids_udf(cent_rows, 1)
        assigned = vecs.withColumn(
            "cluster_id", F.element_at(nearest(F.col("v")), 1).cast("int")
        )
        centroids = (
            assigned.select("cluster_id", F.posexplode("v").alias("dim", "val"))
            .groupBy("cluster_id", "dim")
            .agg(F.avg("val").alias("m"))
            .groupBy("cluster_id")
            .agg(F.array_sort(F.collect_list(F.struct("dim", "m"))).alias("dm"))
            .select(
                "cluster_id", F.transform("dm", lambda s: s.getField("m")).alias("centroid")
            )
        )
    return centroids


def ivf_assignment_table(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """(neighbor_id, c_vec, bucket) inverted-file index for STORING —
    compute once at ingest, persist (e.g. a SnapshotStore partitioned
    by ``bucket`` so probes prune to their cells), and hand back to
    :func:`ann_ivf_topk` via ``corpus_assignments`` so each arriving
    query batch probes the corpus WITHOUT re-assigning it. Centroids
    must match the probe call exactly — an assignment is only valid
    under the quantizer that produced it."""
    cent_rows = centroids.select("cluster_id", "centroid").collect()
    nearest = _nearest_centroids_udf(cent_rows, 1)
    return corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    ).select("*", F.explode(nearest(F.col("c_vec"))).alias("bucket"))


def ann_ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    corpus_id: str,
    query_id: str,
    vec_col: str,
    k: int = 5,
    nprobe: int = 2,
    corpus_assignments: DataFrame | None = None,
) -> DataFrame:
    """IVF search: assign corpus rows to their nearest centroid once,
    assign each query to its ``nprobe`` nearest centroids, then
    exact-rank within the probed inverted lists. Assignment is the
    vectorized argmin UDF (k rows of centroids ride along as a closure
    constant — the k-way cross join + window the SQL formulation needed
    is gone entirely). Pass ``corpus_assignments`` (an
    :func:`ivf_assignment_table` result, possibly a stored one UNIONED
    with the arriving batch's own assignments) to run the production
    steady-state: only the query batch touches the argmin UDF and the
    corpus is consulted purely through its stored inverted lists —
    ``corpus``/``corpus_id`` are ignored in that mode, and the two
    paths return identical rows (differential-tested).

    SIZE THE CELL COUNT WITH THE CORPUS: candidate-scoring cost per
    query is ~``nprobe * n / nlist``, so a fixed small nlist makes
    every ingest scan a constant FRACTION of the corpus and the
    stored-assignment saving (skipping the ``n × nlist`` corpus
    re-assignment) disappears into scoring noise — measured in
    scripts/ingest_scaling.py. The standard rule is nlist ≈ √n
    (scoring and assignment both ~√n per query then), which is what
    the scaling harness uses; centroids stay a driver-side closure
    constant (√n × dim doubles — ~0.5 MB at n=1e6, d=64)."""
    cent_rows = centroids.select("cluster_id", "centroid").collect()  # k rows

    def assign(df: DataFrame, id_col_: str, vcol: str, n: int, out: str) -> DataFrame:
        nearest = _nearest_centroids_udf(cent_rows, n)
        return df.select(
            "*", F.explode(nearest(F.col(vcol))).alias(out)
        )

    if corpus_assignments is not None:
        c = corpus_assignments.select("neighbor_id", "c_vec", "bucket")
    else:
        c = assign(
            corpus.select(F.col(corpus_id).alias("neighbor_id"), F.col(vec_col).alias("c_vec")),
            "neighbor_id",
            "c_vec",
            1,
            "bucket",
        )
    q = assign(
        queries.select(F.col(query_id).alias("query_id"), F.col(vec_col).alias("q_vec")),
        "query_id",
        "q_vec",
        nprobe,
        "bucket",
    )
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos", cosine(F.col("q_vec"), F.col("c_vec")))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


# ------------------------------------------------------------ product quantization


def pq_codebooks_from_rows(
    df: DataFrame, vec_col: str, id_col: str, seed_ids: list, m: int
) -> list:
    """PQ codebooks taken verbatim from ``len(seed_ids)`` fixed corpus
    rows: subspace ``j``'s centroid ``c`` is seed row ``c``'s j-th
    subvector (seed order = ascending id). No Lloyd training — the
    codebook is a deterministic function of named rows, so an ANSI-SQL
    oracle can reconstruct it exactly (``list_slice`` over the same
    rows) and replay encode + ADC end-to-end. Collect is
    len(seed_ids) rows — driver-safe at any corpus size."""
    rows = df.filter(F.col(id_col).isin(list(seed_ids))).select(
        F.col(id_col).alias("i"), F.col(vec_col).alias("v")
    ).collect()
    ordered = [np.asarray(list(r["v"]), dtype=np.float64) for r in sorted(rows, key=lambda r: r["i"])]
    X = np.stack(ordered)  # (ksub, dim)
    ksub, dim = X.shape
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    # (ksub, m, dsub) -> (m, ksub, dsub)
    return X.reshape(ksub, m, dsub).transpose(1, 0, 2).tolist()


def pq_encode_udf(codebooks: list):
    """Arrow-vectorized PQ encoder: vector → array<int> of ``m`` codes.
    (Production layout packs codes into ``binary`` — m bytes/vector, a
    32× compression of 64-dim float32; the int array keeps the column
    inspectable here and the plan identical.)"""
    cb = np.asarray(codebooks, dtype=np.float64)  # (m, ksub, dsub)
    m, _, dsub = cb.shape

    # Row-chunk the (rows, m, ksub, dsub) difference tensor to ~200 MB
    # (at d=64/ksub=256 the full 10k-row Arrow batch would be ~1.3 GB
    # per worker) — same bit-identical chunking as the IVF argmin.
    chunk = max(1, (200 * 2**20) // (8 * max(1, cb.size)))

    @pandas_udf("array<int>")
    def encode(v: pd.Series) -> pd.Series:
        if len(v) == 0:  # empty Arrow batch from an empty partition
            return pd.Series([], dtype=object)
        X = np.vstack(v.to_numpy()).astype(np.float64)
        Xs = X.reshape(len(X), m, dsub)
        if len(Xs) <= chunk:  # common case: batch fits — no loop
            d2 = ((Xs[:, :, None, :] - cb[None, :, :, :]) ** 2).sum(axis=-1)
            return pd.Series(list(d2.argmin(axis=-1).astype(np.int32)))
        out = []
        for lo in range(0, len(Xs), chunk):
            sub = Xs[lo : lo + chunk]
            d2 = ((sub[:, :, None, :] - cb[None, :, :, :]) ** 2).sum(axis=-1)
            out.extend(d2.argmin(axis=-1).astype(np.int32))
        return pd.Series(out)

    return encode


def ann_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: list,
    corpus_id: str,
    query_id: str,
    vec_col: str,
    k: int = 5,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: each query
    precomputes an (m × ksub) lookup table of exact subspace distances
    to every centroid; a corpus row's approximate distance is m table
    lookups summed — no float vectors move after encoding. Query LUTs
    ride as a closure constant (|queries| × m × ksub doubles); the
    corpus side is one scan + one per-query top-k window. At 100 TB
    the scan reads m-byte codes instead of d-float vectors — the
    memory/IO compression is the entire point of PQ."""
    cb = np.asarray(codebooks, dtype=np.float64)
    m, ksub, dsub = cb.shape
    q_rows = queries.select(
        F.col(query_id).alias("qid"), F.col(vec_col).alias("qv")
    ).collect()  # |queries| rows — the small side by contract
    qids = sorted(r["qid"] for r in q_rows)
    by_id = {r["qid"]: np.asarray(list(r["qv"]), dtype=np.float64) for r in q_rows}
    luts = np.stack(
        [
            ((by_id[q].reshape(m, dsub)[:, None, :] - cb) ** 2).sum(axis=-1)
            for q in qids
        ]
    )  # (nq, m, ksub)

    encode = pq_encode_udf(codebooks)
    coded = corpus.select(
        F.col(corpus_id).alias("neighbor_id"), encode(F.col(vec_col)).alias("codes")
    )

    @pandas_udf("array<double>")
    def adc(codes: pd.Series) -> pd.Series:
        if len(codes) == 0:
            return pd.Series([], dtype=object)
        C = np.vstack(codes.to_numpy()).astype(np.int64)  # (b, m)
        idx = np.arange(m)
        out = np.empty((len(C), len(qids)))
        for qi in range(len(qids)):
            out[:, qi] = luts[qi][idx[None, :], C].sum(axis=1)
        return pd.Series(list(out))

    # qmap carries the query-id column's ACTUAL dtype (long, string,
    # UUID-as-string, …) — no int() cast, so non-integer ids survive.
    spark = corpus.sparkSession
    id_type = queries.schema[query_id].dataType
    from karna_spark.functions.local_frame import literal_frame

    qmap = literal_frame(
        spark,
        [(i, q) for i, q in enumerate(qids)],
        T.StructType(
            [
                T.StructField("qpos", T.IntegerType()),
                T.StructField("query_id", id_type),
            ]
        ),
    )
    scored = (
        coded.select(
            "neighbor_id", F.posexplode(adc(F.col("codes"))).alias("qpos", "adc")
        )
        .join(F.broadcast(qmap), "qpos")
        .filter(F.col("neighbor_id") != F.col("query_id"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "adc", "rank")
    )


# ------------------------------------------------- binary sign sketch
def sign_sketch_words(vec_col: str, dim: int) -> "list[Column]":
    """Pack the SIGN BITS of a float vector into 32-bit words riding
    in BIGINT columns (``w0``, ``w1``, ...): bit ``i`` of word ``j`` is
    1 iff ``vec[32j + i] > 0``. This is the binary-embedding sketch
    (FAISS ``IndexBinaryFlat`` / SimHash-on-axes): 64 dims collapse
    from 256 float bytes to 8 sketch bytes — a 32× scan-size reduction
    for the candidate pass — and Hamming distance on the sketch is a
    monotone proxy for angular distance. 32 bits per word (not 64)
    keeps every packed value positive, so the DuckDB oracle's
    ``1::BIGINT << i`` arithmetic is portable with no sign-bit edge.
    Pure JVM expression (zip_with/aggregate/shiftleft) — no UDF."""
    out = []
    for j in range(0, dim, 32):
        w = min(32, dim - j)
        expr = (
            f"aggregate(zip_with(slice({vec_col}, {j + 1}, {w}), "
            f"sequence(0, {w - 1}), "
            "(v, i) -> IF(v > CAST(0 AS DOUBLE), "
            "shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT))), "
            "CAST(0 AS BIGINT), (a, b) -> a + b)"
        )
        out.append(F.expr(expr).alias(f"w{j // 32}"))
    return out


def ann_hamming_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    corpus_id: str,
    query_id: str,
    vec_col: str,
    k: int = 10,
    rerank: int = 50,
    dim: int | None = None,
    corpus_sketches: DataFrame | None = None,
) -> DataFrame:
    """ANN via binary sketch + exact rerank, the two-stage form every
    binary index runs: (1) CANDIDATES — scan only the packed sign
    sketches, rank by Hamming distance to each query's sketch, keep
    the top ``rerank`` per query; (2) RERANK — join just those
    candidates back to the float vectors and order by exact cosine.
    Returns (query_id, neighbor_id, hamming, cos, rank) with rank ≤ k.

    ``corpus_sketches`` (columns ``neighbor_id``, ``w0``, ``w1``, ...)
    is the steady-state form: a sketch table persisted once at ingest
    (build it with :func:`sign_sketch_words`) and probed by every
    arriving query batch WITHOUT re-deriving the corpus sketches —
    the same contract as :func:`ann_ivf_topk`'s
    ``corpus_assignments``. It must cover exactly the corpus rows, or
    candidates will be missed/phantom.

    Scale: stage 1 is exhaustive but touches 8 sketch bytes per row
    instead of 4·dim vector bytes (32× less scan I/O at dim=64); the
    per-query top-R is a WindowGroupLimit (per-partition heads,
    no global sort), and stage 2's exact-vector read is bounded at
    |queries|·rerank rows. Ties break on neighbor id at both stages,
    so the result is deterministic at any parallelism."""
    dim = _resolve_dim(corpus, vec_col, dim)
    n_words = (dim + 31) // 32
    wnames = [f"w{j}" for j in range(n_words)]
    if corpus_sketches is not None:
        c_sk = corpus_sketches.select("neighbor_id", *wnames)
    else:
        c_sk = corpus.select(
            F.col(corpus_id).alias("neighbor_id"),
            *sign_sketch_words(vec_col, dim),
        )
    q_sk = queries.select(
        F.col(query_id).alias("query_id"),
        *[w.alias(f"q{n}") for w, n in zip(sign_sketch_words(vec_col, dim), wnames)],
    )
    ham = None
    for n in wnames:
        t = F.bit_count(F.col(n).bitwiseXOR(F.col(f"q{n}")))
        ham = t if ham is None else ham + t
    scored = (
        c_sk.join(F.broadcast(q_sk), F.lit(True))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", ham.cast("int").alias("hamming"))
    )
    wc = Window.partitionBy("query_id").orderBy(
        F.col("hamming"), F.col("neighbor_id")
    )
    cand = (
        scored.withColumn("r", F.row_number().over(wc))
        .filter(F.col("r") <= rerank)
        .drop("r")
    )
    cvec = corpus.select(
        F.col(corpus_id).alias("neighbor_id"), F.col(vec_col).alias("__cv")
    )
    qvec = queries.select(
        F.col(query_id).alias("query_id"), F.col(vec_col).alias("__qv")
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        cand.join(cvec, "neighbor_id")
        .join(F.broadcast(qvec), "query_id")
        .withColumn(
            "cos", F.round(cosine(F.col("__cv"), F.col("__qv")), 4)
        )
        .withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "hamming", "cos", "rank")
    )
