"""Quantized logistic-regression training (F34) — a TRAINED binary
quality classifier in pure DataFrame algebra, certification-grade.

This is the trainable half of the classifier-based curation gate the
public pipelines describe (GPT-3's WebText LR filter, CCNet's fastText
quality classes, Llama's "quality classifier"): hashed bag-of-words
features, batch gradient descent, a sigmoid link. Reference surface:
the reference declares SQL analytics over documents
(/root/reference/README.md:2); a trained curation gate is the
north-star extension of its text operators.

EXACTNESS DESIGN — why this hashes bit-identically on any engine:

- All model state is BIGINT micro-units (w, z, p in 1e-6). Sums of
  BIGINTs are exact at any parallelism — the certified F26/F30/F31
  recipe.
- The link is the HARD sigmoid sigma~(z) = clamp(z/4 + 1/2, 0, 1)
  (the piecewise-linear logistic with matched slope sigma'(0) = 1/4 —
  the standard quantized-training link, e.g. Theano/Keras
  hard_sigmoid, MobileNetV3 h-sigmoid). Unlike exp(), it needs no
  transcendental: p = clamp(floor(z/4) + 500000, 0, 1e6) is integer
  arithmetic end to end, so DuckDB and the JVM cannot disagree in the
  last ulp the way libm exp() implementations can.
- Divisions are mathematical FLOOR division. DuckDB's integer ``//``
  TRUNCATES toward zero (mismatching Python's floor ``//``), so the
  oracle spells it ``CAST(floor(a / b) AS BIGINT)`` over double
  division — exact because |a| < 2^52 and the quotient's distance to
  any integer boundary is >= 1/b, nine orders of magnitude above the
  correctly-rounded division error.

SCALE SHAPE: features are hashed to a FIXED bucket count, so the
model is metadata-scale and broadcasts at any corpus size. Each GD
iteration is two data-scale map-combinable aggregates (per-doc z,
per-bucket gradient) plus one <=|buckets|-row collect — the same
1-small-collect-per-iteration contract as BPE (F22) and k-means
(F28). The feature frame is persisted once and reused by every
iteration (iters+1 consumers; at 100 TB re-scanning the corpus per
iteration would multiply the I/O bill — the F31 lesson).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from karna_spark import intermediates

MICRO = 1_000_000
HALF = MICRO // 2


def _p_expr(z):
    """Hard-sigmoid probability in micro-units: clamp(floor(z/4) +
    500000, 0, 1e6). z/4 via double division — exact for |z| < 2^52."""
    return F.least(
        F.lit(MICRO).cast("bigint"),
        F.greatest(
            F.lit(0).cast("bigint"),
            (F.floor(F.col(z) / F.lit(4.0)).cast("bigint") + F.lit(HALF)),
        ),
    )


def _z_frame(feats: DataFrame, w: dict[str, int]) -> DataFrame:
    """Per-doc logit z = sum_b w_b * x_b (micro-units). The weight
    vector is metadata-scale (FIXED bucket count), so it rides the
    plan as ONE map literal — the constant-folded form the tokenizer
    vocab uses — instead of a per-iteration broadcast join: a local
    17-row ``createDataFrame`` costs a Python-RDD scan (one Python
    worker round-trip per core, measured ~200 ms × cores per
    iteration) plus a BroadcastExchange job, every iteration, for
    data that never leaves the driver. Buckets absent from ``w``
    score 0 (map miss → null → coalesce)."""
    if not w:
        # Degenerate train slice with zero feature rows: an argless
        # create_map types as map<string,string> and the coalesce
        # below would fail analysis — the logit of an all-zero
        # weight vector is simply 0 (r12 ADVICE).
        return feats.groupBy("doc_id", "y").agg(
            F.sum(F.lit(0).cast("long") * F.col("x"))
            .cast("bigint")
            .alias("z")
        )
    wmap = F.create_map(
        *[
            c
            for b, v in sorted(w.items())
            for c in (F.lit(b), F.lit(int(v)).cast("long"))
        ]
    )
    return (
        feats.groupBy("doc_id", "y")
        .agg(
            F.sum(F.coalesce(wmap[F.col("b")], F.lit(0)) * F.col("x"))
            .cast("bigint")
            .alias("z")
        )
    )


def train_hard_sigmoid_logreg(
    feats: DataFrame, iters: int = 3, inv_lr: int = 8
) -> tuple[dict[str, int], int]:
    """Batch gradient descent on ``feats`` (columns ``doc_id``, ``y``
    in {0,1}, ``b`` bucket, ``x`` BIGINT count): for each iteration,
    w_b += floor(sum_d (y_d*1e6 - p_d) * x_{d,b} / (n * inv_lr)) with
    p the hard-sigmoid of the current logit. Returns (weights in
    micro-units, n_train_docs). Deterministic and integer-exact by
    construction — see the module docstring."""
    # Persist the feature frame HASH-PARTITIONED ON doc_id: every
    # iteration groups by (doc_id, y) for the logit and joins the
    # per-doc probabilities back on doc_id — both requirements are
    # satisfied by the cached partitioning (partitioning exprs ⊆
    # clustering exprs), so the per-iteration plans carry ZERO
    # exchanges of the data-scale frame. One shuffle up front replaces
    # 2·iters shuffles (guide §2.4: operations keyed the same way
    # share one exchange); at 100 TB that is 12 fewer corpus-scale
    # exchanges for the default 6 iterations. The partition COUNT is
    # size-derived (operators/sizing.py): the input is persisted once
    # to measure it, then re-persisted hash(doc_id) at the measured
    # count — one partition at fixture scale (every iteration becomes
    # a single exchange-free stage), ~32 MB partitions at corpus
    # scale with the co-partitioning kept.
    from karna_spark.operators.sizing import cached_partition_target

    # Nothing downstream re-reads the TRAIN slice (scoring uses its
    # own), so the caches are released before returning.
    with intermediates.scope():
        raw = intermediates.persist(feats, StorageLevel.MEMORY_AND_DISK_DESER)
        n = raw.select("doc_id").distinct().count()
        w = {
            r["b"]: 0
            for r in raw.select("b").distinct().collect()
        }
        target = cached_partition_target(raw)
        feats = intermediates.persist(
            raw.repartition(target, "doc_id")
            if target is not None
            else raw.repartition("doc_id"),
            StorageLevel.MEMORY_AND_DISK_DESER,
        )
        for _ in range(iters):
            z = _z_frame(feats, w)
            p = z.select("doc_id", "y", _p_expr("z").alias("p"))
            grad = (
                feats.join(p, ["doc_id", "y"])
                .groupBy("b")
                .agg(
                    F.sum(
                        (F.col("y").cast("bigint") * MICRO - F.col("p"))
                        * F.col("x")
                    )
                    .cast("bigint")
                    .alias("g")
                )
                .collect()
            )
            for r in grad:
                w[r["b"]] = w[r["b"]] + int(r["g"]) // (n * inv_lr)
    return w, n


def predict(feats: DataFrame, w: dict[str, int]) -> DataFrame:
    """Score ``feats`` with trained weights: per-doc (y, p, yhat)
    where yhat = [p >= 1/2]. One broadcast join + one map-combinable
    aggregate — the exact scoring plan of the training iterations."""
    z = _z_frame(feats, w)
    return z.select(
        "doc_id",
        "y",
        _p_expr("z").alias("p"),
    ).withColumn("yhat", (F.col("p") >= HALF).cast("int"))
