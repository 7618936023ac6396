"""Connected components over a pair list — near-dup cluster assembly.

Pairwise near-dup detection (MinHash-LSH, SimHash) emits edges; a
dedup policy needs *clusters*: transitively-connected groups with one
canonical representative to keep. This is the standard iterative
min-label propagation (the MapReduce-era hash-to-min algorithm):

    label(v) ← min(label(v), min over neighbors' labels)

repeated until fixpoint. Convergence takes O(component diameter)
rounds; near-dup clusters are dense and shallow (diameter ≤ ~3), so
the loop runs 2-4 times in practice. Each round is one equi-join
(labels onto edge endpoints) plus one min-aggregate — two shuffles on
doc id, nothing quadratic. The driver-side loop holds only a changed-
row COUNT per round (a scalar), never data; labels persist across
rounds and the previous round's cache is released as soon as the next
materializes (by hand: a scope cannot release one round early); the
other caches ride the caller's ``intermediates`` scope. Every few
rounds the label frame is ``localCheckpoint``ed so plan lineage stays
O(1) instead of growing two joins per round — on a deep graph the
un-truncated tree re-plans quadratically and can overflow executor
stacks. If the loop exits without reaching the
fixpoint the result would be silently wrong (one component split into
several), so that raises instead of returning. For adversarially deep
graphs (long chains) the large-star/small-star variant halves diameter
per round; near-dup workloads don't need it and the simple form
shuffles less per round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from karna_spark import intermediates


def connected_components(
    pairs: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iter: int = 25,
    checkpoint_every: int = 4,
) -> DataFrame:
    """Cluster ids for every vertex appearing in ``pairs``: one row
    (id, cluster_id) per vertex, cluster_id = min vertex id of its
    component — deterministic at any parallelism.

    Raises ``RuntimeError`` if ``max_iter`` rounds pass without
    reaching the fixpoint (component diameter > max_iter): a partial
    propagation would split components with no other signal.
    """
    # Symmetrize with ONE scan of the pair pipeline: a union of
    # pairs-with-itself-swapped would evaluate the (often expensive,
    # usually unpersisted) upstream pair detection once per branch;
    # explode duplicates each row into both directions inside a single
    # pass instead.
    edges = intermediates.persist(
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
                    ),
                    F.struct(
                        F.col(dst_col).alias("src"), F.col(src_col).alias("dst")
                    ),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .distinct(),
        StorageLevel.MEMORY_AND_DISK,
    )
    # Seed with propagation round 0 FUSED IN: label(v) = min(v, min
    # neighbor). The symmetrized edge list contains every (v, neighbor)
    # pair, so one aggregate computes what the loop's first round would
    # — saving a full join+aggregate+count action per call. For
    # diameter-1 components (the bulk of near-dup clusters) the loop
    # then confirms the fixpoint in a single round.
    labels = (
        edges.groupBy(F.col("src").alias("id"))
        .agg(F.min("dst").alias("mn"))
        .select("id", F.least("id", "mn").alias("label"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # ``cached`` is the persisted handle for the current label frame;
    # ``labels`` may be a projection over it (unpersist must target the
    # frame persist() was called on, or it is a silent no-op and every
    # round's cache leaks).
    cached = labels
    try:
        # ONE action pins BOTH caches: the label seed reads edges
        # through a single branch, so evaluating it fills the edges
        # cache blocks as a side effect (no fan-out race — that needs
        # 2+ branches over the unpinned frame inside one action) and
        # then the labels cache. The loop's first join reads edges from
        # cache. One scheduler round saved per call vs separate count
        # barriers.
        labels.count()
        # Size-adaptive parallelism for the propagation rounds (see
        # operators/sizing.py): both caches are materialized, so their
        # real sizes are known. Near-dup label/edge frames are
        # vertex-scale, orders of magnitude below the corpus — at
        # fixture scale both collapse to ONE partition and every
        # round's join+aggregate runs as a single exchange-free task;
        # web-scale graphs keep size-proportional parallelism.
        from karna_spark.operators.sizing import coalesce_to_size

        edges = coalesce_to_size(edges, edges)
        labels = coalesce_to_size(labels, labels)
        changed = -1
        for it in range(max_iter):
            neigh = (
                edges.join(labels.withColumnRenamed("id", "dst"), "dst")
                .select(
                    F.col("src").alias("id"),
                    "label",
                    F.lit(None).cast("long").alias("old"),
                )
            )
            # Carry each vertex's previous label through the aggregate
            # (it appears exactly once in ``labels``, so min() recovers
            # it) — the changed-count then reads the cached result
            # directly instead of paying a compare-join per round.
            new_labels = (
                labels.select("id", "label", F.col("label").alias("old"))
                .unionByName(neigh)
                .groupBy("id")
                .agg(F.min("label").alias("label"), F.min("old").alias("old"))
            )
            # Keep the round's output at the size-derived partition
            # count — the aggregate would otherwise re-expand to the
            # session shuffle parallelism when persisted (AQE does not
            # re-coalesce plans that feed a cache).
            new_labels = coalesce_to_size(new_labels, cached)
            # Truncate lineage periodically: without a barrier the plan
            # grows two joins per round and re-planning cost compounds.
            if (it + 1) % checkpoint_every == 0:
                new_labels = intermediates.checkpoint(new_labels, eager=False)
            prev, cached = cached, new_labels.persist(StorageLevel.MEMORY_AND_DISK)
            changed = cached.filter(F.col("label") < F.col("old")).count()
            prev.unpersist()
            labels = cached.select("id", "label")
            if changed == 0:
                break
        if changed != 0:
            raise RuntimeError(
                f"connected_components did not converge in {max_iter} "
                f"rounds ({changed} labels still changing); component "
                "diameter exceeds max_iter — raise max_iter or use a "
                "star-contraction variant"
            )
        # Materialize once so the returned frame doesn't depend on the
        # loop's cache, which is released on the way out.
        return intermediates.checkpoint(
            labels.select("id", F.col("label").alias("cluster_id")), eager=True
        )
    finally:
        cached.unpersist()


def cluster_representatives(
    pairs: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
) -> DataFrame:
    """Dedup keep/drop decision: (id, cluster_id, keep) where exactly
    the minimum id of each cluster is kept."""
    cc = connected_components(pairs, src_col, dst_col)
    return cc.withColumn("keep", F.col("id") == F.col("cluster_id"))
