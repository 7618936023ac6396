"""Distributed PageRank, certification grade (integer-exact).

NORTH-STAR provenance: web-corpus curation ranks domains/documents by
link authority before sampling (e.g. the Common Crawl → quality-corpus
pipelines); the reference's own surface has no graph operator
(`/root/reference/karna-core/src/lib.rs:1-14` is the cargo template).
This is the iterative-join formulation of Page et al. 1999, engineered
the same way as the certified k-means (`operators/kmeans.py`): all
arithmetic in integer micro-units with truncating division, so a fixed
iteration count replays bit-for-bit in any engine — DuckDB re-runs the
identical spec as chained CTEs and the driver hash-certifies the
result.

Numerics: ranks live in units of ``total=10^12`` (initial rank =
``total div N`` per node). One step:

    new_rank(v) = ((100-d)·base + d·Σ_{(u,v)∈E} rank(u) div deg(u)) div 100

with ``d=85`` (damping 0.85) and every division truncating on positive
operands — Spark ``div`` truncates and DuckDB ``//`` floors, equal on
positives (the cross-engine recipe from queries/parity.py). Dangling
mass is dropped (the standard simplified variant) — ranks certify the
spec, not the stochastic-matrix ideal; for curation ordering that is
exactly as useful and it keeps the recurrence engine-exact.

Scale: each iteration is one equi-join of the rank frame onto the
edge list (pre-joined once with out-degrees), one map-side-combinable
sum by destination, and one metadata join back to the node frame —
shuffle volume ∝ |E| per iteration, never any cross product. At
cluster scale, pre-partition the edge list by ``src`` (bucketing) so
the per-iteration join co-locates; the rank frame is |V|-scale. The
1-row node-count scalar broadcasts (adjudicated BNLJ). A fixed small
iteration count is the certification configuration; a convergence
loop would add a per-iteration delta aggregate, same topology.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from karna_spark import intermediates

TOTAL = 10**12


def triangle_counts(pairs: DataFrame) -> DataFrame:
    """Exact per-node triangle counts over an undirected graph given as
    canonical pairs ``(a, b)`` with ``a < b`` (bigint, distinct).
    Returns ``(id, triangles)`` for every node in the edge list.

    Degree-ordered orientation (Chiba–Nishizeki / the standard
    big-data formulation): orient each edge from the endpoint with the
    smaller ``(degree, id)`` key to the larger, making the graph a DAG
    whose max out-degree is O(sqrt(|E|)) on any graph — the wedge
    self-join's fan-out is bounded by out-degree squared regardless of
    skew (a celebrity node's million-degree star generates ZERO wedges
    at the celebrity; its edges orient outward from the low-degree
    fans). Pipeline: two metadata joins attach degrees, one |E'|⋈|E'|
    equi-join on ``src`` builds wedges, one |wedges|⋈|E'| equi-join
    closes them, one explode + map-combinable count per corner. All
    equi-joins (no BNLJ), all integer arithmetic — DuckDB replays the
    identical spec and the driver hash-certifies bit-for-bit.
    """
    # The pair list feeds degree counting (twice, via the endpoint
    # union) and the orientation join; the degree frame feeds both
    # endpoint attachments and the final left join. Materialize each
    # once (lazy localCheckpoint, released by the caller's scope — the
    # pagerank/bm25 pattern) so the upstream edge-building scans run a
    # single time.
    pairs = intermediates.checkpoint(pairs, eager=False)
    deg = (
        pairs.select(F.col("a").alias("id"))
        .unionAll(pairs.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count("*").cast("bigint").alias("deg"))
    )
    deg = intermediates.checkpoint(deg, eager=False)
    da = deg.select(F.col("id").alias("a"), F.col("deg").alias("da"))
    db = deg.select(F.col("id").alias("b"), F.col("deg").alias("db"))
    keyed = pairs.join(da, "a").join(db, "b")
    a_first = F.struct(F.col("da"), F.col("a")) < F.struct(
        F.col("db"), F.col("b")
    )
    oriented = keyed.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
        F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("ddeg"),
    )
    # Oriented edges feed the wedge join twice and the closing join
    # once — materialize once (lazy localCheckpoint, released by the
    # caller's scope: the pagerank/bm25 pattern).
    oriented = intermediates.checkpoint(oriented, eager=False)
    w1 = oriented.select(
        F.col("src").alias("u"), F.col("dst").alias("v"),
        F.col("ddeg").alias("vdeg"),
    )
    w2 = oriented.select(
        F.col("src").alias("u"), F.col("dst").alias("w"),
        F.col("ddeg").alias("wdeg"),
    )
    wedges = w1.join(w2, "u").filter(
        F.struct(F.col("vdeg"), F.col("v")) < F.struct(F.col("wdeg"), F.col("w"))
    )
    closing = oriented.select(
        F.col("src").alias("v"), F.col("dst").alias("w")
    )
    tri = wedges.join(closing, ["v", "w"]).select("u", "v", "w")
    per_node = (
        tri.select(
            F.explode(F.array(F.col("u"), F.col("v"), F.col("w"))).alias("id")
        )
        .groupBy("id")
        .agg(F.count("*").cast("bigint").alias("triangles"))
    )
    return deg.join(per_node, "id", "left").select(
        "id",
        F.coalesce(F.col("triangles"), F.lit(0).cast("bigint")).alias(
            "triangles"
        ),
    )


def pagerank_exact(
    edges: DataFrame,
    iterations: int = 3,
    damping_pct: int = 85,
) -> DataFrame:
    """(src, dst) edge list → (id, rank) after ``iterations`` exact
    integer PageRank steps. ``edges`` should be distinct; multi-edges
    weight the walk like parallel links (documented, not an error).
    """
    src_ids = edges.select(F.col("src").alias("id"))
    dst_ids = edges.select(F.col("dst").alias("id"))
    nodes = src_ids.union(dst_ids).distinct()
    outd = edges.groupBy("src").agg(F.count("*").alias("deg"))
    # Edge list + out-degrees is consumed once per iteration: a lazy
    # localCheckpoint materializes it at first action; the caller's
    # scope releases it (the bm25 pattern).
    edges_d = intermediates.checkpoint(edges.join(outd, "src"), eager=False)

    stats = nodes.agg(F.count("*").alias("n_nodes"))
    base_frame = nodes.crossJoin(F.broadcast(stats)).select(
        "id",
        F.expr(f"cast({TOTAL} as bigint) div n_nodes").alias("base"),
    )
    rank = base_frame.select("id", F.col("base").alias("rank"))
    keep = 100 - damping_pct
    for _ in range(iterations):
        contrib = (
            edges_d.join(
                rank.select(F.col("id").alias("src"), "rank"), "src"
            )
            .select(
                F.col("dst").alias("id"),
                F.expr("rank div deg").alias("c"),
            )
            .groupBy("id")
            .agg(F.sum("c").alias("s"))
        )
        rank = base_frame.join(contrib, "id", "left").select(
            "id",
            F.expr(
                f"({keep} * base + {damping_pct} * "
                "coalesce(s, cast(0 as bigint))) div 100"
            ).alias("rank"),
        )
    return rank
