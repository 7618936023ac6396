"""Lexical retrieval scoring (BM25) as a reusable operator.

The reference promises query surfaces over tabular corpora (reference
README.md:2); topical filtering of a training corpus by relevance to a
term list is the retrieval shape a curation pipeline runs (SURVEY.md
§2.7 F9 family). This module is the operator behind BOTH the
`text_bm25_scores` driver query and the NL front-end's
"top k documents matching <terms>" intent — one certified
implementation, two surfaces.

Scale: pure DataFrame composition — explode → two small aggregates
(term stats broadcast back) → per-doc score; no UDF, one shuffle on
(doc, term) and one on term. The corpus stats (N, avgdl) are a 1-row
broadcast; idf is |terms| rows. At 100 TB the only corpus-scale pass
is the tokenize+explode scan, and the term filter prunes the explode
output to docs containing a query term before any shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from karna_spark import intermediates


def bm25_scores(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 relevance of every document containing ≥1 query term.

    Returns (id_col, bm25) with bm25 rounded to 4 decimals — float
    summation order differs between engines/runs, and the fixture
    statistics make 4 decimals exact, so the rounded score is
    deterministic at any parallelism (the registry float convention,
    queries/registry.py).
    """
    from karna_spark.operators.text import words

    d = docs.select(id_col, words(F.trim(F.col(text_col))).alias("ws"))
    # Two corpus scans total: one for the global stats (which must see
    # term-free docs too), one for term frequencies — the doc length
    # rides through the tf groupBy as a grouping column, so the scored
    # join needs no third pass over the text.
    stats = d.agg(
        F.count("*").alias("n_docs"), F.avg(F.size("ws")).alias("avgdl")
    )
    tf = (
        d.select(id_col, F.size("ws").alias("dl"), F.explode("ws").alias("term"))
        .filter(F.col("term").isin(terms))
        .groupBy(id_col, "dl", "term")
        .agg(F.count("*").alias("tf"))
    )
    # tf feeds both idf and the scored join; a lazy localCheckpoint
    # materializes it once at first action (build stays action-free).
    # Its blocks stay registered until the caller's scope releases
    # them: Spark's ContextCleaner does not free them when the frame is
    # dropped. Bounded small: docs containing a query term × |terms|
    # rows.
    tf = intermediates.checkpoint(tf, eager=False)
    idf = (
        tf.groupBy("term")
        .agg(F.countDistinct(id_col).alias("df"))
        .crossJoin(F.broadcast(stats))
        .select(
            "term",
            F.log(1 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)).alias("idf"),
        )
    )
    scored = (
        tf.join(F.broadcast(idf), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            id_col,
            (
                F.col("idf") * F.col("tf") * (k1 + 1.0)
                / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl")))
            ).alias("part"),
        )
    )
    return scored.groupBy(id_col).agg(F.round(F.sum("part"), 4).alias("bm25"))


def bm25_topk(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    terms: list[str],
    k: int,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-k documents by BM25 relevance to ``terms``.

    Orders by the ROUNDED score (the cross-engine-stable value) with a
    unique-id tie-break, so the cut line is deterministic at any
    parallelism and across engines; plans as TakeOrderedAndProject —
    no global sort of the scored set.
    """
    return (
        bm25_scores(docs, id_col, text_col, terms, k1=k1, b=b)
        .orderBy(F.col("bm25").desc(), F.col(id_col))
        .limit(k)
    )


def boolean_search(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    must: list[str],
    must_not: list[str] | None = None,
    k: int | None = None,
) -> DataFrame:
    """F33 as a reusable operator: conjunctive boolean retrieval —
    every ``must`` term present, no ``must_not`` term present, ranked
    by summed term frequency. One certified implementation, two
    surfaces (the `text_boolean_search` driver query and the NL
    front-end's "<table> containing X and Y but not Z" intent).

    The plan IS an inverted index consulted at query time: tokenize,
    keep ONLY postings for the query's terms (the filter sits under
    the shuffle — shuffle volume ∝ matched postings, not corpus
    tokens), then ONE grouped conditional aggregate per doc resolves
    AND / NOT / score together; the NOT terms ride the same pass as
    zero-count predicates instead of a second anti-join scan.
    Aggregate state is |matching docs| × (|must|+|must_not|) counters;
    with ``k`` the order-by plans as TakeOrderedAndProject (id
    tie-break — deterministic at any parallelism)."""
    from karna_spark.operators.text import words

    # dedupe preserving order: a repeated term would alias two
    # aggregate columns to the same tf_<term> name (ambiguous
    # reference); a term in both polarities is contradictory — refuse
    must = list(dict.fromkeys(t.lower() for t in must))
    must_not = list(dict.fromkeys(t.lower() for t in (must_not or [])))
    if not must:
        raise ValueError("boolean_search needs at least one must-term")
    clash = sorted(set(must) & set(must_not))
    if clash:
        raise ValueError(
            f"terms in both must and must-not: {clash} (the query can "
            "never match)"
        )
    allterms = must + must_not
    toks = docs.select(
        id_col,
        F.explode(words(F.trim(F.col(text_col)))).alias("token"),
    ).filter(F.col("token").isin(*allterms))

    def tf(term: str):
        return F.sum((F.col("token") == term).cast("bigint")).cast("bigint")

    hits = toks.groupBy(id_col).agg(
        *[tf(t).alias(f"tf_{t}") for t in allterms]
    )
    cond = F.lit(True)
    for t in must:
        cond = cond & (F.col(f"tf_{t}") > 0)
    for t in must_not:
        cond = cond & (F.col(f"tf_{t}") == 0)
    score = None
    for t in must:
        score = F.col(f"tf_{t}") if score is None else score + F.col(f"tf_{t}")
    out = hits.filter(cond).select(
        id_col,
        *[F.col(f"tf_{t}") for t in must],
        score.cast("bigint").alias("score"),
    )
    out = out.orderBy(F.col("score").desc(), F.col(id_col))
    return out.limit(k) if k is not None else out


def rrf_fuse(
    ranked_a: DataFrame,
    ranked_b: DataFrame,
    id_col: str,
    rank_a: str,
    rank_b: str,
    k: int = 60,
    top_k: int | None = 10,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack & Clarke, SIGIR'09) of two
    ranked candidate lists — the standard lexical+dense hybrid scorer
    (Elasticsearch/Vespa use exactly this form): each list contributes
    ``1/(k + rank)`` and a document missing from a list contributes
    nothing. Returns (id, rank_a, rank_b, rrf, fused_rank) ordered by
    fused score descending, id ascending.

    Scale: the inputs are already-truncated top-N lists (the expensive
    part — BM25 scan, ANN probe — happens upstream and is bounded
    there), so the fusion itself is a full-outer join of two k-row
    frames plus one ordered limit: driver-trivial at any corpus size.
    Ranks ride as exact ints and 1/(k+rank) is two IEEE double ops
    written identically on both certification sides, so the fused
    score is hash-exact without rounding tricks."""
    a = ranked_a.select(F.col(id_col), F.col(rank_a))
    b = ranked_b.select(F.col(id_col), F.col(rank_b))
    j = a.join(b, id_col, "full_outer")
    contrib_a = F.lit(1.0) / (F.lit(k) + F.col(rank_a))
    contrib_b = F.lit(1.0) / (F.lit(k) + F.col(rank_b))
    fused = j.select(
        id_col,
        F.col(rank_a),
        F.col(rank_b),
        (
            F.coalesce(contrib_a, F.lit(0.0))
            + F.coalesce(contrib_b, F.lit(0.0))
        ).alias("rrf"),
    ).orderBy(F.col("rrf").desc(), F.col(id_col))
    if top_k is not None:
        fused = fused.limit(top_k)
    from pyspark.sql import Window

    w = Window.orderBy(F.col("rrf").desc(), F.col(id_col))
    return fused.withColumn(
        "fused_rank", F.row_number().over(w).cast("int")
    )


def topn_ranks(
    scored: DataFrame,
    id_col: str,
    score_col: str,
    rank_name: str,
    n: int,
) -> DataFrame:
    """Truncate a scored frame to its top-``n`` rows and attach a
    dense 1-based rank — the candidate-list normal form rrf_fuse
    consumes. The truncation is orderBy+limit (TakeOrdered: per
    partition heaps + a k-row driver merge, never a global sort), and
    the row_number window runs over ≤ n rows AFTER the limit, so the
    single-partition window is bounded by n, not the corpus."""
    from pyspark.sql import Window

    top = scored.orderBy(F.col(score_col).desc(), F.col(id_col)).limit(n)
    w = Window.orderBy(F.col(score_col).desc(), F.col(id_col))
    return top.select(
        id_col, F.row_number().over(w).cast("int").alias(rank_name)
    )


def hybrid_rrf(
    docs: DataFrame,
    emb: DataFrame,
    doc_id_col: str,
    text_col: str,
    emb_id_col: str,
    vec_col: str,
    terms: list[str],
    anchor_id: int,
    k: int = 10,
    list_n: int = 100,
    rrf_k: int = 60,
) -> DataFrame:
    """The full hybrid-retrieval pipeline (F35): BM25 lexical list over
    ``docs`` fused with a dense cosine list over ``emb`` anchored at
    ``anchor_id``'s vector. ONE implementation behind both certified
    surfaces — the `retrieval_rrf_fusion` driver query and the NL
    front-end's 'hybrid matching ... near document N' intent — so the
    list depth, rounding, and fusion constant cannot drift apart.
    Each list truncates to ``list_n`` via :func:`topn_ranks` before
    any rank window; see :func:`rrf_fuse` for the fusion contract."""
    from karna_spark.functions.vector import cosine

    lexk = topn_ranks(
        bm25_scores(docs, doc_id_col, text_col, terms),
        doc_id_col, "bm25", "r_lex", list_n,
    )
    qv = emb.filter(F.col(emb_id_col) == anchor_id).select(
        F.col(vec_col).alias("__qv")
    )
    dense = (
        emb.filter(F.col(emb_id_col) != anchor_id)
        .join(F.broadcast(qv), F.lit(True))
        .select(
            F.col(emb_id_col).alias(doc_id_col),
            F.round(cosine(F.col(vec_col), F.col("__qv")), 4).alias("cos"),
        )
    )
    densek = topn_ranks(dense, doc_id_col, "cos", "r_dense", list_n)
    return rrf_fuse(
        lexk, densek, doc_id_col, "r_lex", "r_dense", k=rrf_k, top_k=k
    )
