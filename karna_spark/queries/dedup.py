"""Deduplication queries (north-star; operators in
karna_spark.operators.dedup).

The fixture corpus has planted near-duplicates (25 pairs with bigram
Jaccard ≥ 0.9, everything else < 0.2), so threshold 0.5 separates
perfectly: the MinHash-LSH pipeline's output equals the exact all-pairs
answer with probability 1-(1-s⁴)¹⁶ ≈ 1-4e-8 at s≥0.9 — which is why
the LSH query can carry a *strict* DuckDB oracle rather than a weaker
rows-only check. The production blake2b SimHash stays rows-only (no
SQL twin for the hash), but its pigeonhole pairing machinery is
hash-certified by ``dedup_simhash_md5_pairs``: a 60-bit md5 signature
both engines compute bit-for-bit, pushed through the same slicing /
bucket-join / Hamming-verify path and compared against a brute-force
all-pairs oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from karna_spark import intermediates
from karna_spark.operators.dedup import (
    blocked_jaccard_pairs,
    embedding_near_dup_pairs,
    minhash_lsh_incremental_pairs,
    minhash_lsh_pairs,
)
from karna_spark.operators.sizing import spread_scan
from karna_spark.operators.text import fingerprint_md5
from karna_spark.queries.registry import register_query, table

# DuckDB spelling of the distinct-word-bigram shingle set.
_SQL_BIGRAMS = (
    "list_distinct(list_transform(generate_series(1, len(string_split(text,' '))-1),"
    " i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1]))"
)


@register_query(
    "dedup_exact_stats",
    oracle="""
    WITH fp AS (
      SELECT md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS f
      FROM documents
    )
    SELECT COUNT(*) AS n_rows,
           COUNT(DISTINCT f) AS n_distinct,
           COUNT(*) - COUNT(DISTINCT f) AS n_removed
    FROM fp
    """,
    tags="F7 A2 P3",
)
def dedup_exact_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: normalize → md5 fingerprint → distinct. One
    hash-shuffle at any scale; the fingerprint (16 bytes) is what
    shuffles, not the document."""
    docs = table(spark, sf_dir, "documents")
    fp = docs.select(fingerprint_md5(F.col("text")).alias("f"))
    return fp.agg(
        F.count("*").alias("n_rows"),
        F.count_distinct("f").alias("n_distinct"),
        (F.count("*") - F.count_distinct("f")).alias("n_removed"),
    )


@register_query(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH s AS (
      SELECT doc_id, {_SQL_BIGRAMS} AS sh FROM documents
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           len(list_intersect(a.sh, b.sh))::DOUBLE
             / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
    FROM s a JOIN s b ON a.doc_id < b.doc_id
    WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
            / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5
    """,
    tags="J9 F7",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs at Jaccard ≥ 0.5 (64 perms, 16
    bands × 4 rows — S-curve knee exactly at the threshold — word-
    bigram shingles), verified with exact Jaccard. The oracle computes
    the *exact all-pairs* answer: true pairs all sit at s ≥ 0.9 where
    banded recall is 1-(1-s⁴)¹⁶ ≥ 1-4e-8, and background pairs at
    s < 0.3 collide with probability < 1e-4, so the two agree while
    the candidate stage stays ~3 orders of magnitude smaller than the
    old threshold-0.18 tuning. Sub-quadratic: only band-bucket
    collisions are ever compared."""
    docs = table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(
        docs, "doc_id", "text", threshold=0.5, num_perm=64, bands=16, shingle_n=2
    )


@register_query(
    "dedup_incremental_minhash",
    oracle=f"""
    WITH s AS (
      SELECT doc_id, {_SQL_BIGRAMS} AS sh FROM documents
    )
    SELECT d.doc_id AS new_id, o.doc_id AS match_id,
           len(list_intersect(d.sh, o.sh))::DOUBLE
             / len(list_distinct(list_concat(d.sh, o.sh))) AS jaccard
    FROM s d JOIN s o
      ON d.doc_id % 10 = 0
     AND o.doc_id <> d.doc_id
     AND (o.doc_id % 10 <> 0 OR o.doc_id < d.doc_id)
    WHERE len(list_intersect(d.sh, o.sh))::DOUBLE
            / len(list_distinct(list_concat(d.sh, o.sh))) >= 0.5
    """,
    tags="J18 J9 F7",
)
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J18: incremental-ingest dedup — the NEW batch (doc_id ≡ 0 mod
    10, ~10% of the corpus) is matched against the existing corpus and
    itself at Jaccard ≥ 0.5, WITHOUT recomparing corpus-corpus pairs:
    only delta band keys probe the banded LSH join
    (operators/dedup.py minhash_lsh_incremental_pairs), so per-ingest
    cost scales with the batch, not the corpus — the steady-state
    pattern a 100 TB pipeline actually runs per arrival. Oracle =
    exact all-pairs Jaccard restricted to delta×(base ∪ earlier
    delta); agreement holds for the same S-curve reasons as
    `dedup_minhash_lsh` (true pairs at s ≥ 0.9, banded recall
    1-(1-s⁴)¹⁶ ≥ 1-4e-8)."""
    # spread_scan measured a REGRESSION here (3.0 → 4.3 s at sf0.1) —
    # the incremental pair path re-reads the scan through several
    # persisted branches and the extra exchange + per-task Arrow/UDF
    # init outweigh the parallelized signature pass; left unspread.
    docs = table(spark, sf_dir, "documents")
    base = docs.filter(F.col("doc_id") % 10 != 0)
    delta = docs.filter(F.col("doc_id") % 10 == 0)
    return minhash_lsh_incremental_pairs(
        base, delta, "doc_id", "text",
        threshold=0.5, num_perm=64, bands=16, shingle_n=2,
    )


@register_query(
    "dedup_ngram_jaccard_blocked",
    oracle=f"""
    WITH s AS (
      SELECT lang, doc_id, {_SQL_BIGRAMS} AS sh FROM documents
    )
    SELECT a.lang, a.doc_id AS id_a, b.doc_id AS id_b,
           len(list_intersect(a.sh, b.sh))::DOUBLE
             / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
    FROM s a JOIN s b ON a.lang = b.lang AND a.doc_id < b.doc_id
    WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
            / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.15
    """,
    tags="J9 F9",
)
def dedup_ngram_jaccard_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard within language blocks at a low threshold —
    the blocked-quadratic strategy for when a cheap key bounds block
    size (and the verifier behind LSH candidates)."""
    docs = table(spark, sf_dir, "documents")
    return blocked_jaccard_pairs(
        docs, "doc_id", "text", ["lang"], threshold=0.15, shingle_n=2
    )


# ------------------------------------------- oracle-replayable SimHash
#
# The production signature (blake2b, above) has no SQL twin, but the
# SimHash *pipeline* — per-bit ±1 balance → sign bits → pigeonhole
# slice buckets → bucket join → exact-Hamming verify — is hash-
# certifiable by swapping in a word hash both engines share: the first
# 60 bits of md5. Bit b of a word's hash is bit (3 - b%4) of hex digit
# b//4; the signature's bit b is set when the balance over the doc's
# DISTINCT words is positive. Because pigeonhole slicing has recall
# EXACTLY 1 for Hamming ≤ max_hamming, the oracle can be brute-force
# all-pairs: if the Spark-side slicing/bucketing ever dropped a true
# pair, the row sets would diverge and the driver would go red.

_SIG_BITS = 60
_SIG_MAX_HAMMING = 2  # 3 slices × 20 bits; 1309 pairs at sf0.01


def _md5_sig60_sql() -> str:
    """DuckDB expression for the 60-bit md5 SimHash (GROUP BY doc)."""
    terms = []
    for b in range(_SIG_BITS):
        d = b // 4 + 1
        s = 3 - b % 4
        bit = f"((strpos('0123456789abcdef', substr(md5(w), {d}, 1)) - 1) >> {s}) & 1"
        terms.append(f"CASE WHEN SUM(2 * ({bit}) - 1) > 0 THEN {1 << b} ELSE 0 END")
    return " + ".join(terms)


@register_query(
    "dedup_simhash_md5_pairs",
    oracle=f"""
    WITH w AS (
      SELECT DISTINCT doc_id, w FROM (
        SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
        FROM documents
      )
    ),
    sigs AS (
      SELECT doc_id AS id, CAST({_md5_sig60_sql()} AS BIGINT) AS sig
      FROM w GROUP BY doc_id
    )
    SELECT a.id AS id_a, b.id AS id_b,
           CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
    FROM sigs a JOIN sigs b ON a.id < b.id
    WHERE bit_count(xor(a.sig, b.sig)) <= {_SIG_MAX_HAMMING}
    """,
    tags="J9 F7 J9b",
)
def dedup_simhash_md5_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver gate for the SimHash family: near-dup pairs at Hamming ≤ 2
    of a 60-bit md5-based signature, computed with the production
    pigeonhole pairing (``simhash_pairs_from_sigs`` — the same slicing,
    bucket join, dedup, and Hamming verify the blake2b path uses). The
    oracle recomputes signatures from the parquet and brute-forces all
    pairs, so a recall loss in the sliced path would hash-mismatch."""
    from karna_spark.operators.dedup import simhash_pairs_from_sigs

    words = (
        table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(F.split(F.trim(F.col("text")), r"\s+"))
            ).alias("w"),
        )
        .select("doc_id", F.md5(F.col("w").cast("binary")).alias("hx"))
    )
    balances = []
    for b in range(_SIG_BITS):
        d = b // 4 + 1
        s = 3 - b % 4
        digit = F.conv(F.substring(F.col("hx"), d, 1), 16, 10).cast("int")
        bit = F.shiftright(digit, s).bitwiseAND(F.lit(1))
        balances.append(F.sum(bit * 2 - F.lit(1)).alias(f"b{b}"))
    sig = F.lit(0).cast("long")
    for b in range(_SIG_BITS):
        sig = sig + F.when(F.col(f"b{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
    sigs = (
        words.groupBy("doc_id")
        .agg(*balances)
        .select(F.col("doc_id").alias("id"), sig.cast("long").alias("sig"))
    )
    return simhash_pairs_from_sigs(sigs, _SIG_MAX_HAMMING, n_bits=_SIG_BITS)


@register_query(
    "dedup_embedding_cosine",
    oracle="""
    SELECT a.label AS block, a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[])), 4) AS cos
    FROM embeddings a
    JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                 CAST(b.embedding AS DOUBLE[])) >= 0.35
    """,
    tags="J9 F8",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs within label blocks (threshold
    0.35 on this corpus — its max intra-label cosine is 0.475). The
    unblocked scale path swaps the label key for sign-LSH buckets
    (operators.similarity.random_hyperplane_buckets)."""
    emb = table(spark, sf_dir, "embeddings")
    pairs = embedding_near_dup_pairs(emb, "vec_id", "embedding", "label", threshold=0.35)
    return pairs.select(
        "block", "id_a", "id_b", F.round(F.col("cos"), 4).alias("cos")
    )


@register_query(
    "dedup_clusters",
    oracle=f"""
    WITH RECURSIVE s AS (
      SELECT doc_id, {_SQL_BIGRAMS} AS sh FROM documents
    ),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM s a JOIN s b ON a.doc_id < b.doc_id
      WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
              / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL SELECT id_b, id_a FROM pairs
    ),
    reach AS (
      SELECT src AS id, dst AS peer FROM edges
      UNION
      SELECT r.id, e.dst FROM reach r JOIN edges e ON r.peer = e.src
    )
    SELECT id, least(id, min(peer)) AS cluster_id,
           id = least(id, min(peer)) AS keep
    FROM reach GROUP BY id
    """,
    tags="J9 F7",
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster assembly: MinHash-LSH pairs (same parameters as
    `dedup_minhash_lsh`, whose recall vs exact all-pairs is
    oracle-proved) fed into iterative min-label connected components
    (operators/cluster.py) — one row per clustered doc with its
    component id and the keep/drop decision (keep = minimum doc of the
    component). The oracle recomputes the same fixpoint with a
    recursive CTE over the exact pair set. This is the full dedup
    policy a corpus pipeline executes: detect pairs sub-quadratically,
    then retain one representative per transitive group."""
    from karna_spark.operators.cluster import cluster_representatives

    docs = table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        docs, "doc_id", "text", threshold=0.5, num_perm=64, bands=16, shingle_n=2
    )
    return cluster_representatives(pairs).select(
        F.col("id"), F.col("cluster_id"), F.col("keep")
    )


# Shared DuckDB CTE prelude for the SemDeDup queries: double-cast
# embeddings, K=8 lowest-id seed centroids, nearest-centroid
# assignment with the cos-DESC / cid-ASC tie order that mirrors the
# Spark side's max(struct(cos, -cid)) argmax.
_SQL_SEMDEDUP_ASSIGN = """
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
    ),
    c AS (SELECT vec_id AS cid, emb AS cvec FROM e ORDER BY vec_id LIMIT 8),
    scored AS (
      SELECT e.vec_id, e.emb, c.cid,
             list_cosine_similarity(e.emb, c.cvec) AS cos,
             row_number() OVER (
               PARTITION BY e.vec_id
               ORDER BY list_cosine_similarity(e.emb, c.cvec) DESC, c.cid
             ) AS rn
      FROM e CROSS JOIN c
    ),
    asg AS (SELECT vec_id, emb, cid, cos FROM scored WHERE rn = 1)
"""


# Retired from the driver registry in r12 (consolidation: the
# assignment stage is certified implicitly by dedup_semantic_keep's
# winners — a wrong assignment changes them). Still plan-audited in
# tests/test_plans.py via direct import.
def dedup_semantic_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup stage 1 — nearest-centroid assignment (operators/
    semdedup.py): broadcast K=8 deterministic seed centroids, JVM-fold
    cosine against each, map-side-combinable argmax per vector, then
    per-cluster stats: size, representative (max cosine-to-centroid,
    ties to lowest id), and an ORDER-INDEPENDENT integer cosine sum
    (round(cos*1e4) per row, BIGINT sum) so the hash survives any
    partitioning. Two shuffles total at any scale: argmax + cluster
    agg."""
    from karna_spark.operators.semdedup import assign_nearest_centroid, seed_centroids

    emb = table(spark, sf_dir, "embeddings")
    asg = assign_nearest_centroid(emb, seed_centroids(emb, 8)).select(
        "vec_id", "cid", "cos"
    )
    return asg.groupBy("cid").agg(
        F.count("*").alias("cluster_size"),
        (-F.max(F.struct(F.col("cos"), (-F.col("vec_id")).alias("nid"))).getField("nid")).alias(
            "rep_id"
        ),
        F.sum(F.round(F.col("cos") * 10000).cast("bigint")).alias("sum_cos_e4"),
    )


@register_query(
    "dedup_semantic_keep",
    oracle=_SQL_SEMDEDUP_ASSIGN
    + """
    , dropped AS (
      SELECT DISTINCT v.cid, v.vec_id
      FROM asg u JOIN asg v ON u.cid = v.cid AND u.vec_id < v.vec_id
      WHERE list_cosine_similarity(u.emb, v.emb) >= 0.35
    )
    SELECT a.cid, COUNT(*) AS n_total,
           COUNT(d.vec_id) AS n_dropped,
           COUNT(*) - COUNT(d.vec_id) AS n_kept
    FROM asg a LEFT JOIN dropped d ON a.cid = d.cid AND a.vec_id = d.vec_id
    GROUP BY a.cid
    """,
    tags="J9 F8 J11",
)
def dedup_semantic_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup stage 2 — within-cluster near-dup removal: self-join
    the assignment on cluster id only (ONE shuffle; never a global
    cross join), pairs at cosine ≥ 0.35, drop the higher id of each
    pair (keep-lowest-id policy), report per-cluster total/dropped/
    kept. Quadratic strictly within a cluster — the SemDeDup contract
    that makes web-scale semantic dedup tractable."""
    from karna_spark.operators.semdedup import (
        assign_nearest_centroid,
        seed_centroids,
        semantic_drop_ids,
    )

    emb = spread_scan(table(spark, sf_dir, "embeddings"))
    # The assignment fans out to three consumers (both self-join sides
    # of the pair stage and the final keep join) — materialize it once;
    # an eager localCheckpoint also truncates lineage so no consumer
    # re-runs the argmax pipeline.
    asg = intermediates.checkpoint(
        assign_nearest_centroid(emb, seed_centroids(emb, 8)), eager=True
    )
    drop = semantic_drop_ids(asg, 0.35).withColumn("is_dropped", F.lit(1))
    return (
        asg.join(drop, "vec_id", "left")
        .groupBy("cid")
        .agg(
            F.count("*").alias("n_total"),
            F.count("is_dropped").alias("n_dropped"),
            (F.count("*") - F.count("is_dropped")).alias("n_kept"),
        )
    )


# DuckDB spelling of the distinct word-5-gram set (posting-list dedup).
_SQL_5GRAMS = (
    "list_transform(generate_series(1, len(string_split(text,' '))-4),"
    " i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1]"
    " || ' ' || string_split(text,' ')[i+2] || ' ' || string_split(text,' ')[i+3]"
    " || ' ' || string_split(text,' ')[i+4])"
)


@register_query(
    "dedup_shared_ngrams",
    oracle=f"""
    WITH g AS (
      SELECT DISTINCT doc_id, g FROM (
        SELECT doc_id, unnest({_SQL_5GRAMS}) AS g FROM documents
      )
    ),
    df AS (SELECT g, count(*) AS c FROM g GROUP BY g),
    keep AS (
      SELECT g.doc_id, g.g FROM g JOIN df USING (g)
      WHERE df.c BETWEEN 2 AND 50
    ),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(count(*) AS BIGINT) AS shared_grams
      FROM keep a JOIN keep b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT id_a, id_b, shared_grams FROM pairs WHERE shared_grams >= 3
    """,
    tags="J9 F7 A1",
)
def dedup_shared_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-overlap dedup (the Lee et al. 2022 exact-ngram
    signal, pairwise form): doc pairs sharing ≥ 3 distinct word
    5-grams. The scale mechanism is the POSTING-LIST join with a
    document-frequency cap: grams are inverted (gram → docs), grams
    with df outside [2, 50] are dropped — df=1 pairs with nothing,
    df>50 is boilerplate whose postings would explode quadratically —
    and only the surviving short postings self-join. Work is
    Σ df² over kept grams (bounded by cap²·|grams|), never corpus².
    The cap is the standard trick from suffix-array/ngram dedup at
    web scale; lower it to tighten the bound, raise it for recall on
    common-phrase overlap."""
    grams = _posting_grams(spark, sf_dir)
    df_counts = grams.groupBy("g").agg(F.count("*").alias("c"))
    keep = grams.join(
        df_counts.where(F.col("c").between(2, 50)).select("g"), "g"
    )
    a = keep.select(F.col("g"), F.col("doc_id").alias("id_a"))
    b = keep.select(F.col("g"), F.col("doc_id").alias("id_b"))
    return (
        a.join(b, "g")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").cast("bigint").alias("shared_grams"))
        .where(F.col("shared_grams") >= 3)
    )


def _posting_grams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (doc_id, word-5-gram) pairs, PERSISTED with an eager
    barrier. The n-gram explosion (split → transform/concat → distinct
    → explode) is by far the dominant cost of the posting-list dedup
    family, and every consumer (document-frequency counts, the keep
    join, per-doc totals) would otherwise re-evaluate it — 2-3 corpus
    text passes instead of one. The count() pins the cache before the
    plan fans out (the lazy-persist race documented in
    operators/dedup.py). At 100 TB the cached frame spills to disk,
    which still beats recomputing string ops; the caller's scope
    releases it (``karna_spark.intermediates``)."""
    from pyspark.storagelevel import StorageLevel

    from karna_spark.operators.text import word_ngrams

    from karna_spark.operators.sizing import spread_scan

    # spread_scan: the fixture file is single-row-group (unsplittable),
    # so the n-gram explosion would otherwise run single-task while the
    # box idles; no-op on any real multi-split table.
    docs = spread_scan(table(spark, sf_dir, "documents"))
    grams = docs.select(
        "doc_id",
        F.explode(F.array_distinct(word_ngrams(F.col("text"), 5))).alias("g"),
    )
    grams = intermediates.persist(grams, StorageLevel.MEMORY_AND_DISK)
    grams.count()
    return grams


@register_query(
    "dedup_containment",
    oracle=f"""
    WITH g AS (
      SELECT DISTINCT doc_id, g FROM (
        SELECT doc_id, unnest({_SQL_5GRAMS}) AS g FROM documents
      )
    ),
    sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams
              FROM g GROUP BY doc_id),
    df AS (SELECT g, count(*) AS c FROM g GROUP BY g),
    keep AS (
      SELECT g.doc_id, g.g FROM g JOIN df USING (g)
      WHERE df.c BETWEEN 2 AND 50
    ),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(count(*) AS BIGINT) AS shared_grams
      FROM keep a JOIN keep b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT id_a, id_b, shared_grams,
           ROUND(CAST(shared_grams AS DOUBLE) / sa.n_grams, 4) AS cont_a,
           ROUND(CAST(shared_grams AS DOUBLE) / sb.n_grams, 4) AS cont_b
    FROM pairs
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE 5 * shared_grams >= 3 * least(sa.n_grams, sb.n_grams)
    """,
    tags="J9 J15 A1",
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J15: asymmetric CONTAINMENT dedup — the near-dup signal Jaccard
    misses when one document embeds another (quotation, boilerplate
    wrapping, partial scrapes): containment(A in B) = |grams(A) ∩
    grams(B)| / |grams(A)| stays high even when |B| >> |A| crushes the
    Jaccard score. Same posting-list mechanics as dedup_shared_ngrams
    (df-capped inverted 5-gram index bounds the self-join at Σdf² —
    never corpus²); the per-doc gram totals join back as a doc-level
    frame (one row per doc). The ≥0.6 threshold on max(cont_a, cont_b)
    is applied as INTEGER arithmetic (5·shared ≥ 3·min(n_a, n_b)) so
    the cut is exact in both engines; the reported fractions are
    round-4 doubles of exact integer ratios."""
    grams = _posting_grams(spark, sf_dir)
    sizes = grams.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_grams")
    )
    df_counts = grams.groupBy("g").agg(F.count("*").alias("c"))
    keep = grams.join(
        df_counts.where(F.col("c").between(2, 50)).select("g"), "g"
    )
    a = keep.select(F.col("g"), F.col("doc_id").alias("id_a"))
    b = keep.select(F.col("g"), F.col("doc_id").alias("id_b"))
    pairs = (
        a.join(b, "g")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").cast("bigint").alias("shared_grams"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("n_grams").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n_grams").alias("nb"))
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .where(5 * F.col("shared_grams") >= 3 * F.least("na", "nb"))
        .select(
            "id_a",
            "id_b",
            "shared_grams",
            F.round(F.col("shared_grams").cast("double") / F.col("na"), 4).alias("cont_a"),
            F.round(F.col("shared_grams").cast("double") / F.col("nb"), 4).alias("cont_b"),
        )
    )


@register_query(
    "dedup_cluster_keep_best",
    oracle=f"""
    WITH RECURSIVE s AS (
      SELECT doc_id, {_SQL_BIGRAMS} AS sh FROM documents
    ),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM s a JOIN s b ON a.doc_id < b.doc_id
      WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
              / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL SELECT id_b, id_a FROM pairs
    ),
    reach AS (
      SELECT src AS id, dst AS peer FROM edges
      UNION
      SELECT r.id, e.dst FROM reach r JOIN edges e ON r.peer = e.src
    ),
    clusters AS (
      SELECT id, least(id, min(peer)) AS cluster_id FROM reach GROUP BY id
    ),
    ranked AS (
      SELECT c.cluster_id, c.id, d.n_chars,
             row_number() OVER (PARTITION BY c.cluster_id
                                ORDER BY d.n_chars DESC, c.id) AS r
      FROM clusters c JOIN documents d ON d.doc_id = c.id
    )
    SELECT cluster_id,
           MAX(CASE WHEN r = 1 THEN id END) AS best_id,
           MAX(CASE WHEN r = 1 THEN n_chars END) AS best_chars,
           CAST(COUNT(*) AS BIGINT) AS n_members
    FROM ranked GROUP BY cluster_id
    """,
    tags="J9 J10 W4 J16",
)
def dedup_cluster_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-ranked dedup policy: instead of keeping each near-dup
    cluster's minimum id (`dedup_clusters`), keep its HIGHEST-QUALITY
    member — here quality = n_chars with id tie-break, the stand-in
    for any scoring the pipeline already computes (unigram-LM,
    repetition). Clusters come from the same LSH→connected-components
    path; quality joins on as a doc-level frame and a per-cluster
    row_number picks the representative (WindowGroupLimit-prunable).
    The oracle replays the full policy — recursive-CTE fixpoint,
    quality join, same ranking — so the keep decision itself is
    hash-certified. This is the production shape: detect
    sub-quadratically, cluster transitively, retain by quality."""
    from karna_spark.operators.cluster import cluster_representatives

    docs = table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        docs, "doc_id", "text", threshold=0.5, num_perm=64, bands=16, shingle_n=2
    )
    clusters = cluster_representatives(pairs).select("id", "cluster_id")
    quality = docs.select(F.col("doc_id").alias("id"), "n_chars")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_chars").desc(), F.col("id")
    )
    ranked = clusters.join(quality, "id").withColumn("r", F.row_number().over(w))
    return ranked.groupBy("cluster_id").agg(
        F.max(F.when(F.col("r") == 1, F.col("id"))).alias("best_id"),
        F.max(F.when(F.col("r") == 1, F.col("n_chars"))).alias("best_chars"),
        F.count(F.lit(1)).alias("n_members"),
    )


@register_query(
    "text_ngram_novelty",
    oracle=f"""
    WITH g AS (
      SELECT DISTINCT doc_id, g FROM (
        SELECT doc_id, unnest({_SQL_5GRAMS}) AS g FROM documents
      )
    ),
    f AS (SELECT g, MIN(doc_id) AS first_doc FROM g GROUP BY g)
    SELECT g.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN g.doc_id = f.first_doc THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           ROUND(CAST(SUM(CASE WHEN g.doc_id = f.first_doc THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 6) AS novelty
    FROM g JOIN f USING (g)
    GROUP BY g.doc_id
    """,
    tags="F9 J13 A1 F21",
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram novelty scoring (the diagnostic twin of exact-substring
    dedup): for each document, the fraction of its distinct word
    5-grams whose FIRST corpus occurrence (min doc_id — the stable
    "arrival order") is this document. Boilerplate-heavy or
    near-duplicate documents score near 0; original content scores
    near 1 — the per-document signal curation pipelines threshold on
    before the pairwise dedup even runs. Mechanics: one persisted gram
    explosion (shared with the posting-list family via
    _posting_grams), a map-combinable min-per-gram aggregate, an
    equi-join back on the gram key (the inverted-index shuffle — never
    corpus²), and a per-doc aggregate. The ratio is an exact integer
    division rounded once."""
    grams = _posting_grams(spark, sf_dir)
    firsts = grams.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    novel = (F.col("doc_id") == F.col("first_doc")).cast("bigint")
    return (
        grams.join(firsts, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            F.sum(novel).alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_novel",
            F.round(
                F.col("n_novel").cast("double") / F.col("n_grams"), 6
            ).alias("novelty"),
        )
    )
