"""Deduplication operators for training-data pipelines (SURVEY.md §2.3
J9 and the driver's north-star "dedup" requirement).

Five strategies, each chosen for a different scale/recall trade-off:

- **exact**: hash-groupBy on a fingerprint — one shuffle, exact.
- **MinHash + LSH**: shingle → k minhashes → band buckets → self-join
  per bucket → Jaccard verify. Sub-quadratic: candidate generation is
  a shuffle on band keys; only near-colliding docs ever meet. The
  100 TB workhorse.
- **SimHash**: 64-bit weighted-projection signature; near-dups differ
  in few bits. Bucket by rotated prefixes for Hamming-distance search.
- **n-gram Jaccard**: exact pairwise similarity *within blocks* — the
  verifier for candidate pairs, or standalone when a cheap blocking key
  (language, source, length band) bounds block size.
- **embedding cosine**: semantic near-dup over an embedding column —
  blocked or LSH-bucketed, verified with exact cosine.

Everything is DataFrame composition over built-in expressions
(xxhash64, array ops, higher-order lambdas); SimHash bit math uses
bitwise SQL functions. No Python UDF in any hot path.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from karna_spark import intermediates
from karna_spark.functions.vector import cosine
# benchmark scripts import the implicit-scope release from here
from karna_spark.intermediates import release_intermediates  # noqa: F401

# ------------------------------------------------------------------ exact


def exact_dedup_summary(df: DataFrame, key: Column, id_col: str) -> DataFrame:
    """One row per distinct ``key`` value: the deterministic survivor
    (min id — the keep-rule a curation audit trail can replay) and the
    multiplicity. groupBy = one hash shuffle on the key; pass an md5/
    xxhash of the payload as ``key`` so the shuffle carries a fixed-
    width digest, not the (possibly megabyte) payload itself."""
    return df.groupBy(key.alias("fp")).agg(
        F.min(id_col).alias("keep_id"), F.count("*").alias("n_copies")
    )


# ------------------------------------------------------------- shingling


def word_ngrams(text: Column, n: int = 2) -> Column:
    """Distinct word n-grams of a whitespace-tokenized text column —
    the shingle set for Jaccard/MinHash."""
    words = F.split(text, r"\s+")
    if n == 1:
        return F.array_distinct(words)
    idx = F.sequence(F.lit(0), F.size(words) - n)
    grams = F.array_distinct(
        F.transform(
            idx, lambda i: F.concat_ws(" ", *[F.element_at(words, i + j + 1) for j in range(n)])
        )
    )
    # sequence(0, negative) is an error — short docs get an empty set.
    return F.when(F.size(words) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def jaccard(a: Column, b: Column) -> Column:
    """|a∩b| / |a∪b| over distinct-element arrays (set semantics)."""
    return F.size(F.array_intersect(a, b)).cast("double") / F.size(F.array_union(a, b))


# ---------------------------------------------------------- MinHash LSH


def _perm_min(hashes: Column, i: int) -> Column:
    # NOTE: the lambda must be unary — PySpark passes the array INDEX
    # as a second argument to two-parameter lambdas, so default-arg
    # seed capture (lambda s, i=i: ...) silently binds the index
    # column instead of the seed. Closure via this factory is correct.
    return F.array_min(F.transform(hashes, lambda h: F.xxhash64(F.lit(i), h)))


def shingle_hashes(shingles: Column) -> Column:
    """Hash the variable-length shingle strings to 64-bit longs — ONE
    string traversal; every permutation then works on fixed-width
    longs. Callers should materialize this as its own column so the
    string pass is not duplicated per permutation (higher-order
    functions sit outside whole-stage codegen, so expression-level
    reuse is not guaranteed to be eliminated)."""
    return F.transform(shingles, lambda s: F.xxhash64(s))


def minhash_signature_from_hashes(hashes: Column, num_perm: int) -> Column:
    """Signature from an already-hashed ``array<long>`` column (the
    scale path: hash strings once, permute longs num_perm times)."""
    return F.array(*[_perm_min(hashes, i) for i in range(num_perm)])


def _perm_constants(num_perm: int, seed: int = 0x9E3779B97F4A7C15):
    """Deterministic odd multiply/add constants for the wraparound
    universal-hash permutation family (same LCG trick as
    similarity.hyperplanes — no RNG dependency)."""
    state = seed
    consts = []
    for _ in range(2 * num_perm):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        consts.append(state)
    a = np.asarray(consts[:num_perm], dtype=np.uint64) | np.uint64(1)  # odd
    b = np.asarray(consts[num_perm:], dtype=np.uint64)
    return a, b


MATRIX_BYTES_CEILING = 512 * 2**20
_matrix_budget_cache: int | None = None


def _matrix_budget_bytes() -> int:
    """Per-task byte budget for the (num_perm × grams) permutation
    matrix, resolved IN the Python worker process so it reflects the
    executor actually running the task, not the driver.

    r10 ran a fixed 512 MB cap; at 32 concurrent workers the matrices
    plus the multiply-add temporary OOM-killed workers on the 800k-doc
    naive leg (SCALING_r10.json) — a constant that provokes
    retry-absorbed OOM on the reference box is a footgun on any
    smaller cluster. Derivation: available memory / (4 × host tasks) —
    every concurrent task holds the matrix plus one equal-size
    temporary (see the in-place add below), and only half of available
    memory is budgeted to this kernel (the JVM, Arrow buffers, and the
    batch's gram lists share the box). Clamped to [64 MB, 512 MB]: the
    ceiling is the micro-benchmarked knee (a 10k-doc Arrow batch
    sweeps at one-shot speed with ≤2 chunks; a 200 MB cap pays ~1.6×),
    the floor keeps chunking from degenerating on tiny containers.
    ``KARNA_MINHASH_MATRIX_MB`` overrides (propagates to executors via
    spark.executorEnv / cluster submit conf).

    MEASURED (SCALING_r11.json, zero-retry gate GREEN): under the
    derived budget the 800k-doc naive leg that r10 timed at 2992 s
    while silently absorbing OOM-kill retries finishes in 1021 s with
    ``task_failures: 0`` — the budget is simultaneously the safe AND
    the fast configuration (retries were re-running whole Arrow
    batches)."""
    global _matrix_budget_cache
    if _matrix_budget_cache is not None:
        return _matrix_budget_cache
    import os

    env = os.environ.get("KARNA_MINHASH_MATRIX_MB")
    if env:
        _matrix_budget_cache = max(1, int(env)) * 2**20
        return _matrix_budget_cache
    avail = None
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemAvailable:"):
                    avail = int(line.split()[1]) * 1024
                    break
    except OSError:
        pass
    if avail is None:
        try:
            avail = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_AVPHYS_PAGES")
        except (OSError, ValueError):
            avail = MATRIX_BYTES_CEILING * 4  # unknown box: floor-ish
    tasks = os.cpu_count() or 8
    _matrix_budget_cache = int(
        min(MATRIX_BYTES_CEILING, max(64 * 2**20, avail // (4 * tasks)))
    )
    return _matrix_budget_cache


def _chunked_perm_minima(
    h_all: "np.ndarray", off: "np.ndarray", a: "np.ndarray", b: "np.ndarray",
    max_matrix_bytes: int | None = None,
) -> "np.ndarray":
    """Per-doc minima of all permutations over a flat gram-hash array,
    swept in doc-aligned chunks so the (num_perm × grams) intermediate
    never exceeds the matrix budget — the unchunked matrix OOM-killed
    Python workers at 800k-doc corpora. Bit-identical to the one-shot
    ``np.minimum.reduceat`` over the full matrix (unit-tested). The
    budget defaults to :func:`_matrix_budget_bytes` — derived from the
    worker's available memory and task concurrency, ceiling 512 MB."""
    if max_matrix_bytes is None:
        max_matrix_bytes = _matrix_budget_bytes()
    max_grams = max(1, max_matrix_bytes // (8 * len(a)))
    if len(h_all) <= max_grams:  # common case: batch fits — zero overhead
        t = a[:, None] * h_all[None, :]
        t += b[:, None]  # in-place: one temporary, not two
        return np.minimum.reduceat(t, off, axis=1)
    chunks = []
    lo_doc = 0
    while lo_doc < len(off):
        hi_doc = lo_doc
        while hi_doc < len(off) and (
            (len(h_all) if hi_doc + 1 == len(off) else off[hi_doc + 1]) - off[lo_doc]
        ) <= max_grams:
            hi_doc += 1
        hi_doc = max(hi_doc, lo_doc + 1)  # a single huge doc still goes
        lo_g = off[lo_doc]
        hi_g = len(h_all) if hi_doc == len(off) else off[hi_doc]
        t = a[:, None] * h_all[None, lo_g:hi_g]
        t += b[:, None]
        chunks.append(np.minimum.reduceat(t, off[lo_doc:hi_doc] - lo_g, axis=1))
        lo_doc = hi_doc
    return np.concatenate(chunks, axis=1)


def minhash_signature_text_udf(num_perm: int, shingle_n: int):
    """Arrow-vectorized text → MinHash signature (``array<long>``).

    Per batch: Python builds each doc's distinct word-``shingle_n``-gram
    set (C-speed string ops), then hashes EVERY gram of the batch in
    one ``pd.util.hash_array`` call (fixed-key SipHash — deterministic
    across executors and processes, NEVER the salted builtin ``hash``;
    measured ~3.5× over a per-gram blake2b loop), and numpy evaluates
    all ``num_perm`` wraparound multiply-add permutations over the
    flat gram-hash array with per-doc minima via ``minimum.reduceat``.
    This replaces num_perm interpreted higher-order-function passes per
    row — the hot inner loop of MinHash at corpus scale — with one
    vectorized sweep. Docs with fewer than ``shingle_n`` words yield an
    empty gram set and a NULL signature (callers filter those out
    first)."""
    from pyspark.sql.functions import pandas_udf

    a, b = _perm_constants(num_perm)

    def grams_of(text: str) -> list[bytes]:
        words = re.split(r"\s+", text)
        if shingle_n == 1:
            return [w.encode() for w in dict.fromkeys(words)]
        if len(words) < shingle_n:
            return []
        seen = dict.fromkeys(
            " ".join(words[i : i + shingle_n]) for i in range(len(words) - shingle_n + 1)
        )
        return [g.encode() for g in seen]

    @pandas_udf("array<long>")
    def signature(texts: pd.Series) -> pd.Series:
        flat: list[bytes] = []
        offsets: list[int] = []
        keep: list[bool] = []
        for t in texts:
            gs = grams_of(t or "")
            if not gs:
                keep.append(False)
                continue
            keep.append(True)
            offsets.append(len(flat))
            flat.extend(gs)
        out: list = []
        if flat:
            # One vectorized hash over the whole batch's grams.
            h_all = pd.util.hash_array(
                np.asarray(flat, dtype=object)
            ).astype(np.uint64)
            # (num_perm, total) wraparound multiply-add, then per-doc min,
            # swept in memory-bounded chunks (see _chunked_perm_minima).
            sigs = _chunked_perm_minima(
                h_all, np.asarray(offsets, dtype=np.int64), a, b
            ).astype(np.int64)
        i = 0
        for k in keep:
            if k:
                out.append(sigs[:, i])
                i += 1
            else:
                out.append(None)
        return pd.Series(out)

    return signature


def lsh_band_keys(signature: Column, bands: int, rows_per_band: int) -> Column:
    """Split the signature into ``bands`` groups of ``rows_per_band``
    and hash each — equal band-hash ⇒ candidate pair."""
    return F.array(
        *[
            F.xxhash64(
                F.lit(b), *[F.element_at(signature, b * rows_per_band + r + 1) for r in range(rows_per_band)]
            )
            for b in range(bands)
        ]
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    num_perm: int = 64,
    bands: int = 16,
    shingle_n: int = 2,
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, jaccard ≥ threshold).

    Pipeline: shingle → signature → explode band keys → self-join on
    (band, band_hash) → distinct candidates → exact Jaccard verify.
    The only shuffles are the band-key join and the final distinct;
    no step is quadratic in the corpus (only in bucket occupancy,
    which the band hashing keeps small).

    Default 16 bands × 4 rows puts the S-curve knee exactly at the
    default threshold ((1/b)^(1/r) = (1/16)^(1/4) = 0.5): catch
    probability 1-(1-s⁴)¹⁶ is ~2.5e-5 at s=0.2 (near-zero false
    candidates — the dominant cost at corpus scale), 0.99 at s=0.7 and
    1-4e-8 at s≥0.9. Recall AT the knee (s≈0.5) is ~64%, the standard
    LSH trade: near-threshold pairs are probabilistic by contract;
    raise ``bands`` (e.g. 32×2, knee 0.18) when borderline recall
    matters more than candidate volume.
    """
    rows_per_band = num_perm // bands
    src = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("text")).filter(
        F.size(F.split(F.col(text_col), r"\s+")) >= shingle_n
    )
    # Signature computation is CPU-bound, so it must use every core.
    # A small corpus arriving as few input splits (one parquet file →
    # 1-3 partitions) would otherwise pin the whole pipeline to those
    # cores; spread it ONLY in that case. At real scale input splits
    # far exceed cores and no extra shuffle happens.
    sc = df.sparkSession.sparkContext
    if src.rdd.getNumPartitions() < sc.defaultParallelism:
        src = src.repartition(sc.defaultParallelism, "id")
    # src feeds two branches (signatures, and the verify re-shingle);
    # without persistence the source is scanned + repartitioned twice
    # per run. MEMORY_AND_DISK: the id+text projection is far smaller
    # than the source rows, and spilling beats a second corpus scan.
    src = intermediates.persist(src, StorageLevel.MEMORY_AND_DISK)
    # Arrow-vectorized text → signature (see minhash_signature_text_udf:
    # one numpy sweep instead of num_perm interpreted passes per row).
    sig_udf = minhash_signature_text_udf(num_perm, shingle_n)
    sig = src.select("id", sig_udf(F.col("text")).alias("sig")).filter(
        F.col("sig").isNotNull()
    )
    # The banded explode multiplies row count by ``bands``; it must
    # carry ONLY (id, band, band_hash) — 24 bytes — never the shingle
    # arrays (that would shuffle bands× the whole corpus text).
    # PERSISTED (r13): the self-join's two sides are both this frame,
    # and without a cache each shuffle stage re-runs the WHOLE
    # signature pipeline — profiled as two identical ~26 task-second
    # Arrow-UDF jobs, the anchor's single dominant cost, paid twice.
    # The cache is (id, band, band_hash) — 24 bytes × bands × docs —
    # scale-safe by the same argument as the candidate cache below;
    # at 100 TB this halves the signature compute outright.
    banded = sig.select(
        "id",
        F.posexplode(lsh_band_keys(F.col("sig"), bands, rows_per_band)).alias(
            "band", "band_hash"
        ),
    )
    banded = intermediates.persist(banded, StorageLevel.MEMORY_AND_DISK)
    left = banded.select("band", "band_hash", F.col("id").alias("id_a"))
    right = banded.select("band", "band_hash", F.col("id").alias("id_b"))
    cands = (
        left.join(right, ["band", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    # The candidate set feeds three consumers (the id filter and both
    # verify joins); without persistence each would recompute the whole
    # signature+join pipeline. It is tiny by construction (two longs
    # per surviving pair), so caching it is scale-safe. The count is
    # the cache barrier: persist() alone is lazy, and a single action
    # over all three consumers would race them into evaluating the
    # signature+band-join pipeline once each before the cache blocks
    # exist — the pipeline's dominant cost, paid up to 3×.
    cands = intermediates.persist(cands, StorageLevel.MEMORY_AND_DISK)
    cands.count()
    # Exact-Jaccard verify, computed ONLY for docs that appear in a
    # candidate pair: semi-join the corpus down first, then shingle.
    # Verify cost scales with |candidates|, never with the corpus.
    need = (
        cands.select(F.col("id_a").alias("id"))
        .union(cands.select(F.col("id_b").alias("id")))
        .distinct()
    )
    # PERSISTED (r13): both verify joins (sh_a, sh_b) consume this
    # frame — uncached, the shingle fold over the candidate docs ran
    # twice (profiled as two ~20 task-second jobs). Bounded by
    # |candidate docs|, never the corpus.
    sh = intermediates.persist(
        src.join(need, "id", "left_semi")
        .select("id", word_ngrams(F.col("text"), shingle_n).alias("shingles")),
        StorageLevel.MEMORY_AND_DISK,
    )
    cands = (
        cands.join(sh.select(F.col("id").alias("id_a"), F.col("shingles").alias("sh_a")), "id_a")
        .join(sh.select(F.col("id").alias("id_b"), F.col("shingles").alias("sh_b")), "id_b")
    )
    # The four caches are released by the caller's scope once it has
    # read the result (karna_spark.intermediates).
    return (
        cands.withColumn("jaccard", jaccard(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_signature_table(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 64,
    shingle_n: int = 2,
) -> DataFrame:
    """(id, sig) MinHash signature table for STORING — compute once at
    ingest, persist to a table (e.g. a SnapshotStore keyed by id,
    appended per batch), and hand back to
    :func:`minhash_lsh_incremental_pairs` via ``base_signatures`` so
    each arriving batch probes the corpus WITHOUT re-signaturing it.
    Parameters must match the probe call exactly — a signature is only
    comparable under the same (num_perm, shingle_n)."""
    sig_udf = minhash_signature_text_udf(num_perm, shingle_n)
    src = df.select(
        F.col(id_col).alias("id"), F.col(text_col).alias("text")
    ).filter(F.size(F.split(F.col("text"), r"\s+")) >= shingle_n)
    # Spread the UDF work (and the stored table's layout) like the
    # pair operators do — a narrow upstream (e.g. a small parquet
    # export) would otherwise signature on a handful of cores.
    sc = df.sparkSession.sparkContext
    if src.rdd.getNumPartitions() < sc.defaultParallelism:
        src = src.repartition(sc.defaultParallelism, "id")
    return src.select("id", sig_udf(F.col("text")).alias("sig")).filter(
        F.col("sig").isNotNull()
    )


def minhash_lsh_incremental_pairs(
    base: DataFrame,
    delta: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    num_perm: int = 64,
    bands: int = 16,
    shingle_n: int = 2,
    base_signatures: DataFrame | None = None,
) -> DataFrame:
    """Incremental near-dup detection: match a NEW batch (``delta``)
    against the existing corpus (``base``) AND against itself, without
    ever recomparing base-base pairs — the steady-state ingest pattern
    at 100 TB (you dedup each arriving batch against the corpus; you
    do not re-dedup the corpus per ingest).

    Join topology is the production one: only the delta side's band
    keys sit on the probe side of the (band, band_hash) equi-join, so
    per-ingest candidate cost scales with |delta| × bucket occupancy —
    never |corpus|² and never |corpus| × |delta| (non-colliding
    buckets don't pair). Pass ``base_signatures`` (a
    :func:`minhash_signature_table` result, e.g. stored in a
    SnapshotStore keyed by id and appended per ingest) to run the
    production steady-state: only the arriving batch is signatured
    and corpus text is touched ONLY for the candidate-pruned verify
    lookups. Without it, signatures are derived in-job from ``base``
    — the banded join and verify are identical either way, and the
    two paths return the same rows (differential-tested).

    Output: (new_id, match_id, jaccard ≥ threshold) with new_id from
    ``delta``; match_id ranges over base ∪ delta, and delta-delta
    pairs appear once (match_id < new_id). Exact-Jaccard verification
    runs only on colliding candidates, as in
    :func:`minhash_lsh_pairs` (same S-curve contract: default 16×4
    puts the knee at 0.5)."""
    rows_per_band = num_perm // bands
    base_rows = base.select(
        F.col(id_col).alias("id"), F.col(text_col).alias("text")
    ).withColumn("is_new", F.lit(False))
    delta_rows = delta.select(
        F.col(id_col).alias("id"), F.col(text_col).alias("text")
    ).withColumn("is_new", F.lit(True))
    too_short = F.size(F.split(F.col("text"), r"\s+")) < shingle_n
    sc = base.sparkSession.sparkContext
    sig_udf = minhash_signature_text_udf(num_perm, shingle_n)
    if base_signatures is None:
        # In-job signatures for base ∪ delta (no signature store
        # available). Docs shorter than one shingle can't match.
        src = base_rows.unionByName(delta_rows).filter(~too_short)
        if src.rdd.getNumPartitions() < sc.defaultParallelism:
            src = src.repartition(sc.defaultParallelism, "id")
        # Two consumers (signatures, verify re-shingle) — persist once.
        src = intermediates.persist(src, StorageLevel.MEMORY_AND_DISK)
        sig = src.select(
            "id", "is_new", sig_udf(F.col("text")).alias("sig")
        ).filter(F.col("sig").isNotNull())
        verify_text = src
    else:
        # STEADY-STATE path: corpus signatures come precomputed from a
        # signature store (minhash_signature_table rows appended per
        # ingest) — only the arriving batch is signatured, so per-batch
        # cost never rescans corpus text. ``base`` is still consulted,
        # but only as the verify stage's text lookup, candidate-pruned
        # by a left_semi before any shingling.
        src = delta_rows.filter(~too_short)
        if src.rdd.getNumPartitions() < sc.defaultParallelism:
            src = src.repartition(sc.defaultParallelism, "id")
        src = intermediates.persist(src, StorageLevel.MEMORY_AND_DISK)
        sig = (
            base_signatures.select(
                "id", F.lit(False).alias("is_new"), "sig"
            ).unionByName(
                src.select(
                    "id", "is_new", sig_udf(F.col("text")).alias("sig")
                ).filter(F.col("sig").isNotNull())
            )
        )
        verify_text = src.select("id", "text", "is_new").unionByName(
            base_rows.filter(~too_short)
        )
    banded = sig.select(
        "id",
        "is_new",
        F.posexplode(lsh_band_keys(F.col("sig"), bands, rows_per_band)).alias(
            "band", "band_hash"
        ),
    )
    probe = banded.filter(F.col("is_new")).select(
        "band", "band_hash", F.col("id").alias("new_id")
    )
    build = banded.select(
        "band", "band_hash", F.col("id").alias("match_id"), "is_new"
    )
    cands = (
        probe.join(build, ["band", "band_hash"])
        # base matches pair in any id order; delta-delta pairs only
        # once and never self-pairs.
        .filter(
            F.when(F.col("is_new"), F.col("match_id") < F.col("new_id"))
            .otherwise(F.col("match_id") != F.col("new_id"))
        )
        .select("new_id", "match_id")
        .dropDuplicates(["new_id", "match_id"])
    )
    cands = intermediates.persist(cands, StorageLevel.MEMORY_AND_DISK)
    cands.count()  # cache barrier before the three consumers below
    need = (
        cands.select(F.col("new_id").alias("id"))
        .union(cands.select(F.col("match_id").alias("id")))
        .distinct()
    )
    # PERSISTED (r13): both verify joins consume sh — uncached, the
    # candidate-doc shingle fold ran twice (same double-compute the
    # batch pipeline had; bounded by |candidate docs|).
    sh = intermediates.persist(
        verify_text.join(need, "id", "left_semi").select(
            "id", word_ngrams(F.col("text"), shingle_n).alias("shingles")
        ),
        StorageLevel.MEMORY_AND_DISK,
    )
    return (
        cands.join(
            sh.select(F.col("id").alias("new_id"), F.col("shingles").alias("sh_a")),
            "new_id",
        )
        .join(
            sh.select(
                F.col("id").alias("match_id"), F.col("shingles").alias("sh_b")
            ),
            "match_id",
        )
        .withColumn("jaccard", jaccard(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("jaccard") >= threshold)
        .select("new_id", "match_id", "jaccard")
    )


# -------------------------------------------------------------- SimHash


def simhash64(text: Column) -> Column:
    """64-bit SimHash of the word set: bit b of the signature is 1 iff
    Σ_words (±1 by bit b of xxhash64(word)) > 0. Pure bit-twiddling SQL
    (shiftright/&), one pass per word via aggregate; near-duplicate
    texts agree on most bits."""
    words = F.array_distinct(F.split(text, r"\s+"))
    hashes = F.transform(words, lambda w: F.xxhash64(w))
    # One fold per bit position: count of set-bits minus unset-bits;
    # sign decides the signature bit. Bit tests are mask ANDs (literal
    # masks — shift functions don't accept lambda variables); bit 63 is
    # the sign bit.
    def bit_balance(b: int) -> Column:
        # Closure factory keeps the fold lambda strictly binary (see
        # _perm_min note on PySpark lambda arity).
        if b < 63:
            mask = 1 << b
            return F.aggregate(
                hashes,
                F.lit(0),
                lambda acc, h: acc
                + F.when(h.bitwiseAND(F.lit(mask).cast("long")) != 0, 1).otherwise(-1),
            )
        return F.aggregate(
            hashes, F.lit(0), lambda acc, h: acc + F.when(h < 0, 1).otherwise(-1)
        )

    sig = F.lit(0).cast("long")
    for b in range(64):
        bit_val = F.lit(1 << b).cast("long") if b < 63 else F.lit(-(1 << 63)).cast("long")
        sig = sig.bitwiseOR(
            F.when(bit_balance(b) > 0, bit_val).otherwise(F.lit(0).cast("long"))
        )
    return sig


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit signatures: popcount(a^b)
    via bit_count."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_pairs_from_sigs(
    sigs: DataFrame, max_hamming: int, n_bits: int = 64
) -> DataFrame:
    """Pigeonhole pairing over precomputed (id, sig) signatures — the
    slicing / bucket-join / exact-Hamming-verify half of SimHash dedup,
    reusable with any signature source (e.g. the oracle-replayable
    expression signature of the driver gate)."""
    n_slices = min(max_hamming + 1, n_bits)
    # Partition n_bits into n_slices contiguous slices, sizes as equal
    # as possible (widths differ by ≤1) so the pigeonhole argument holds.
    base_w, extra = divmod(n_bits, n_slices)
    widths = [base_w + (1 if i < extra else 0) for i in range(n_slices)]
    offsets = [sum(widths[:i]) for i in range(n_slices)]
    sliced = sigs.select(
        "id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("slice_id"),
                        F.shiftright(F.col("sig"), offsets[i])
                        .bitwiseAND(F.lit((1 << widths[i]) - 1))
                        .alias("slice_val"),
                    )
                    for i in range(n_slices)
                ]
            )
        ).alias("sl"),
    ).select("id", "sig", F.col("sl.slice_id"), F.col("sl.slice_val"))
    a = sliced.select("slice_id", "slice_val", F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    b = sliced.select("slice_id", "slice_val", F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    return (
        a.join(b, ["slice_id", "slice_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sig_a", "sig_b")
        .dropDuplicates(["id_a", "id_b"])
        .withColumn("hamming", hamming64(F.col("sig_a"), F.col("sig_b")))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# ------------------------------------------------- blocked exact Jaccard


def blocked_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: list[str],
    threshold: float,
    shingle_n: int = 2,
) -> DataFrame:
    """Exact all-pairs Jaccard *within* blocks — for bounded blocks
    (language, source, length band) or as the LSH verifier. Quadratic
    per block by construction; callers own the blocking choice."""
    base = df.select(
        *[F.col(c) for c in block_cols],
        F.col(id_col).alias("id"),
        word_ngrams(F.col(text_col), shingle_n).alias("sh"),
    )
    a = base.select(*block_cols, F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = base.select(*block_cols, F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    return (
        a.join(b, block_cols)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("jaccard", jaccard(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("jaccard") >= threshold)
        .select(*block_cols, "id_a", "id_b", "jaccard")
    )


# ------------------------------------------------- embedding near-dup


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    block_col: str,
    threshold: float = 0.95,
) -> DataFrame:
    """Semantic near-dup pairs: cosine ≥ threshold within a blocking
    key (cluster id, LSH bucket, label). The unblocked variant at scale
    is similarity.ann_lsh_buckets + this verify step."""
    base = df.select(
        F.col(block_col).alias("block"), F.col(id_col).alias("id"), F.col(vec_col).alias("v")
    )
    a = base.select("block", F.col("id").alias("id_a"), F.col("v").alias("v_a"))
    b = base.select("block", F.col("id").alias("id_b"), F.col("v").alias("v_b"))
    return (
        a.join(b, "block")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cos", cosine(F.col("v_a"), F.col("v_b")))
        .filter(F.col("cos") >= threshold)
        .select("block", "id_a", "id_b", "cos")
    )
