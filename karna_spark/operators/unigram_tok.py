"""Unigram-LM (SentencePiece-style) tokenizer: vocab + Viterbi encode.

Completes the tokenizer lifecycle next to BPE train (operators/bpe.py,
F22) and BPE encode (operators/bpe_apply.py, F36): the unigram language
model of Kudo 2018 — the SentencePiece flavor T5/LLaMA-family models
tokenize with — segments each word into the maximum-likelihood sequence
of vocabulary pieces, where each piece carries an independent log
probability. This module implements the two halves the way a Spark
pipeline should:

- **Vocab** (train half, simplified to the deterministic seed step of
  Kudo's EM): candidate pieces are all substrings of length 1..4 of the
  corpus's distinct words, weighted by word frequency; the vocabulary
  keeps EVERY single character (coverage guarantee — Viterbi can never
  dead-end) plus the top-``top_multi`` multi-character pieces by count.
  Piece scores are ln(count/total), micro-nat quantized to BIGINT (the
  certified F2/F26 recipe: one transcendental per DISTINCT piece, then
  integer math only, so cross-engine float noise cannot flip a hash).

- **Viterbi** (encode half): :func:`segment` is one integer DP per
  DISTINCT word — the zipf-bounded frame, not the corpus. dp[i] packs
  (total score, piece count) into one integer as ``128*score_e6 -
  pieces``: maximizing the packed value maximizes score and, among
  ties, minimizes piece count, and the transition is linear
  (``dp[j] + 128*s(piece) - 1``). Words are truncated to 16 chars
  (pieces ≤ 16 < 128 keeps the packing injective; the fixture corpus
  maxes at 8). It runs in a narrow ``mapInArrow`` map over the
  distinct-word frame, with the collected piece→score dict (bounded:
  the corpus's chars + top_multi) bound to the map body by
  ``functools.partial``, as ``learn_bpe`` binds its arguments.

Scale shape: vocab build is two aggregates over the distinct-word
frame; encode is the Arrow map over distinct words followed by one hash
join back to occurrences and the per-doc aggregate. Nothing is
corpus-quadratic, the words are independent (no single-partition step),
and the corpus-scale pass never computes a transcendental. Reference
surface: elliot14A/karna README.md:2 (the declared analytics verbs'
tokenizer-adjacent text path); algorithm: Kudo 2018 (public),
SentencePiece docs.
"""

from __future__ import annotations

import math
from collections import Counter
from functools import partial

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from karna_spark.operators.text import split_words, words

MAX_PIECE = 4
MAX_WORD = 16
TOP_MULTI = 500
_SENTINEL = -(10**15)


def _word_occurrences(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, w): every word occurrence, truncated to MAX_WORD chars."""
    return (
        docs.select(
            F.col(id_col), F.explode(words(F.trim(F.col(text_col)))).alias("w")
        )
        .filter(F.col("w") != "")
        .select(id_col, F.substring("w", 1, MAX_WORD).alias("w"))
    )


def unigram_vocab_scores(
    occ: DataFrame, top_multi: int = TOP_MULTI
) -> DataFrame:
    """(piece, s): micro-nat scores of the seed vocabulary derived from
    word occurrences. All single chars + top ``top_multi`` multi-char
    substrings (count desc, piece asc — deterministic). The ranking
    window is over the aggregated piece frame (|pieces| scale)."""
    wf = occ.groupBy("w").agg(F.count("*").alias("cnt"))
    subs = F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.length("w")),
            lambda s: F.transform(
                F.sequence(
                    F.lit(1), F.least(F.lit(MAX_PIECE), F.length("w") - s + 1)
                ),
                lambda l: F.col("w").substr(s, l),
            ),
        )
    )
    pieces = (
        wf.select(F.explode(subs).alias("piece"), "cnt")
        .groupBy("piece")
        .agg(F.sum("cnt").alias("cnt"))
    )
    singles = pieces.filter(F.length("piece") == 1)
    # global top-N via orderBy+limit → TakeOrdered (per-partition
    # heaps + a driver merge of top_multi rows), never a partition-
    # less rank window single-sorting the whole substring frame
    multi = (
        pieces.filter(F.length("piece") >= 2)
        .orderBy(F.col("cnt").desc(), "piece")
        .limit(top_multi)
    )
    vocab = singles.unionByName(multi)
    total = vocab.agg(F.sum("cnt").alias("total"))
    return vocab.crossJoin(F.broadcast(total)).select(
        "piece",
        F.round(
            F.log(F.col("cnt").cast("double") / F.col("total")) * 1000000
        )
        .cast("long")
        .alias("s"),
    )


# The argmax predecessor rides inside the DP value: each candidate is
# packed as ((cand + _CHOICE_OFF) * 32 + j). Candidate differences are
# ≥ 1, so the ×32 shift preserves their order exactly, and ties break to
# the LARGER j (the shorter final piece), as in the DuckDB oracle.
_CHOICE_OFF = 2 * 10**15

SEGMENT_SCHEMA = (
    "w string, n_pieces bigint, score_e6 bigint, pieces array<string>"
)


def _half_up(v: float) -> int:
    """Round half away from zero, as Spark's and DuckDB's round() do."""
    return int(math.copysign(math.floor(abs(v) + 0.5), v))


def segment(w: str, score: dict[str, int]) -> tuple[int, int, list[str]]:
    """Best segmentation of ``w`` under the piece→score map ``score``:
    ``(n_pieces, score_e6, pieces)``.

    The choice-packed DP: dp[i] is the best packed value of ``w[:i]``;
    the candidate from j is ``dp[j] + 128*s(w[j:i]) - 1``, or
    ``_SENTINEL`` when ``w[j:i]`` is not a piece. The final value
    ``128*score_e6 - n_pieces`` unpacks to the two totals; the argmax
    predecessors spell the pieces."""
    n = len(w)
    dp = [0] * (n + 1)
    back = [0] * (n + 1)
    for i in range(1, n + 1):
        packed = []
        for j in range(max(0, i - MAX_PIECE), i):
            s = score.get(w[j:i])
            cand = _SENTINEL if s is None else dp[j] + s * 128 - 1
            packed.append((cand + _CHOICE_OFF) * 32 + j)
        q, back[i] = divmod(max(packed), 32)
        dp[i] = q - _CHOICE_OFF
    pieces = []
    i = n
    while i > 0:
        pieces.append(w[back[i] : i])
        i = back[i]
    pieces.reverse()
    neg_score, n_pieces = divmod(-dp[n], 128)
    return n_pieces, -neg_score, pieces


def _segment_task(batches, score: dict[str, int]):
    """``mapInArrow`` body: :func:`segment` of every word of the batch."""
    import pyarrow as pa

    for rb in batches:
        segs = [segment(w, score) for w in rb.column(0).to_pylist()]
        yield pa.RecordBatch.from_arrays(
            [
                rb.column(0),
                pa.array([g[0] for g in segs], pa.int64()),
                pa.array([g[1] for g in segs], pa.int64()),
                pa.array([g[2] for g in segs], pa.list_(pa.string())),
            ],
            names=["w", "n_pieces", "score_e6", "pieces"],
        )


def segment_words(occ: DataFrame, score: dict[str, int]) -> DataFrame:
    """(w, n_pieces, score_e6, pieces) for every distinct word of
    ``occ``: one narrow Arrow map over the distinct-word frame."""
    return occ.select("w").distinct().mapInArrow(
        partial(_segment_task, score=score), SEGMENT_SCHEMA
    )


def _doc_totals(
    occ: DataFrame, score: dict[str, int], id_col: str, n_col: str, s_col: str
) -> DataFrame:
    """The corpus pass: occurrences ⋈ segmented distinct words → per-doc
    piece count ``n_col`` and micro-nat score ``s_col``."""
    wd = segment_words(occ, score).select("w", "n_pieces", "score_e6")
    return (
        occ.join(wd, "w")
        .groupBy(id_col)
        .agg(
            F.sum("n_pieces").cast("long").alias(n_col),
            F.sum("score_e6").cast("long").alias(s_col),
        )
    )


def _seed_vocab(occ: DataFrame, top_multi: int) -> dict[str, int]:
    """The collected piece→score map of :func:`unigram_vocab_scores`."""
    rows = unigram_vocab_scores(occ, top_multi).collect()
    return {r["piece"]: r["s"] for r in rows}


def unigram_tokenize_docs(
    docs: DataFrame, id_col: str, text_col: str, top_multi: int = TOP_MULTI
) -> DataFrame:
    """Per-doc unigram tokenization stats: ``(id_col, n_tokens,
    score_e6)`` — total Viterbi piece count and total best-path log
    probability in micro-nats. Two bounded driver jobs (vocab collect)
    then one corpus pass + distinct-word join + per-doc aggregate."""
    occ = _word_occurrences(docs, id_col, text_col)
    vocab = _seed_vocab(occ, top_multi)
    return _doc_totals(occ, vocab, id_col, "n_tokens", "score_e6")


# ------------------------------------------------- hard-EM round
# One Viterbi-EM (hard-EM) training round — the M-step of Kudo 2018
# with the E-step's expectations replaced by the argmax segmentation
# (the documented Viterbi-EM variant): re-count pieces along each
# word's best path, re-score ln(count/total), PRUNE multi-char pieces
# the paths never used (single chars keep a floor of 1 — the coverage
# guarantee), and re-encode. Everything stays integer-exact; the argmax
# path is the one :func:`segment` backtracks.


def em_rescored_vocab(
    occ: DataFrame, vocab1: dict[str, int]
) -> dict[str, int]:
    """M-step: piece usage counts along every word's argmax path
    (weighted by word frequency) → pruned, re-scored vocab. Multi-char
    pieces with zero path usage drop out; single chars floor at 1."""
    wf = occ.groupBy("w").agg(F.count("*").alias("cnt"))
    counts = (
        segment_words(occ, vocab1)
        .join(wf, "w")
        .select(F.explode("pieces").alias("piece"), "cnt")
        .groupBy("piece")
        .agg(F.sum("cnt").cast("long").alias("c2"))
        .collect()
    )
    c2 = {r["piece"]: r["c2"] for r in counts}
    vocab2_counts: dict[str, int] = {}
    for p in vocab1:
        c = c2.get(p, 0)
        if len(p) == 1:
            vocab2_counts[p] = max(c, 1)
        elif c >= 1:
            vocab2_counts[p] = c
    total = sum(vocab2_counts.values())
    return {
        p: _half_up(math.log(c / total) * 1000000)
        for p, c in vocab2_counts.items()
    }


def unigram_em_tokenize_docs(
    docs: DataFrame, id_col: str, text_col: str, top_multi: int = TOP_MULTI
) -> DataFrame:
    """Per-doc stats after ONE hard-EM round: seed vocab → argmax-path
    counts → pruned re-scored vocab → re-encode. Two bounded driver
    collects (seed vocab, path counts — both ≤ |vocab| rows); both
    corpus passes are the distinct-word map + join shape."""
    occ = _word_occurrences(docs, id_col, text_col)
    vocab2 = em_rescored_vocab(occ, _seed_vocab(occ, top_multi))
    return _doc_totals(occ, vocab2, id_col, "n_tokens_em", "score_em_e6")


def reference_unigram_tokenize(
    docs: list[tuple[int, str]], top_multi: int = TOP_MULTI
) -> dict[int, tuple[int, int]]:
    """Pure-Python twin of :func:`unigram_tokenize_docs` for property
    tests: same vocab seed, same micro-nat quantization, same packed
    Viterbi. Returns {doc_id: (n_tokens, score_e6)}."""
    occ: list[tuple[int, str]] = []
    for d, t in docs:
        for w in split_words(t):
            occ.append((d, w[:MAX_WORD]))
    if not occ:
        return {}
    wf = Counter(w for _, w in occ)
    pieces: Counter[str] = Counter()
    for w, c in wf.items():
        for s in range(len(w)):
            for ln in range(1, min(MAX_PIECE, len(w) - s) + 1):
                pieces[w[s : s + ln]] += c
    vocab = {p: c for p, c in pieces.items() if len(p) == 1}
    multi = sorted(
        ((p, c) for p, c in pieces.items() if len(p) >= 2),
        key=lambda x: (-x[1], x[0]),
    )[:top_multi]
    vocab.update(dict(multi))
    total = sum(vocab.values())
    score = {p: _half_up(math.log(c / total) * 1000000) for p, c in vocab.items()}

    def viterbi(w: str) -> tuple[int, int]:
        dp = [0] + [_SENTINEL] * len(w)
        for i in range(1, len(w) + 1):
            best = _SENTINEL
            for j in range(max(0, i - MAX_PIECE), i):
                s = score.get(w[j:i])
                if s is not None:
                    best = max(best, dp[j] + s * 128 - 1)
            dp[i] = best
        t = -dp[len(w)]
        return t % 128, -((t - t % 128) // 128)

    out: dict[int, tuple[int, int]] = {}
    for d, w in occ:
        np_, s_ = viterbi(w)
        a, b = out.get(d, (0, 0))
        out[d] = (a + np_, b + s_)
    return out


def reference_unigram_em(
    docs: list[tuple[int, str]], top_multi: int = TOP_MULTI
) -> dict[int, tuple[int, int]]:
    """Pure-Python twin of :func:`unigram_em_tokenize_docs`."""
    occ: list[tuple[int, str]] = []
    for d, t in docs:
        for w in split_words(t):
            occ.append((d, w[:MAX_WORD]))
    if not occ:
        return {}
    wf = Counter(w for _, w in occ)
    pieces: Counter[str] = Counter()
    for w, c in wf.items():
        for s in range(len(w)):
            for ln in range(1, min(MAX_PIECE, len(w) - s) + 1):
                pieces[w[s : s + ln]] += c
    vocab_counts = {p: c for p, c in pieces.items() if len(p) == 1}
    multi = sorted(
        ((p, c) for p, c in pieces.items() if len(p) >= 2),
        key=lambda x: (-x[1], x[0]),
    )[:top_multi]
    vocab_counts.update(dict(multi))
    total = sum(vocab_counts.values())
    score1 = {
        p: _half_up(math.log(c / total) * 1000000)
        for p, c in vocab_counts.items()
    }

    def viterbi_path(w: str, score: dict[str, int]) -> list[str]:
        dp = [0] + [_SENTINEL] * len(w)
        back = [0] * (len(w) + 1)
        for i in range(1, len(w) + 1):
            best = None
            for j in range(max(0, i - MAX_PIECE), i):
                s = score.get(w[j:i])
                cand = (
                    dp[j] + s * 128 - 1 if s is not None else _SENTINEL
                )
                packed = (cand + _CHOICE_OFF) * 32 + j
                if best is None or packed > best:
                    best = packed
            back[i] = best % 32
            dp[i] = (best - best % 32) // 32 - _CHOICE_OFF
        out = []
        pos = len(w)
        while pos > 0:
            j = back[pos]
            out.append(w[j:pos])
            pos = j
        return out

    c2: Counter[str] = Counter()
    for w, c in wf.items():
        for p in viterbi_path(w, score1):
            c2[p] += c
    v2_counts: dict[str, int] = {}
    for p in score1:
        c = c2.get(p, 0)
        if len(p) == 1:
            v2_counts[p] = max(c, 1)
        elif c >= 1:
            v2_counts[p] = c
    total2 = sum(v2_counts.values())
    score2 = {
        p: _half_up(math.log(c / total2) * 1000000)
        for p, c in v2_counts.items()
    }

    def viterbi_val(w: str) -> tuple[int, int]:
        dp = [0] + [_SENTINEL] * len(w)
        for i in range(1, len(w) + 1):
            best = _SENTINEL
            for j in range(max(0, i - MAX_PIECE), i):
                s = score2.get(w[j:i])
                if s is not None:
                    best = max(best, dp[j] + s * 128 - 1)
            dp[i] = best
        t = -dp[len(w)]
        return t % 128, -((t - t % 128) // 128)

    out: dict[int, tuple[int, int]] = {}
    for d, w in occ:
        np_, s_ = viterbi_val(w)
        a, b = out.get(d, (0, 0))
        out[d] = (a + np_, b + s_)
    return out
