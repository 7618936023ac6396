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

- **Viterbi** (encode half): per DISTINCT word — the zipf-bounded
  frame, not the corpus — a 16-level unrolled DP computes the best
  segmentation. dp[i] packs (total score, piece count) into ONE BIGINT
  as ``128*score_e6 - pieces``: maximizing the packed value maximizes
  score and, among ties, minimizes piece count, and the transition is
  linear (``dp[j] + 128*s(piece) - 1``), so the whole DP is integer
  adds and ``greatest()`` over ≤4 predecessors. Words are truncated to
  16 chars (pieces ≤ 16 < 128 keeps the packing injective; the fixture
  corpus maxes at 8). The vocab (bounded: 256 chars + top_multi) rides
  the plan as one constant-folded map literal — a broadcast variable on
  a real cluster.

Scale shape: vocab build is two aggregates over the distinct-word
frame; encode is a map-side DP over distinct words followed by one
hash join back to occurrences and the per-doc aggregate. Nothing is
corpus-quadratic, no Python anywhere, and the corpus-scale pass never
computes a transcendental. Reference surface: elliot14A/karna
README.md:2 (the declared analytics verbs' tokenizer-adjacent text
path); algorithm: Kudo 2018 (public), SentencePiece docs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from karna_spark import intermediates
from karna_spark.operators.text import words

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


def viterbi_word_frame(
    occ: DataFrame, vocab: dict[str, int]
) -> DataFrame:
    """(w, n_pieces, score_e6): best unigram segmentation per distinct
    word via the packed 16-level DP. ``vocab`` is the collected
    piece→score map (bounded; constant-folded into the plan).

    The map literal is hoisted into ONE column (``_vm``) instead of
    being inlined at each of the 16 levels × ≤4 candidates: the
    ~750-entry map is a ~1500-node expression tree, and every
    ``withColumn`` EAGERLY re-analyzes the whole accumulated plan, so
    64 inlined copies made Catalyst re-walk ~100k shared-subtree nodes
    per level (measured r13: the DP's cost was driver-side analysis,
    not execution). As a single attribute reference the analyzer
    visits it once per pass; the optimizer still constant-folds it to
    one map literal, so the executed plan is unchanged."""
    m = F.map_from_arrays(
        F.lit(list(vocab.keys())), F.lit([int(v) for v in vocab.values()])
    )
    df = occ.select("w").distinct().withColumn("_vm", m)
    v: dict[int, Column] = {0: F.lit(0).cast("long")}
    for i in range(1, MAX_WORD + 1):
        cands = []
        for j in range(max(0, i - MAX_PIECE), i):
            s = F.element_at(
                F.col("_vm"), F.col("w").substr(F.lit(j + 1), F.lit(i - j))
            )
            cands.append(
                F.coalesce(v[j] + s * 128 - 1, F.lit(_SENTINEL))
            )
        best = F.greatest(*cands) if len(cands) > 1 else cands[0]
        df = df.withColumn(
            f"v{i}", F.when(F.length("w") >= i, best).otherwise(v[i - 1])
        )
        v[i] = F.col(f"v{i}")
    t = -v[MAX_WORD]
    return df.select(
        "w",
        (t % 128).alias("n_pieces"),
        (-((t - t % 128) / 128)).cast("long").alias("score_e6"),
    )


def reference_unigram_tokenize(
    docs: list[tuple[int, str]], top_multi: int = TOP_MULTI
) -> dict[int, tuple[int, int]]:
    """Pure-Python twin of :func:`unigram_tokenize_docs` for property
    tests: same vocab seed, same micro-nat quantization, same packed
    Viterbi. Returns {doc_id: (n_tokens, score_e6)}."""
    import math
    from collections import Counter

    occ: list[tuple[int, str]] = []
    for d, t in docs:
        for w in t.strip().split():
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
    def _half_up(v: float) -> int:  # engines round HALF_UP away from 0
        return int(math.copysign(math.floor(abs(v) + 0.5), v))

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


def unigram_tokenize_docs(
    docs: DataFrame, id_col: str, text_col: str, top_multi: int = TOP_MULTI
) -> DataFrame:
    """Per-doc unigram tokenization stats: ``(id_col, n_tokens,
    score_e6)`` — total Viterbi piece count and total best-path log
    probability in micro-nats. Two bounded driver jobs (vocab collect)
    then one corpus pass + distinct-word join + per-doc aggregate."""
    occ = _word_occurrences(docs, id_col, text_col)
    vocab_rows = unigram_vocab_scores(occ, top_multi).collect()
    vocab = {r["piece"]: r["s"] for r in vocab_rows}
    wd = viterbi_word_frame(occ, vocab)
    return (
        occ.join(wd, "w")
        .groupBy(id_col)
        .agg(
            F.sum("n_pieces").cast("long").alias("n_tokens"),
            F.sum("score_e6").cast("long").alias("score_e6"),
        )
    )


# ------------------------------------------------- hard-EM round
# One Viterbi-EM (hard-EM) training round — the M-step of Kudo 2018
# with the E-step's expectations replaced by the argmax segmentation
# (the documented Viterbi-EM variant): re-count pieces along each
# word's best path, re-score ln(count/total), PRUNE multi-char pieces
# the paths never used (single chars keep a floor of 1 — the coverage
# guarantee), and re-encode. Everything stays integer-exact: the
# argmax choice is packed INTO the DP value as
# ((cand + OFF) * 32 + j) — cand differences are ≥ 1 so the ×32 shift
# preserves the score order exactly, and ties break to the LARGER j
# (the shorter final piece) identically in Spark, DuckDB, and the
# pure-Python reference.
_CHOICE_OFF = 2 * 10**15


def viterbi_choice_frame(occ: DataFrame, vocab: dict[str, int]) -> DataFrame:
    """(w, v1..v16, b1..b16): the packed DP plus per-position argmax
    predecessor, over distinct words. The vocab map literal rides as
    ONE hoisted column — see :func:`viterbi_word_frame` (the analyzer
    otherwise re-walks 64 inlined ~1500-node copies per eager
    withColumns analysis)."""
    m = F.map_from_arrays(
        F.lit(list(vocab.keys())), F.lit([int(v) for v in vocab.values()])
    )
    df = occ.select("w").distinct().withColumn("_vm", m)
    v: dict[int, Column] = {0: F.lit(0).cast("long")}
    for i in range(1, MAX_WORD + 1):
        cands = []
        for j in range(max(0, i - MAX_PIECE), i):
            s = F.element_at(
                F.col("_vm"), F.col("w").substr(F.lit(j + 1), F.lit(i - j))
            )
            cand = F.coalesce(v[j] + s * 128 - 1, F.lit(_SENTINEL))
            cands.append((cand + _CHOICE_OFF) * 32 + j)
        packed = F.greatest(*cands) if len(cands) > 1 else cands[0]
        # p{i} is materialized as its own column so b{i}/v{i} reference
        # a cheap attribute, not a re-inlined copy of the greatest()
        # tree — Catalyst's project collapsing otherwise duplicates the
        # subtree per reference and the 16-level chain explodes
        # exponentially (measured: analysis hangs).
        df = df.withColumn(f"p{i}", packed)
        p = F.col(f"p{i}")
        # one batched analysis pass per level (withColumns), not one
        # per column — the chain's cost is Catalyst passes, not rows
        df = df.withColumns(
            {
                f"v{i}": F.when(
                    F.length("w") >= i,
                    ((p - p % 32) / 32).cast("long") - _CHOICE_OFF,
                ).otherwise(v[i - 1]),
                f"b{i}": F.when(
                    F.length("w") >= i, (p % 32).cast("int")
                ).otherwise(F.lit(0)),
            }
        )
        v[i] = F.col(f"v{i}")
    return df.drop("_vm", *[f"p{i}" for i in range(1, MAX_WORD + 1)])


def path_pieces(choice_df: DataFrame) -> DataFrame:
    """(w, pieces): each word's argmax segmentation, reconstructed by
    walking the choice columns back from the word end — ≤ MAX_WORD
    unrolled steps, each a 16-branch CASE on the current position."""
    def b_at(pos: Column) -> Column:
        out = F.lit(0)
        for i in range(1, MAX_WORD + 1):
            out = F.when(pos == i, F.col(f"b{i}")).otherwise(out)
        return out.cast("int")

    df = choice_df
    pos: Column = F.length("w").cast("int")
    piece_cols = []
    for t in range(1, MAX_WORD + 1):
        j = b_at(pos)
        df = df.withColumns(
            {
                f"pc{t}": F.when(pos > 0, F.col("w").substr(j + 1, pos - j)),
                f"pos{t}": F.when(pos > 0, j).otherwise(F.lit(0)).cast("int"),
            }
        )
        piece_cols.append(F.col(f"pc{t}"))
        pos = F.col(f"pos{t}")
    return df.select(
        "w",
        F.filter(
            F.array(*piece_cols), lambda x: x.isNotNull()
        ).alias("pieces"),
    )


def em_rescored_vocab(
    occ: DataFrame, vocab1: dict[str, int]
) -> dict[str, int]:
    """M-step: piece usage counts along every word's argmax path
    (weighted by word frequency) → pruned, re-scored vocab. Multi-char
    pieces with zero path usage drop out; single chars floor at 1."""
    wf = occ.groupBy("w").agg(F.count("*").alias("cnt"))
    # localCheckpoint truncates the 32-level DP+backtrack lineage
    # before the join/explode below: otherwise optimizer project
    # collapsing inlines each unrolled step into its consumers (every
    # step references its predecessor ~17× inside the position CASE)
    # and the expression tree grows exponentially — the same lineage
    # cut the iterative connected-components operator uses. The frame
    # is the zipf-bounded distinct-word set, not the corpus.
    with intermediates.scope():
        paths = intermediates.checkpoint(
            path_pieces(viterbi_choice_frame(occ, vocab1)), eager=True
        )
        counts = (
            paths.join(wf, "w")
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
    import math

    def _half_up(v: float) -> int:
        return int(math.copysign(math.floor(abs(v) + 0.5), v))

    return {
        p: _half_up(math.log(c / total) * 1000000)
        for p, c in vocab2_counts.items()
    }


def unigram_em_tokenize_docs(
    docs: DataFrame, id_col: str, text_col: str, top_multi: int = TOP_MULTI
) -> DataFrame:
    """Per-doc stats after ONE hard-EM round: seed vocab → argmax-path
    counts → pruned re-scored vocab → re-encode. Three bounded driver
    collects (seed vocab, path counts — both ≤ |vocab| rows); both
    corpus passes are the distinct-word DP + join shape."""
    occ = _word_occurrences(docs, id_col, text_col)
    v1_rows = unigram_vocab_scores(occ, top_multi).collect()
    vocab1 = {r["piece"]: r["s"] for r in v1_rows}
    vocab2 = em_rescored_vocab(occ, vocab1)
    wd = viterbi_word_frame(occ, vocab2)
    return (
        occ.join(wd, "w")
        .groupBy(id_col)
        .agg(
            F.sum("n_pieces").cast("long").alias("n_tokens_em"),
            F.sum("score_e6").cast("long").alias("score_em_e6"),
        )
    )


def reference_unigram_em(
    docs: list[tuple[int, str]], top_multi: int = TOP_MULTI
) -> dict[int, tuple[int, int]]:
    """Pure-Python twin of :func:`unigram_em_tokenize_docs`."""
    import math
    from collections import Counter

    occ: list[tuple[int, str]] = []
    for d, t in docs:
        for w in t.strip().split():
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

    def _half_up(v: float) -> int:
        return int(math.copysign(math.floor(abs(v) + 0.5), v))

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
