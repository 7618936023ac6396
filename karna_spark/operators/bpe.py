"""Distributed BPE merge learning (byte-pair encoding, Sennrich 2016).

The north-star pipeline's token counting used a BPE-ish regex
approximation; this module learns REAL merge rules from the corpus —
the step that turns "token counting" into an actual trainable
tokenizer. Reference capability: declared query surface over tabular
files (reference README.md:2); no reference implementation exists
(karna-core/src/lib.rs:1-14 is the cargo template), so the design is
Spark-shaped end to end:

- Training operates on the WORD-FREQUENCY table, not the corpus: one
  corpus pass aggregates (word, freq); every subsequent iteration
  touches only the |vocab| frame (∼10M rows at web scale — frame-,
  not corpus-scale). This is the classic BPE formulation: pair counts
  are identical because words are i.i.d. contexts for adjacent pairs.
- Each round is ONE distributed aggregate (explode adjacent symbol
  pairs weighted by word frequency → sum per pair) plus a bounded
  top-K ``collect``, from which a BATCH of provably-commuting merges
  is applied before the next count (see ``_accept_batch`` — the
  sequential argmax sequence is reproduced exactly). The winning pair
  is deterministic: max count, then lexicographic (left, right).
- The merge itself is a JVM-side left-to-right fold (``F.aggregate``)
  over each word's symbol array — greedy non-overlapping, matching
  the reference algorithm; no Python in the per-word path.
- Lineage is truncated with ``localCheckpoint`` every few merges and
  the symbol frame is re-persisted per round (the CC loop's cache
  discipline, operators/cluster.py).

Certification: ``tests/test_operators.py`` replays the same
word-frequency table through a pure-Python reference implementation
and requires the merge tables to be identical (the union-find-vs-CC
pattern); the registry exposes the merge table as a rows-only driver
query (iterative, not SQL-expressible).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

END = "</w>"  # end-of-word marker symbol



def word_frequencies(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """One corpus pass → (word, freq). Lower-cased whitespace words —
    the same normalization the text operators use."""
    from karna_spark.operators.text import words

    return (
        docs.select(F.explode(words(F.lower(F.trim(F.col(text_col))))).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _initial_symbols(wf: DataFrame) -> DataFrame:
    """(w, syms: array<string>, freq) — characters plus end marker."""
    chars = F.transform(
        F.sequence(F.lit(1), F.length("w")),
        lambda i: F.col("w").substr(i, F.lit(1)),
    )
    return wf.select(
        "w",
        F.concat(chars, F.array(F.lit(END))).alias("syms"),
        F.col("freq").cast("bigint").alias("freq"),
    )


def _sql_str(s: str) -> str:
    """Spark-SQL single-quoted string literal for an arbitrary symbol
    (corpus words can carry quotes/backslashes)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _merge_sql(a: str, b: str, src: str = "syms") -> str:
    """SQL form of :func:`_merge_expr` — the exact same fold, built as
    ONE expression string instead of ~40 py4j Column calls: profiling
    the 200-merge anchor showed Column construction alone cost
    ~50 ms/round of pure driver py4j chatter (3.6 s of the 19.5 s
    loop); a single ``selectExpr`` hands the whole batch's composed
    fold to the JVM parser in one call. ``src`` nests batches."""
    qa, qb, qm = _sql_str(a), _sql_str(b), _sql_str(a + b)
    return (
        f"aggregate({src}, cast(array() as array<string>), "
        f"(acc, x) -> if(size(acc) > 0 AND element_at(acc, -1) = {qa} "
        f"AND x = {qb}, "
        f"concat(slice(acc, 1, size(acc) - 1), array({qm})), "
        f"concat(acc, array(x))))"
    )


def _merge_expr(a: str, b: str, src=None):
    """Greedy left-to-right merge of adjacent (a, b) into a+b inside a
    symbol array — a single JVM-side fold, overlapping occurrences
    resolved left-first exactly like the reference implementation.
    ``src`` is the input array expression (default: the ``syms``
    column) so a BATCH of merges composes as nested folds in ONE
    select — each fold references its predecessor exactly once, so the
    composed tree is linear in batch size, analyzed once.
    :func:`_merge_sql` is the py4j-cheap string twin the training loop
    uses; this Column form remains the reference shape (and the one
    differential tests exercise head-to-head).

    Measured and rejected (r12 optimization round): guarding the fold
    with a linear ``exists`` over the adjacent pairs so non-matching
    words skip the O(n²)-allocation fold — identical output, but the
    doubled expression tree costs more in per-iteration analysis and
    codegen than the skipped per-row work saves at fixture vocab sizes
    (80-merge ABBA medians: 12.5 s guarded vs 10.9 s plain). Worth
    re-measuring on a vocabulary where per-row work dominates the
    per-iteration fixed cost (≥10M distinct words)."""
    merged = a + b
    return F.aggregate(
        F.col("syms") if src is None else src,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (x == F.lit(b)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


# Candidate rows collected per pair-count job (the argmax plus the
# validation context for batching); a TakeOrdered of 64 tiny rows
# costs the same job as the old limit(1).
_BATCH_TOP = 64


def _accept_batch(
    top: list, cutoff: int, min_pair_freq: int, budget: int, learned: set[str]
) -> tuple[list[tuple[str, str, int]], bool]:
    """Greedy prefix of the rank-ordered top pairs that PROVABLY
    commutes with sequential BPE (r12 verdict item 1: batch k
    non-interacting merges per job).

    Sequential BPE recomputes the argmax after every merge. A batch
    prefix reproduces it exactly when each accepted candidate (a, b),
    in rank order, satisfies both:

    (a) COUNT STABILITY — its count is untouched by every earlier
    accepted merge (x, y). Merging consumes an x followed by y and a y
    preceded by x, so an (a, b) occurrence is destroyed only when
    a == y (its left consumed as some merge's right half — context-
    dependent, unknowable here) or b == x (its right consumed as some
    merge's left half); a == x alone is safe (that x is followed by
    b ≠ y, so it never merges), as is b == y alone (that y is preceded
    by a ≠ x). New adjacencies all involve the merged symbol xy, so
    they change (a, b)'s count only on a string collision xy ∈ {a, b}.
    The candidate is rejected on any of those four conditions.

    (b) ARGMAX — it still beats every pair an earlier merge CREATES.
    New pairs all involve a merged symbol xy, and each occurrence of
    (u, xy) / (xy, v) embeds an occurrence of an ORIGINAL pair (·, x)
    / (y, ·) — the last original symbol of u adjacent to x, or y
    adjacent to the first original symbol of v — so its count is
    bounded by the best original (·, x) / (y, ·) count. Candidates
    must STRICTLY exceed that bound (a tie could lexicographically
    favor the new pair); pairs outside the collected top-M are bounded
    by ``cutoff`` (the M-th count — the collect's order is total, so
    nothing uncollected counts higher). Old pairs need no bound: their
    counts only ever decrease (destruction-only, by (a)'s analysis),
    and the candidate already outranks them in the original total
    order, which is also the tie-break order.

    That last claim needs the merged string to be NEW. Every multi-
    character symbol was made by an earlier merge, so when a+b is in
    ``learned`` (the merges applied before this batch) or was already
    made by this batch, the merge adds occurrences of an existing
    symbol, and old pairs next to that symbol GAIN count — e.g. with
    'abc' live, merging ('a', 'bc') raises ('abc', ·). The scan accepts
    such a merge and then stops.

    The scan stops at the first candidate that fails (its post-merge
    count is unknowable from this collect); a VALIDATED candidate
    below ``min_pair_freq`` is the true argmax at that point, so
    learning is finished — returned as ``done=True``. ``budget`` caps
    accepted merges at the caller's remaining num_merges."""
    accepted: list[tuple[str, str, int]] = []
    lefts: set[str] = set()
    rights: set[str] = set()
    merged_strs: set[str] = set()
    bound = 0
    for r in top:
        if len(accepted) >= budget:
            break
        a, b, c = r["a"], r["b"], int(r["cnt"])
        if accepted:
            if (
                a in rights
                or b in lefts
                or a in merged_strs
                or b in merged_strs
            ):
                break
            if c <= bound:
                break
        if c < min_pair_freq:
            return accepted, True
        accepted.append((a, b, c))
        if a + b in learned or a + b in merged_strs:
            break
        lefts.add(a)
        rights.add(b)
        merged_strs.add(a + b)
        # fold this merge's new-pair bound into the running max:
        # collected (·, a) and (b, ·) counts, floored at the cutoff
        bi = cutoff
        for r2 in top:
            c2 = int(r2["cnt"])
            if r2["b"] == a and c2 > bi:
                bi = c2
            if r2["a"] == b and c2 > bi:
                bi = c2
        if bi > bound:
            bound = bi
    return accepted, False


def learn_bpe(
    wf: DataFrame,
    num_merges: int = 20,
    min_pair_freq: int = 2,
    checkpoint_every: int = 4,
    return_symbols: bool = False,
):
    """Learn up to ``num_merges`` BPE merges from a (w, freq) table.

    Returns [(merge_idx, left, right, merged, pair_freq), ...] in
    learned order — deterministic at any parallelism (count-desc then
    lexicographic tie-break). Stops early when no adjacent pair
    reaches ``min_pair_freq``. With ``return_symbols=True``, returns
    ``(merges, symbols_df)`` where symbols_df is the final
    (w, syms, freq) tokenization of every vocabulary word — the
    word→tokens lookup a corpus tokenizer joins against (the caller
    owns unpersisting its `_karna_persisted` handle).
    """
    # ONE Spark job per BATCH of merges (r13; one per merge before):
    # the pair-count top-K collect is the only action, and it doubles
    # as the materializer of the current round's persisted symbol
    # frame. The PREVIOUS frame stays persisted ("pending") until the
    # count job proves its successor is fully cached — only then is it
    # dropped, so no unpersist can ever force a lineage replay back
    # through earlier merges. (The r7 shape paid an extra count() job
    # per iteration to materialize eagerly — at the 200-merge bench
    # depth that doubled wall time.)
    syms = _initial_symbols(wf).persist(StorageLevel.MEMORY_AND_DISK)
    cached = syms    # persisted frame backing `syms`
    pending = None   # predecessor frame awaiting safe release
    merges: list[tuple[int, str, str, str, int]] = []
    # The adjacent-pair expression is loop-INVARIANT (it only names
    # columns); Column objects are immutable, so build it once —
    # rebuilding it per merge paid ~20 py4j round-trips × iterations
    # of pure driver chatter.
    pair_expr = F.explode(
        F.zip_with(
            F.slice(F.col("syms"), 1, F.size("syms") - 1),
            F.slice(F.col("syms"), 2, F.size("syms") - 1),
            lambda x, y: F.struct(x.alias("a"), y.alias("b")),
        )
    ).alias("p")
    try:
        done = False
        since_ckpt = 0
        while len(merges) < num_merges and not done:
            pairs = syms.select("freq", pair_expr)
            # ONE job per BATCH (r13): collect the top-_BATCH_TOP
            # pairs — the argmax plus the validation context that lets
            # _accept_batch apply several provably-commuting merges
            # before the next distributed count. The TakeOrdered of 64
            # tiny rows costs what the old limit(1) did; the batch
            # divides the dominant per-iteration driver fixed cost
            # (analysis + scheduling + collect) by the batch size.
            top = (
                pairs.groupBy("p.a", "p.b")
                .agg(F.sum("freq").alias("cnt"))
                .orderBy(F.col("cnt").desc(), "a", "b")
                .limit(_BATCH_TOP)
                .collect()
            )
            # The count consumed every partition of `syms` — its
            # persist is materialized; the predecessor can go.
            if pending is not None:
                pending.unpersist()
                pending = None
            if not top or top[0]["cnt"] < min_pair_freq:
                break
            cutoff = int(top[-1]["cnt"]) if len(top) == _BATCH_TOP else 0
            accepted, done = _accept_batch(
                top, cutoff, min_pair_freq, num_merges - len(merges),
                {m[3] for m in merges},
            )
            if not accepted:
                break
            first_batch = not merges
            expr_sql = "syms"
            for a, b, cnt in accepted:
                merges.append((len(merges), a, b, a + b, cnt))
                expr_sql = _merge_sql(a, b, src=expr_sql)
            new_syms = syms.selectExpr(
                "w", f"{expr_sql} AS syms", "freq"
            )
            if first_batch:
                # Size-adaptive parallelism for the remaining merges:
                # the first count job materialized the cache, so its
                # real in-memory size is known — coalesce (narrow, no
                # shuffle) to size-derived partitions; at fixture
                # scale that is ONE partition, making each later merge
                # a single exchange-free single-task job (a
                # SinglePartition child satisfies the pair-count
                # aggregate's clustering requirement). The count
                # propagates through every later iteration's narrow
                # select. See operators/sizing.py.
                from karna_spark.operators.sizing import coalesce_to_size

                new_syms = coalesce_to_size(new_syms, syms)
            since_ckpt += len(accepted)
            if since_ckpt >= checkpoint_every:
                new_syms = new_syms.localCheckpoint(eager=False)
                since_ckpt = 0
            new_syms = new_syms.persist(StorageLevel.MEMORY_AND_DISK)
            pending = cached
            cached = new_syms
            syms = new_syms
    except BaseException:
        if pending is not None:
            pending.unpersist()
        cached.unpersist()
        raise
    if return_symbols:
        # Materialize the final tokenization before releasing its
        # predecessor, then hand the persisted frame to the caller;
        # the release contract rides on it (operators/dedup.py).
        if pending is not None:
            syms.count()
            pending.unpersist()
        syms._karna_persisted = [cached]  # type: ignore[attr-defined]
        return merges, syms
    if pending is not None:
        pending.unpersist()
    cached.unpersist()
    return merges


def reference_bpe(
    word_freqs: dict[str, int], num_merges: int = 20, min_pair_freq: int = 2
) -> list[tuple[int, str, str, str, int]]:
    """Pure-Python reference (independent of Spark) for the pytest
    differential: same counting (overlapping adjacent pairs), same
    greedy left-to-right merge, same tie-break."""
    vocab = {tuple(list(w) + [END]): f for w, f in word_freqs.items()}
    merges: list[tuple[int, str, str, str, int]] = []
    for it in range(num_merges):
        counts: dict[tuple[str, str], int] = {}
        for syms, f in vocab.items():
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + f
        if not counts:
            break
        (a, b), cnt = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        if cnt < min_pair_freq:
            break
        merges.append((it, a, b, a + b, cnt))
        new_vocab: dict[tuple[str, ...], int] = {}
        for syms, f in vocab.items():
            out: list[str] = []
            for x in syms:
                if out and out[-1] == a and x == b:
                    out[-1] = a + b
                else:
                    out.append(x)
            key = tuple(out)
            new_vocab[key] = new_vocab.get(key, 0) + f
        vocab = new_vocab
    return merges
