"""Distributed BPE merge learning (byte-pair encoding, Sennrich 2016).

The north-star pipeline's token counting used a BPE-ish regex
approximation; this module learns REAL merge rules from the corpus —
the step that turns "token counting" into an actual trainable
tokenizer. Reference capability: declared query surface over tabular
files (reference README.md:2); no reference implementation exists
(karna-core/src/lib.rs:1-14 is the cargo template), so the design is
Spark-shaped where the data is corpus-sized and exact where it is
vocabulary-sized:

- Training operates on the WORD-FREQUENCY table, not the corpus: ONE
  distributed corpus pass aggregates (word, freq). Pair counts over
  that table equal pair counts over the corpus, because every
  adjacent pair lies inside one word.
- The merges are learned by ONE Arrow Python task (``mapInArrow``)
  over the vocabulary coalesced to a single partition. It runs
  sequential BPE exactly — the counting, greedy left-to-right merge
  and (count desc, left, right) tie-break of :func:`reference_bpe` —
  but keeps a pair → count map and a pair → words index up to date,
  so each merge re-counts only the words holding the winning pair.
  The whole call is one collect however many merges it learns.
- The final tokenization of every vocabulary word (``return_symbols``)
  replays the learned merges in one narrow Arrow map over the word
  table. Nothing is persisted, so nothing needs releasing.

Certification: ``tests/test_operators.py`` replays the same
word-frequency table through the pure-Python reference and requires
the merge tables to be identical, and runs a randomized differential
of :func:`learn_merges` against it; the registry certifies the merges
plus the applied tokenization against a DuckDB chained-CTE replay
(``text_bpe_merges_exact``).
"""

from __future__ import annotations

import heapq
from collections import defaultdict
from collections.abc import Iterable
from functools import partial

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

END = "</w>"  # end-of-word marker symbol

MERGES_SCHEMA = (
    "merge_idx int, left_sym string, right_sym string, "
    "merged string, pair_freq bigint"
)
SYMBOLS_SCHEMA = "w string, syms array<string>, freq bigint"


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


def _merge_word(syms: list[str], a: str, b: str) -> list[str]:
    """One greedy left-to-right pass merging adjacent (a, b) into a+b;
    overlapping occurrences resolve left-first ('aaa' → 'aa', 'a')."""
    out: list[str] = []
    for x in syms:
        if out and out[-1] == a and x == b:
            out[-1] = a + b
        else:
            out.append(x)
    return out


def learn_merges(
    word_freqs: Iterable[tuple[str, int]],
    num_merges: int,
    min_pair_freq: int = 2,
) -> list[tuple[int, str, str, str, int]]:
    """Exact sequential BPE over ``(word, freq)`` pairs (positive
    freqs), in the shape of :func:`reference_bpe`'s output.

    Instead of recounting every pair per merge, it keeps ``counts``
    (pair → weighted count) and ``where`` (pair → ids of the words
    holding it; a word that loses a pair stays listed until the pair
    wins or dies out, so this is a superset). A merge re-merges only
    the words in ``where[winner]``, subtracts their old pairs and adds
    their new ones. The argmax is a heap of ``(-count, a, b)`` —
    exactly the reference's tie-break order — whose entries are
    checked against ``counts`` when they reach the top (stale ones are
    dropped)."""
    words: list[list[str]] = []
    freqs: list[int] = []
    for w, f in word_freqs:
        words.append(list(w) + [END])
        freqs.append(f)
    counts: dict[tuple[str, str], int] = defaultdict(int)
    where: dict[tuple[str, str], set[int]] = defaultdict(set)
    for i, syms in enumerate(words):
        for p in zip(syms, syms[1:]):
            counts[p] += freqs[i]
            where[p].add(i)
    heap = [(-c, a, b) for (a, b), c in counts.items()]
    heapq.heapify(heap)
    merges: list[tuple[int, str, str, str, int]] = []
    while len(merges) < num_merges:
        while heap and counts.get(heap[0][1:]) != -heap[0][0]:
            heapq.heappop(heap)
        if not heap or -heap[0][0] < min_pair_freq:
            break
        neg, a, b = heapq.heappop(heap)
        merges.append((len(merges), a, b, a + b, -neg))
        touched: set[tuple[str, str]] = set()
        for i in where.pop((a, b)):
            old = words[i]
            new = _merge_word(old, a, b)
            if len(new) == len(old):
                continue  # stale index entry: the pair is gone here
            f = freqs[i]
            for p in zip(old, old[1:]):
                counts[p] -= f
                touched.add(p)
            for p in zip(new, new[1:]):
                counts[p] += f
                touched.add(p)
                where[p].add(i)
            words[i] = new
        for p in touched:
            c = counts[p]
            if c > 0:
                heapq.heappush(heap, (-c, *p))
            else:
                del counts[p]
                where.pop(p, None)
    return merges


def _learn_task(batches, num_merges: int, min_pair_freq: int):
    """``mapInArrow`` body: read the whole (w, freq) vocabulary, learn,
    emit the merge table as one batch."""
    import pyarrow as pa

    vocab = []
    for rb in batches:
        vocab.extend(zip(rb.column(0).to_pylist(), rb.column(1).to_pylist()))
    merges = learn_merges(vocab, num_merges, min_pair_freq)
    if merges:
        idx, a, b, ab, cnt = zip(*merges)
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(idx, pa.int32()),
                pa.array(a, pa.string()),
                pa.array(b, pa.string()),
                pa.array(ab, pa.string()),
                pa.array(cnt, pa.int64()),
            ],
            names=["merge_idx", "left_sym", "right_sym", "merged", "pair_freq"],
        )


def _replay_task(batches, pairs: list[tuple[str, str]]):
    """``mapInArrow`` body: each word's symbols after applying the
    learned merges in order — the tokenization training ended with."""
    import pyarrow as pa

    for rb in batches:
        out = []
        for w in rb.column(0).to_pylist():
            syms = list(w) + [END]
            for a, b in pairs:
                syms = _merge_word(syms, a, b)
            out.append(syms)
        yield pa.RecordBatch.from_arrays(
            [rb.column(0), pa.array(out, pa.list_(pa.string())), rb.column(1)],
            names=["w", "syms", "freq"],
        )


def learn_bpe(
    wf: DataFrame,
    num_merges: int = 20,
    min_pair_freq: int = 2,
    return_symbols: bool = False,
):
    """Learn up to ``num_merges`` BPE merges from a (w, freq) table.

    Returns [(merge_idx, left, right, merged, pair_freq), ...] in
    learned order — identical to :func:`reference_bpe` at any input
    partitioning (count-desc then lexicographic tie-break). Stops
    early when no adjacent pair reaches ``min_pair_freq``. With
    ``return_symbols=True``, returns ``(merges, symbols_df)`` where
    symbols_df is the lazy (w, syms, freq) tokenization of every
    vocabulary word — the word→tokens lookup a corpus tokenizer joins
    against; it re-reads ``wf`` when it runs.

    Costs one collect whatever ``num_merges`` is: ``wf`` coalesced to
    one partition feeds one ``mapInArrow`` task that runs
    :func:`learn_merges`. That task holds
    the whole vocabulary in one Python worker: roughly distinct words ×
    bytes per word, plus per-symbol object overhead (a list slot per
    symbol, a string object per multi-character symbol, and a count
    and index entry per distinct adjacent pair). A caller with a very
    large vocabulary prunes it before the call by filtering ``wf`` on
    ``freq`` (e.g. ``wf.filter("freq >= 5")``); the merges are then
    those of the pruned vocabulary.
    """
    vocab = wf.select("w", F.col("freq").cast("bigint").alias("freq"))
    learn = partial(
        _learn_task, num_merges=num_merges, min_pair_freq=min_pair_freq
    )
    merges = [
        tuple(r)
        for r in vocab.coalesce(1).mapInArrow(learn, MERGES_SCHEMA).collect()
    ]
    if not return_symbols:
        return merges
    replay = partial(_replay_task, pairs=[(m[1], m[2]) for m in merges])
    return merges, vocab.mapInArrow(replay, SYMBOLS_SCHEMA)


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
