"""Text-analysis operators for training-data pipelines (north-star
"text analysis": language-ID, quality scoring, token counting, document
fingerprinting). All pure column expressions — per-document work is a
narrow map over the scan, no shuffle, no Python — plus
:func:`split_words`, the Python twin of :func:`words` that reference
implementations split with.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# Marker lexicons for the n-gram/stopword language heuristic. Real
# pipelines learn these from labeled data; the heuristic structure
# (argmax of marker-hit counts, deterministic tie-break) is what the
# engine provides.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to"],
    "es": ["el", "la", "de", "que", "y"],
    "de": ["der", "die", "das", "und", "ist"],
    "fr": ["le", "la", "de", "et", "les"],
}

# A compact stopword list for quality ratios.
STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it", "for", "on"]

# BPE-ish tokenizer regex: word pieces OR single non-space symbols —
# the shape (if not the exact merges) of GPT-style pre-tokenization.
TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def words(text: Column) -> Column:
    return F.split(text, r"\s+")


# Java's ``\s`` (what :func:`words` splits on) is ASCII whitespace only.
# Python's ``str.split()`` and ``re``'s ``\s`` on a ``str`` also split
# on NBSP, U+001C-U+001F, U+3000 and other Unicode spaces.
_JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def split_words(text: str) -> list[str]:
    """Pure-Python twin of :func:`words` with empty pieces dropped: the
    words the engine's ``\\s+`` split yields, for reference tokenizers."""
    return [w for w in _JAVA_WS.split(text) if w]


def marker_hits(text: Column, markers: list[str]) -> Column:
    """How many tokens of ``text`` are in ``markers`` (bag count)."""
    arr = F.array(*[F.lit(m) for m in markers])
    return F.size(F.filter(words(text), lambda w: F.array_contains(arr, F.lower(w))))


def lang_id(text: Column, langs: dict[str, list[str]] | None = None) -> Column:
    """Heuristic language-ID: argmax of marker-hit counts with
    deterministic tie-break (lexicographic lang code), 'und' when no
    marker hits at all."""
    langs = langs or LANG_MARKERS
    scored = F.array(
        *[
            F.struct(marker_hits(text, ms).alias("hits"), F.lit(code).alias("code"))
            for code, ms in sorted(langs.items())
        ]
    )
    # First-wins argmax (strict > keeps the lexicographically smallest
    # code on ties — deterministic across engines).
    best = F.aggregate(
        scored,
        F.struct(F.lit(-1).alias("hits"), F.lit("und").alias("code")),
        lambda acc, s: F.when(s.getField("hits") > acc.getField("hits"), s).otherwise(acc),
    )
    return F.when(best.getField("hits") <= 0, F.lit("und")).otherwise(best.getField("code"))


def quality_features(text: Column) -> dict[str, Column]:
    """Per-document quality signals: lengths, ratios, mean word
    length — the classic cheap filters (C4/Gopher-style) a corpus
    pipeline runs before anything expensive."""
    w = words(text)
    n_words = F.size(w)
    n_chars = F.length(text)
    n_stop = F.size(F.filter(w, lambda x: F.array_contains(F.array(*[F.lit(s) for s in STOPWORDS]), F.lower(x))))
    n_punct = F.size(F.regexp_extract_all(text, F.lit(r"[^\w\s]"), 0))
    n_alpha = F.size(F.regexp_extract_all(text, F.lit(r"[A-Za-z]"), 0))
    return {
        "n_chars": n_chars.cast("bigint"),
        "n_words": n_words.cast("bigint"),
        "mean_word_len": (n_chars - (n_words - 1)).cast("double") / n_words,
        "stopword_ratio": n_stop.cast("double") / n_words,
        "punct_ratio": n_punct.cast("double") / F.greatest(n_chars, F.lit(1)),
        "alpha_ratio": n_alpha.cast("double") / F.greatest(n_chars, F.lit(1)),
    }


def token_counts(text: Column) -> dict[str, Column]:
    """Token-count estimators: whitespace words, BPE-ish regex tokens,
    and the chars/4 rule of thumb."""
    return {
        "ws_tokens": F.size(words(text)).cast("bigint"),
        "re_tokens": F.size(F.regexp_extract_all(text, F.lit(TOKEN_RE), 0)).cast("bigint"),
        "approx_bpe_tokens": F.ceil(F.length(text) / 4.0).cast("bigint"),
    }


def fingerprint_md5(text: Column) -> Column:
    """Exact-dup fingerprint: md5 of whitespace-normalized, lowercased
    text."""
    return F.md5(F.lower(F.regexp_replace(F.trim(text), r"\s+", " ")))


def word_ngrams(text: Column, n: int) -> Column:
    """All word ``n``-grams of ``text`` as space-joined strings (with
    repeats — callers dedupe when set semantics are wanted). Empty
    array for documents shorter than ``n`` words. Pure column
    expressions: the expansion happens JVM-side inside codegen, no
    Python in the path."""
    ws = words(F.trim(text))
    return F.when(
        F.size(ws) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(ws) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(ws, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def repetition_features(text: Column) -> dict[str, Column]:
    """Gopher-style repetition signals (Rae et al. 2021 §A1.1 quality
    heuristics), computed entirely with higher-order column functions —
    no explode, no per-doc shuffle, no Python. At 100 TB the whole
    feature pass is a map stage.

    - ``n_words`` / ``n_distinct_words``: split + array_distinct.
    - ``dup_word_frac``: 1 − distinct/total (the duplicate-word mass).
    - ``top_word`` / ``top_word_count``: the most frequent word via a
      single fold over the SORTED word array: equal words are adjacent
      after sort_array, so a (prev, run, best, best_word) accumulator
      finds the longest run — i.e. the modal word — in one pass. Ties
      resolve to the lexicographically smallest word (first run to
      reach the winning count in ascending order), matching the SQL
      spelling ORDER BY cnt DESC, word ASC.
    - ``top_word_char_frac``: chars contributed by the modal word over
      all word chars — the "fraction of characters in the most common
      word" Gopher rule.
    """
    ws = words(F.trim(text))
    sorted_ws = F.sort_array(ws)
    init = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("best"),
        F.lit("").alias("bw"),
    )

    def step(acc: Column, w: Column) -> Column:
        run = F.when(w == acc.getField("prev"), acc.getField("run") + 1).otherwise(
            F.lit(1)
        )
        better = run > acc.getField("best")
        return F.struct(
            w.alias("prev"),
            run.alias("run"),
            F.when(better, run).otherwise(acc.getField("best")).alias("best"),
            F.when(better, w).otherwise(acc.getField("bw")).alias("bw"),
        )

    top = F.aggregate(sorted_ws, init, step)
    n_words = F.size(ws)
    n_distinct = F.size(F.array_distinct(ws))
    word_chars = F.length(F.regexp_replace(F.trim(text), r"\s+", ""))
    return {
        "n_words": n_words,
        "n_distinct_words": n_distinct,
        "dup_word_frac": F.lit(1.0) - n_distinct.cast("double") / n_words,
        "top_word": top.getField("bw"),
        "top_word_count": top.getField("best"),
        "top_word_char_frac": (
            top.getField("best") * F.length(top.getField("bw"))
        ).cast("double")
        / word_chars,
    }


MERGE_INTERVALS_EXPR = """
    aggregate(
      array_sort(collect_list(struct(s, e))),
      cast(array() as array<struct<s:int,e:int>>),
      (acc, x) -> CASE
        WHEN size(acc) = 0 THEN array(x)
        WHEN x.s <= element_at(acc, -1).e THEN concat(
          slice(acc, 1, size(acc) - 1),
          array(named_struct(
            's', element_at(acc, -1).s,
            'e', greatest(element_at(acc, -1).e, x.e))))
        ELSE concat(acc, array(x)) END)
"""
"""Aggregate-expression SQL: fold a group's (s, e) interval rows into
a sorted array of MERGED intervals (touching-at-e counts as overlap,
adjacent-at-e+1 does not — matching the classic running-max island
formulation). Used by the span-scrub family instead of a window: the
fold runs inside a per-key aggregate, so no data-scale frame ever
passes through an unpartitioned WindowExec."""


def drop_spans(ws: Column, spans: Column) -> Column:
    """Words of ``ws`` (1-based positions) not covered by any [s, e]
    interval in ``spans`` — the rebuild step of the span-scrub family
    (JVM higher-order functions; no explode, no Python)."""
    return F.filter(
        ws,
        lambda w, i: ~F.exists(
            spans,
            lambda sp: (i + 1 >= sp["s"]) & (i + 1 <= sp["e"]),
        ),
    )
