"""BPE tokenizer APPLY — encode a corpus with a merge table.

`operators/bpe.py` LEARNS merge rules (F22, Sennrich 2016); this
module applies a merge list to tokenize documents — the other half of
the tokenizer lifecycle a training pipeline runs (train once, encode
every corpus snapshot). Together: ``learn_bpe`` → merge list →
``bpe_encode`` → token ids/counts.

Encoding is a MAP-ONLY pass (the 100 TB shape: no shuffle at all —
each document tokenizes independently): a word is exploded to
space-separated symbols, then each merge rule rewrites ``"a b" →
"ab"`` in priority order. String ``replace`` is left-to-right and
non-overlapping, which is exactly BPE's per-rule merge semantics, so
chaining one replace per rule reproduces the reference tokenizer. The
whole chain is a single JVM expression per word (``transform`` over
the word array with nested ``replace`` calls) — no UDF, no Python.

The merge list arrives as plain Python (driver-side constants baked
into the expression tree, like the k-means centroid assignment in
operators/kmeans.py). A learned list from ``learn_bpe`` drops in
directly; certification uses a fixed list so the DuckDB oracle can
spell the identical nested-replace chain.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _sep_chars(word: Column) -> Column:
    """``'hello'`` → ``'h e l l o'``: every character becomes a
    symbol. ``regexp_replace(w, '(.)', '$1 ')`` appends one space per
    char; the trailing space is trimmed."""
    return F.trim(F.regexp_replace(word, "(.)", "$1 "))


def _apply_merges(sym: Column, merges: list[tuple[str, str]]) -> Column:
    """Chain one ``replace(sym, 'a b', 'ab')`` per merge rule, in
    priority order. Each replace is left-to-right non-overlapping —
    BPE's single-rule merge pass — so the chain IS the BPE apply."""
    out = sym
    for a, b in merges:
        out = F.replace(out, F.lit(f"{a} {b}"), F.lit(f"{a}{b}"))
    return out


def bpe_encode(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    merges: list[tuple[str, str]],
) -> DataFrame:
    """Tokenize ``text_col`` with the merge list. Returns
    ``(id_col, n_words, n_tokens, encoded)`` where ``encoded`` is the
    space-joined token stream with ``|`` between words (a canonical,
    hashable rendering of the token sequence) and ``n_tokens`` counts
    tokens across the document.

    Scale: one projection — whitespace-split, per-word symbol rewrite
    via ``transform`` (array lambda, whole-stage codegen), two
    ``size``/``concat`` reductions. Zero shuffles, zero Python; the
    merge list rides in the expression tree like any literal, so a
    10k-rule tokenizer is a 10k-deep replace chain evaluated JVM-side
    per word (constant-folded across rows, linear in word length).
    Token COUNTING at 100 TB is therefore the same cost as reading
    the text once."""
    # drop empty fragments so whitespace-only text encodes to zero
    # words, matching split_words in the pure-Python twin
    words = F.filter(
        F.split(F.trim(F.col(text_col)), r"\s+"),
        lambda w: w != F.lit(""),
    )
    encoded_words = F.transform(
        words, lambda w: _apply_merges(_sep_chars(w), merges)
    )
    return docs.select(
        F.col(id_col),
        F.size(words).cast("bigint").alias("n_words"),
        F.aggregate(
            encoded_words,
            F.lit(0).cast("bigint"),
            lambda acc, w: acc + F.size(F.split(w, " ")),
        ).alias("n_tokens"),
        F.array_join(encoded_words, " | ").alias("encoded"),
    )


def reference_bpe_encode(
    text: str, merges: list[tuple[str, str]]
) -> tuple[int, int, str]:
    """Pure-Python twin of :func:`bpe_encode` for property tests:
    returns (n_words, n_tokens, encoded) for one document.

    Scope note (applies to both sides): word splitting is Java's ASCII
    ``\\s+`` (``[ \\t\\n\\x0b\\f\\r]+``). Python's ``str.split()`` and
    ``re``'s ``\\s`` on a ``str`` would also split NBSP, U+001C-U+001F,
    U+3000 and other Unicode whitespace, so the twin splits with
    :func:`~karna_spark.operators.text.split_words`. Symbol splitting
    is per UTF-16 code unit in Spark — identical to per-codepoint for
    the Basic Multilingual Plane, but an astral character (emoji)
    splits into two surrogate symbols.
    Corpora with astral text should pre-normalize or treat such words
    as opaque; the certification fixture and the property alphabet
    stay within the BMP."""
    from karna_spark.operators.text import split_words

    words = split_words(text)
    out_words = []
    n_tokens = 0
    for w in words:
        sym = " ".join(w)
        for a, b in merges:
            sym = sym.replace(f"{a} {b}", f"{a}{b}")
        n_tokens += len(sym.split(" "))
        out_words.append(sym)
    return len(words), n_tokens, " | ".join(out_words)
