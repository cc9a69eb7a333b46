"""Text-analysis operators for training-data pipelines.

Language-ID (keyword heuristic), quality scoring, token counting and document
fingerprinting — all pure Column expressions (JVM-side, codegen'd), designed so
an identical DuckDB SQL twin exists for the correctness oracle.

Scale: per-row expressions only — embarrassingly parallel, no shuffle.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

# Keyword sets for the n-gram/stopword language heuristic. Tiny on purpose —
# the operator contract (deterministic scoring + argmax w/ fixed tiebreak)
# is what matters, not linguistic accuracy of the toy sets.
LANG_KEYWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "is"),
    "de": ("der", "die", "das", "und", "ist", "ein"),
    "es": ("el", "la", "de", "y", "es", "un"),
    "fr": ("le", "la", "de", "et", "est", "un"),
}

# BPE-ish tokenizer: word pieces, digit runs, single punctuation marks.
# Literal space class (not \s) so the regex means the same thing in Spark
# (Java regex) and the DuckDB oracle (RE2).
BPE_PATTERN = r"[a-z]+|[0-9]+|[^a-z0-9 ]"


def tokens(text: Column) -> Column:
    """Whitespace tokens (single-space split — matches oracle string_split)."""
    return F.split(text, " ")


def lang_hits(text: Column, lang: str) -> Column:
    kw = LANG_KEYWORDS[lang]
    return F.size(F.filter(tokens(F.lower(text)), lambda x: x.isin(*kw)))


def quality_select(text_col: str = "text") -> list[Column]:
    """Column list of quality features (use in .select) — the SINGLE
    definition of the feature arithmetic: plans/datapipe.text_quality and
    plans/corpus.m10_quality_logit both build from these columns, so a
    feature tweak (or the next empty-doc-style fix) lands in every
    consumer and its DuckDB oracle stays the one thing to mirror.

    try_divide: punct_ratio is NULL for empty documents (n_chars = 0) —
    DuckDB's double x/0 is NULL, and ANSI Spark would otherwise throw.
    n_words is never 0 (split('') yields ['']), so the other ratios are
    plain divisions. Integer features cast to long to match the oracles'
    BIGINT casts in the driver's type-tagged hash."""
    txt = F.col(text_col)
    toks = tokens(txt)
    n_words = F.size(toks).cast("long")
    n_chars = F.length(txt).cast("long")
    punct_chars = n_chars - F.length(F.regexp_replace(txt, r"[^a-zA-Z0-9 ]", ""))
    stop_hits = lang_hits(txt, "en")
    avg_word_len = (n_chars - (n_words - 1)).cast("double") / n_words
    return [
        n_chars.alias("n_chars_m"),
        n_words.alias("n_words"),
        F.round(avg_word_len, 6).alias("avg_word_len"),
        F.try_divide(punct_chars.cast("double"), n_chars).alias("punct_ratio"),
        (stop_hits.cast("double") / n_words).alias("stopword_ratio"),
    ]


def bpe_token_count(text: Column) -> Column:
    """Token count under the BPE-ish regex (lowercased input)."""
    return F.size(F.regexp_extract_all(F.lower(text), F.lit(BPE_PATTERN), 0))


def fingerprint(text: Column, mod: int = 1_000_003, mult: int = 8191) -> Column:
    """Order-sensitive rolling document fingerprint.

    Polynomial rolling hash over per-word codes (ascii(first)·131 + len) —
    integer arithmetic only, so it is bit-identical in the DuckDB oracle's
    ``list_reduce`` twin.
    """
    word_code = lambda x: (F.ascii(x) * 131 + F.length(x)).cast("long")  # noqa: E731
    codes = F.transform(tokens(text), word_code)
    return F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * mult + x) % F.lit(mod).cast("long"),
    )
