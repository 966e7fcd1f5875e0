"""Text analysis for large-scale training-data pipelines: language ID,
quality scoring, token counting, document fingerprinting.

All pure column expressions (JVM regex / hash built-ins — whole-stage
codegen, no Python), so every operator here is SQL-expressible and carries a
DuckDB oracle in __spark_entry__.py. Fingerprints use md5 over normalized
text (identical across engines, unlike xxhash64 seeds).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# tiny per-language stopword marker sets for the n-gram heuristic
_LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is"],
    "fr": ["le", "la", "et", "les", "est"],
    "de": ["der", "die", "und", "das", "ist"],
    "es": ["el", "la", "de", "que", "es"],
}

_EN_STOPWORDS = ["the", "a", "and", "of", "to", "in", "is", "it", "for", "on"]

# BPE-ish tokenization: word pieces or single non-space punctuation
TOKEN_REGEX = r"[a-zA-Z0-9]+|[^a-zA-Z0-9\s]"


def normalized() -> Column:
    """The ``text`` column lowercased, whitespace collapsed, trimmed — the
    canonical form every fingerprint/dedup operator keys on."""
    return F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))


def fingerprint() -> Column:
    """Content-addressable document fingerprint (md5 of the normalized
    ``text`` column)."""
    return F.md5(normalized())


def token_count() -> Column:
    """Number of ``TOKEN_REGEX`` tokens in the ``text`` column."""
    return F.regexp_count(F.col("text"), F.lit(TOKEN_REGEX))


def word_count() -> Column:
    """Number of space-separated words in the normalized ``text`` column."""
    return F.size(F.split(normalized(), " "))


def _marker_hits(norm: Column, words) -> Column:
    padded = F.concat(F.lit(" "), norm, F.lit(" "))
    expr = F.lit(0)
    for w in words:
        expr = expr + F.regexp_count(padded, F.lit(rf" {w} "))
    return expr


def lang_id() -> Column:
    """Greatest-hits language guess for the ``text`` column over small
    stopword marker sets; 'und' (undetermined) when nothing matches."""
    norm = normalized()
    scores = [
        F.struct(
            _marker_hits(norm, words).alias("hits"), F.lit(lang).alias("lang")
        )
        for lang, words in sorted(_LANG_MARKERS.items())
    ]
    best = F.greatest(*scores)
    return F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und"))


def doc_stats(df: DataFrame) -> DataFrame:
    """Per-document quality features + a composite quality score in [0, 1]."""
    c = F.col("text")
    norm = normalized()
    n_chars = F.length(c)
    n_words = word_count()
    n_tokens = token_count()
    punct = F.regexp_count(c, F.lit(r"[^\w\s]"))
    stop_hits = _marker_hits(norm, _EN_STOPWORDS)
    punct_ratio = punct / F.greatest(n_chars, F.lit(1))
    stop_ratio = stop_hits / F.greatest(n_words, F.lit(1))
    mean_word_len = n_chars / F.greatest(n_words, F.lit(1))
    # quality: long enough, some stopwords, not punctuation soup,
    # plausible word lengths
    length_score = F.least(n_words / F.lit(20.0), F.lit(1.0))
    stop_score = F.least(stop_ratio * 4.0, F.lit(1.0))
    punct_score = F.lit(1.0) - F.least(punct_ratio * 5.0, F.lit(1.0))
    wordlen_score = F.when(
        (mean_word_len >= 3.0) & (mean_word_len <= 12.0), F.lit(1.0)
    ).otherwise(F.lit(0.0))
    quality = (
        0.4 * length_score + 0.2 * stop_score + 0.2 * punct_score
        + 0.2 * wordlen_score
    )
    return df.select(
        "doc_id",
        n_chars.alias("n_chars"),
        n_words.alias("n_words"),
        n_tokens.alias("n_tokens"),
        punct_ratio.alias("punct_ratio"),
        stop_ratio.alias("stopword_ratio"),
        quality.alias("quality_score"),
        lang_id().alias("lang_guess"),
        fingerprint().alias("fingerprint"),
    )
