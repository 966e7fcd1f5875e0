"""Text cleaning for training-data pipelines: PII redaction, HTML
boilerplate stripping, and intra-document repetition scoring. All pure
JVM column expressions (regexp/split/aggregate) — zero shuffles for the
per-doc transforms, one explode + hash aggregate for repetition. The
reference engine has no text surface; these sit alongside dedup /
decontamination / quality scoring in the engine's LLM-data layer.

Pattern notes: every regex here is written in the common subset of Java
regex (Spark) and RE2 (DuckDB, the driver's oracle): no backreferences,
no lookaround, no possessive quantifiers. Redaction order is fixed
(email -> ipv4 -> phone) because the phone pattern's digit-run could
otherwise swallow the dotted octets of an IP.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .textstats import normalized

EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RE = r"([0-9]{1,3}\.){3}[0-9]{1,3}"
PHONE_RE = r"\+?[0-9][0-9()\s.-]{6,}[0-9]"


def _count(col: Column, pat: str) -> Column:
    return F.size(F.regexp_extract_all(col, F.lit(pat), F.lit(0)))


def redact_pii(df: DataFrame) -> DataFrame:
    """(id, redacted, n_emails, n_ips, n_phones): PII spans replaced with
    typed placeholders. Counts are taken BEFORE redaction from the same
    expression tree — Catalyst computes the shared regex scan once."""
    t = F.col("text")
    n_emails = _count(t, EMAIL_RE)
    red = F.regexp_replace(t, EMAIL_RE, "<EMAIL>")
    n_ips = _count(red, IPV4_RE)
    red2 = F.regexp_replace(red, IPV4_RE, "<IP>")
    n_phones = _count(red2, PHONE_RE)
    red3 = F.regexp_replace(red2, PHONE_RE, "<PHONE>")
    return df.select(
        F.col("doc_id"),
        red3.alias("redacted"),
        n_emails.alias("n_emails"),
        n_ips.alias("n_ips"),
        n_phones.alias("n_phones"),
    )


def strip_html(df: DataFrame) -> DataFrame:
    """(id, clean): drop tags, unescape the five predefined XML entities,
    collapse whitespace. Deliberately NOT an HTML parser — boilerplate
    stripping at corpus scale is a regex pass; documents needing real DOM
    handling route to a parser UDF downstream."""
    t = F.col("text")
    clean = F.regexp_replace(t, r"<[^>]*>", " ")
    for ent, ch in (
        ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
        ("&apos;", "'"), ("&amp;", "&"),  # &amp; LAST: && double-escapes
    ):
        clean = F.replace(clean, F.lit(ent), F.lit(ch))
    clean = F.trim(F.regexp_replace(clean, r"\s+", " "))
    return df.select(F.col("doc_id"), clean.alias("clean"))


def repetition_ratio(df: DataFrame) -> DataFrame:
    """Intra-document word 3-gram repetition: (id, n_grams, n_distinct,
    dup_ratio, top_gram_frac). ``dup_ratio = 1 - distinct/total`` is the
    standard "repeated n-gram fraction" quality filter (high values mean
    looping/boilerplate text); ``top_gram_frac`` = share of the single
    most frequent gram — catches pathological single-phrase loops that a
    global ratio dilutes.

    One explode of ALL gram occurrences, one (id, gram) count aggregate
    (map-side combined), one per-id rollup of scalars. The words array is
    MATERIALIZED as a column before the transform lambda touches it — a
    lambda referencing a non-attribute expression re-evaluates it per
    element (the split would run O(len) times per doc, measured 20x the
    whole query; same hazard class as ``dedup.word_shingles``)."""
    words = F.col("_w")
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(words) - 3, F.lit(0))),
        # F.get, not element_at: out-of-range must be null (tail grams of
        # docs shorter than 3 words), and element_at THROWS under ANSI mode
        lambda i: F.concat_ws(
            " ", *[F.get(words, i + j) for j in range(3)]
        ),
    )
    exploded = (
        df.select(
            F.col("doc_id").alias("id"),
            F.split(normalized(), " ").alias("_w"),
        )
        .select("id", F.explode(grams).alias("g"))
    )
    per_gram = exploded.groupBy("id", "g").agg(
        F.count(F.lit(1)).alias("c")
    )
    return per_gram.groupBy("id").agg(
        F.sum("c").alias("n_grams"),
        F.count(F.lit(1)).alias("n_distinct"),
        (F.lit(1.0) - F.count(F.lit(1)) / F.sum("c")).alias("dup_ratio"),
        (F.max("c") / F.sum("c")).alias("top_gram_frac"),
    )


def chunk_documents(
    df: DataFrame,
    chunk_len: int = 400,
    stride: int = 350,
) -> DataFrame:
    """Split each document into fixed-length overlapping character chunks
    (the context-window prep step of a training pipeline): chunk i covers
    ``[i*stride, i*stride + chunk_len)``, so consecutive chunks overlap by
    ``chunk_len - stride`` characters and every character is covered.
    Documents with empty/null text produce no chunks.

    Scale shape: pure JVM — one ``sequence``/``posexplode`` per doc and a
    substring, no Python, no shuffle; output rows ~ total_chars / stride.
    The equivalent SQL (a lateral ``generate_series``) is the driver
    query's DuckDB oracle, so chunk boundaries are value-checked
    cross-engine.
    """
    if stride <= 0 or chunk_len < stride:
        raise ValueError("need 0 < stride <= chunk_len")
    last = (
        F.floor((F.length(F.col("text")) - 1) / stride).cast("int")
        * stride
    )
    return (
        df.filter(F.length(F.col("text")) > 0)
        .select(
            "doc_id",
            "text",
            F.posexplode(
                F.sequence(F.lit(0), last, F.lit(stride))
            ).alias("chunk_idx", "chunk_start"),
        )
        .select(
            "doc_id",
            "chunk_idx",
            "chunk_start",
            F.substring(
                F.col("text"), F.col("chunk_start") + 1, chunk_len
            ).alias("chunk_text"),
        )
    )
