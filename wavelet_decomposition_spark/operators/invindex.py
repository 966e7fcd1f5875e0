"""Inverted-index construction — the search/retrieval side of a
training-data pipeline (dedup cousins live in operators/dedup.py).

For each term: document frequency, collection frequency, and the
posting list as DELTA-ENCODED doc-id gaps (d-gaps — what Lucene/ES
physically store, since gaps of sorted ids are small and compress;
the same story as kernel/deltadelta.py for timestamps).

Scale design (100 TB): the naive "one row per term" index dies at
scale — a stopword's posting list over 10^9 docs is a multi-GB single
row (one straggler task, OOM on collect_list). Postings are therefore
sharded into fixed-size BLOCKS per term (``block_size`` postings per
output row, Lucene's block-postings layout): row size is bounded by
construction, and a reader streams blocks in (term, block_id) order.
Plan shape: one explode + one hash aggregate for per-(term, doc) tf,
then ONE exchange on the term key shared by the window functions
(rank, gap, df) AND the final block aggregate — Catalyst reuses the
partitioning, so blocking costs no extra shuffle. No Python anywhere.

Cross-engine exactness: everything is integers and strings — doc-id
gaps, tfs, counts — so the whole index is DuckDB-oracle-checkable
bit-for-bit (gap/tf lists ship as comma-joined strings; array hashing
is engine-dependent, strings are not).

Reference parity note: the reference has no text surface at all; this
is §2.8 training-data-pipeline engine surface (axis A).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

TOKEN_SPLIT = "[^a-z0-9]+"
_K1, _B = 1.2, 0.75  # BM25 term-frequency saturation and length normalization
_AND_QUERY = ("spark", "data", "join")  # boolean_and's conjunctive query


def tokenize(docs: DataFrame) -> DataFrame:
    """Lowercase + split on non-alphanumeric runs — one JVM-side
    explode, the shared tokenizer contract (identical semantics to
    DuckDB's string_split_regex on the same pattern)."""
    return (
        docs.select(
            "doc_id",
            F.explode(
                F.split(F.lower(F.col("text")), TOKEN_SPLIT)
            ).alias("term"),
        )
        .where(F.col("term") != "")
    )


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 10,
) -> DataFrame:
    """BM25 ranked retrieval (Robertson-Sparck Jones; Lucene's
    +1-inside-the-log idf variant, so idf is always positive):

        score(d) = sum over query terms t of
            ln(1 + (N - df_t + 0.5)/(df_t + 0.5))
            * tf * (k1+1) / (tf + k1 * (1 - b + b * dl/avgdl))

    with the usual ``k1 = 1.2`` and ``b = 0.75``.

    Scale shape: the token stream is filtered to the query's terms
    MAP-SIDE (an O(|q|) literal isin — no join) before any aggregate,
    so the per-(term, doc) tf table is tiny regardless of corpus size;
    doc length and N/avgdl are one extra aggregate each, and the
    per-term df joins back on the term key (|q| rows, broadcast). The
    only full-corpus pass is the tokenize scan. Top-k orders by
    (score desc, doc_id) — deterministic under ties.

    Returns (doc_id, score, n_hit_terms, dl) for the k best docs among
    those containing at least one query term.
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    toks = tokenize(docs)
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    corpus = dl.agg(
        F.count(F.lit(1)).alias("_N"),
        F.avg("dl").alias("_avgdl"),
    )
    qtf = (
        toks.where(F.col("term").isin(list(query_terms)))
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_t = qtf.groupBy("term").agg(
        F.count(F.lit(1)).alias("_df")
    )
    scored = (
        qtf.join(F.broadcast(df_t), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(corpus))
        .withColumn(
            "_idf",
            F.log1p(
                (F.col("_N") - F.col("_df") + 0.5)
                / (F.col("_df") + 0.5)
            ),
        )
        .withColumn(
            "_s",
            F.col("_idf")
            * (F.col("tf") * (_K1 + 1.0))
            / (
                F.col("tf")
                + _K1
                * (1.0 - _B + _B * F.col("dl") / F.col("_avgdl"))
            ),
        )
        .groupBy("doc_id")
        .agg(
            F.sum("_s").alias("score"),
            F.count(F.lit(1)).alias("n_hit_terms"),
            F.min("dl").alias("dl"),
        )
    )
    return scored.orderBy(F.desc("score"), "doc_id").limit(k)


def boolean_and(docs: DataFrame) -> DataFrame:
    """Conjunctive boolean retrieval: docs containing ALL of the query
    terms ``_AND_QUERY`` (the posting-list-intersection primitive under
    every AND query). Map-side isin filter to the query's terms, one hash
    aggregate, HAVING distinct-terms == |q| — per-query work is O(hits).
    Returns (doc_id, n_terms, total_tf, min_tf) — all exact integers,
    fully oracle-checkable.
    """
    return (
        tokenize(docs)
        .where(F.col("term").isin(list(_AND_QUERY)))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("_tf"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.sum("_tf").alias("total_tf"),
            F.min("_tf").alias("min_tf"),
        )
        .where(F.col("n_terms") == len(_AND_QUERY))
    )


def inverted_index(docs: DataFrame, block_size: int = 128) -> DataFrame:
    """Build the blocked inverted index.

    Output: one row per (term, block_id) —
    ``term, block_id, df, cf, first_doc, n_postings, gaps, tfs`` where
    ``gaps``/``tfs`` are comma-joined per-posting strings in ascending
    doc-id order. The first gap of the whole term's list is relative to
    doc id 0; gaps are computed over the TERM's full list (not reset
    per block), so a reader reconstructs absolute ids by prefix-summing
    blocks in order — ``first_doc`` gives each block an absolute anchor
    for random access without replaying prior blocks.
    """
    if block_size < 1:
        raise ValueError("block_size must be >= 1")
    tf = tokenize(docs).groupBy(
        "term", "doc_id"
    ).agg(F.count(F.lit(1)).alias("tf"))
    w = Window.partitionBy("term").orderBy("doc_id")
    wt = Window.partitionBy("term")
    g = tf.select(
        "term",
        F.col("doc_id").alias("_doc"),
        "tf",
        (F.col("doc_id") - F.lag("doc_id", 1, 0).over(w)).alias(
            "_gap"
        ),
        F.floor((F.row_number().over(w) - 1) / block_size)
        .cast("int")
        .alias("block_id"),
        F.count(F.lit(1)).over(wt).alias("df"),
        F.sum("tf").over(wt).alias("cf"),
    )
    joined = lambda c: F.array_join(  # noqa: E731
        F.transform(
            F.array_sort(F.collect_list(F.struct("_doc", c))),
            lambda s: s[c].cast("string"),
        ),
        ",",
    )
    return g.groupBy("term", "block_id").agg(
        F.min("df").alias("df"),
        F.min("cf").alias("cf"),
        F.min("_doc").alias("first_doc"),
        F.count(F.lit(1)).alias("n_postings"),
        joined("_gap").alias("gaps"),
        joined("tf").alias("tfs"),
    )
