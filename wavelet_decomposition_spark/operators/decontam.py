"""Benchmark decontamination: flag training documents that share any word
n-gram with a held-out evaluation set (the standard n-gram-overlap
contamination rule; e.g. GPT-3 appendix C / PaLM-style 8-gram checks —
public methodology). The reference engine has no text pipeline; this is
part of the engine's LLM-training-data surface alongside dedup and
quality scoring.

Shape, and why it scales: the benchmark set is SMALL (thousands of eval
documents) while the corpus is the 100-TB side, so the benchmark's
distinct n-gram set is broadcast — the corpus is scanned ONCE, its
exploded grams hash-joined against the broadcast set map-side with no
shuffle of corpus data; only the (doc_id, matched-gram) hits (a tiny
fraction) reach the final per-doc aggregate. Corpus-side gram explosion
reuses ``word_shingles`` (`operators/dedup.py`), which carries the
materialized-words / InferFiltersFromGenerate workarounds that keep gram
construction O(len) per doc.

``on_hash=True`` joins on ``xxhash64(gram)`` (8 bytes broadcast per gram
instead of the string); the raw-string and hashed paths are
equivalence-tested — a 64-bit collision inside one doc-vs-benchmark
comparison is the only way they can differ.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from wavelet_decomposition_spark.operators.dedup import word_shingles


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    on_hash: bool = True,
) -> DataFrame:
    """One row per corpus document: ``n_overlap`` (count of distinct word
    3-grams also present anywhere in the benchmark) and ``contaminated``
    (any overlap at all — the usual drop criterion)."""
    bench_grams = word_shingles(benchmark).select("shingle").distinct()
    corpus_grams = word_shingles(corpus)
    if on_hash:
        key = F.xxhash64("shingle").alias("_g")
        bench_grams = bench_grams.select(key).distinct()
        corpus_grams = corpus_grams.select("id", key)
    else:
        bench_grams = bench_grams.select(F.col("shingle").alias("_g"))
        corpus_grams = corpus_grams.select("id", F.col("shingle").alias("_g"))
    hits = (
        corpus_grams.join(F.broadcast(bench_grams), "_g")
        .groupBy("id")
        .agg(F.count_distinct("_g").alias("n_overlap"))
    )
    return (
        corpus.select(F.col("doc_id").alias("id"))
        .join(hits, "id", "left")
        .select(
            F.col("id").alias("doc_id"),
            F.coalesce("n_overlap", F.lit(0)).alias("n_overlap"),
            (F.coalesce("n_overlap", F.lit(0)) > 0).alias("contaminated"),
        )
    )
