"""Character-trigram corpus-frequency profiling — the CCNet/KenLM-style
quality-filter family, reduced to its integer-exact core. A training
pipeline scores every document against a character-level language-model
profile built from the corpus (or a trusted reference slice); documents
dominated by trigrams the profile has rarely seen are boilerplate,
encoding noise, or the wrong language, and get filtered or downweighted
before tokenization.

The full KenLM score is a sum of log-probabilities — not bit-portable
across engines (libm) — so the driver-facing operator reports the
integer sufficient statistics instead: per document, the trigram count,
how many of its trigram occurrences are corpus-rare, and the exact sum
of corpus frequencies over its occurrences (the "document frequency
mass", whose per-trigram mean is the familiarity signal). All BIGINT,
hash-identical cross-engine.

Scale shape (100 TB): trigram extraction is one JVM ``transform`` over
a ``sequence`` (whole-stage codegen, no Python); the profile is a hash
aggregate over at most |charset|^3 keys (tens of thousands — broadcast
side forever, regardless of corpus size), so scoring is ONE map-side
broadcast-hash join plus one hash aggregate back to doc grain. Two
exchanges total (profile agg + doc agg), no sort, no Python stage.

Reference tie-in: the reference has no text path (it is a numeric
wavelet engine, `wavelet_decomposition.py`); this module is part of the
training-data surface the engine adds on top (SURVEY.md §2.8 /
LLM-pipeline inventory), sibling to textstats/dedup/decontam.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .textstats import normalized


def char_trigrams(docs: DataFrame) -> DataFrame:
    """Explode each document into its overlapping character trigrams of
    NORMALIZED text (lowercase, whitespace-collapsed, trimmed —
    textstats.normalized, the same canonical form the dedup fingerprints
    key on). Documents shorter than 3 normalized chars contribute no
    rows. Output: ``(doc_id, tri)``, one row per occurrence.
    """
    norm = normalized()
    # NB 1: Spark's sequence(1, stop) DESCENDS when stop < 1
    # (sequence(1,0) is [1, 0], not empty) — short docs need the
    # explicit empty branch.
    # NB 2: the single-element-array transform is a LET BINDING:
    # referencing `norm` (a regexp expression) directly inside the
    # per-index lambda re-evaluates the regex ONCE PER TRIGRAM —
    # O(len^2) regex work per document, measured 6x slower at sf0.1;
    # binding it to the lambda variable `s` evaluates it once per row.
    tris = F.flatten(
        F.transform(
            F.array(norm),
            lambda s: F.when(
                F.length(s) >= 3,
                F.transform(
                    F.sequence(F.lit(1), F.length(s) - 2),
                    lambda i: F.substring(s, i, 3),
                ),
            ).otherwise(F.array().cast("array<string>")),
        )
    )
    return docs.select(
        F.col("doc_id"), F.explode(tris).alias("tri")
    )


def trigram_quality(docs: DataFrame) -> DataFrame:
    """Per-document integer quality statistics against the corpus' own
    trigram profile (self-scoring):

    ``n_tri``    total trigram occurrences in the doc (0 for docs under
                 3 normalized chars — such docs still appear, zeroed);
    ``n_rare``   occurrences whose corpus frequency is <= 2;
    ``df_mass``  exact BIGINT sum of corpus frequencies over the doc's
                 occurrences — df_mass/n_tri is the mean familiarity.

    ONE trigram explode pass feeds both the profile and the per-doc
    statistics. The (doc, tri) count table is the shared intermediate:
    the profile is its tri-marginal (sum of counts = occurrence counts
    across the corpus) and every per-doc statistic is a count-weighted
    sum over it. Exact integers throughout, at half the explode/aggregate work of profiling and
    scoring separately (the explode is the query's dominant stage: all
    trigram occurrences of the corpus). One broadcast join (the profile
    is charset-bounded) + one hash aggregate; the left join back to
    ``docs`` keeps empty docs.
    """
    occ_pc = (
        char_trigrams(docs)
        .groupBy("doc_id", "tri")
        .agg(F.count(F.lit(1)).alias("_c"))
        .localCheckpoint(eager=False)
    )
    profile = occ_pc.groupBy("tri").agg(F.sum("_c").alias("df"))
    scored = (
        occ_pc.join(F.broadcast(profile), "tri", "left")
        .withColumn("df", F.coalesce(F.col("df"), F.lit(0)))
        .groupBy("doc_id")
        .agg(
            F.sum("_c").alias("n_tri"),
            F.sum(
                F.when(F.col("df") <= 2, F.col("_c"))
                .otherwise(F.lit(0))
            ).alias("n_rare"),
            F.sum(F.col("df") * F.col("_c")).alias("df_mass"),
        )
    )
    return (
        docs.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tri", F.lit(0)).cast("bigint").alias("n_tri"),
            F.coalesce("n_rare", F.lit(0)).cast("bigint").alias("n_rare"),
            F.coalesce("df_mass", F.lit(0)).cast("bigint").alias(
                "df_mass"
            ),
        )
    )
