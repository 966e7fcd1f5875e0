"""Decontamination: planted-overlap semantics, hashed==raw-string join
equivalence, and the broadcast plan shape (no corpus-side shuffle before
the hit aggregate)."""

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from wavelet_decomposition_spark.operators.decontam import decontaminate


def _tables(spark):
    bench = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": np.int64([1000, 1001]),
                "text": [
                    "the quick brown fox jumps over the lazy dog",
                    "pack my box with five dozen liquor jugs",
                ],
            }
        )
    )
    corpus = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": np.int64([0, 1, 2, 3]),
                "text": [
                    # verbatim benchmark span -> contaminated
                    "he said the quick brown fox jumps over whatever",
                    # disjoint vocabulary -> clean
                    "zebra yak xylophone walrus vulture",
                    # only a 2-gram in common ("brown fox") -> clean at n=3
                    "one brown fox walked home",
                    # two distinct overlapping 3-grams
                    "the quick brown fox appeared; the quick brown thing",
                ],
            }
        )
    )
    return corpus, bench


def test_decontaminate_planted(spark):
    corpus, bench = _tables(spark)
    out = (
        decontaminate(corpus, bench)
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    assert bool(out.loc[0, "contaminated"])
    assert not bool(out.loc[1, "contaminated"])
    assert not bool(out.loc[2, "contaminated"])
    # doc 3 contains "the quick brown" and "quick brown fox"
    assert out.loc[3, "n_overlap"] == 2
    # doc 0 shares: the quick brown / quick brown fox / brown fox jumps /
    # fox jumps over
    assert out.loc[0, "n_overlap"] == 4


def test_decontaminate_hash_equals_raw(spark):
    corpus, bench = _tables(spark)
    hashed = decontaminate(corpus, bench, on_hash=True).toPandas()
    raw = decontaminate(corpus, bench, on_hash=False).toPandas()
    merged = hashed.merge(raw, on="doc_id", suffixes=("_h", "_r"))
    assert (merged["n_overlap_h"] == merged["n_overlap_r"]).all()


def test_decontaminate_plan_broadcasts_benchmark(spark):
    corpus, bench = _tables(spark)
    plan = (
        decontaminate(corpus, bench)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
