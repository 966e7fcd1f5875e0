"""Count-min-sketch heavy hitters (operators/cms.py): exactness bands,
the provable superset/no-undercount guarantees, partitioning
independence, and the bounded plan shape."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from wavelet_decomposition_spark.operators.cms import cms_heavy_hitters

SF = "/root/testdata/sf0.001"


def _skewed_pdf(n: int = 30_000, seed: int = 7) -> pd.DataFrame:
    """Deterministic zipf-ish keys: key 'hot' ~18%, 'warm' ~7%, a long
    uniform tail of 500 cold keys."""
    rng = np.random.RandomState(seed)
    tail = rng.randint(0, 500, size=n).astype(str)
    r = rng.rand(n)
    keys = np.where(r < 0.18, "hot", np.where(r < 0.25, "warm", tail))
    return pd.DataFrame({"k": keys})


def test_superset_no_undercount_and_band(spark):
    pdf = _skewed_pdf()
    exact = pdf["k"].value_counts()
    n = len(pdf)
    support = 0.05
    true_hot = set(exact[exact >= support * n].index)
    assert true_hot == {"hot", "warm"}  # fixture sanity

    out = cms_heavy_hitters(
        spark.createDataFrame(pdf), "k", support=support, width=8192
    ).toPandas()
    got = dict(zip(out["key"], out["estimate"]))
    # superset of the true hot set
    assert true_hot <= set(got)
    # no undercount, and overcount bounded by a generous collision band
    for k, est in got.items():
        assert est >= exact[k]
        assert est <= exact[k] + 5 * n / 8192
    # n_total exact
    assert (out["n_total"] == n).all()


@pytest.mark.parametrize("parts", [1, 7, 32])
def test_hot_set_under_any_partitioning(spark, parts):
    pdf = _skewed_pdf()
    df = spark.createDataFrame(pdf).repartition(parts)
    out = cms_heavy_hitters(df, "k", support=0.05).toPandas()
    assert {"hot", "warm"} <= set(out["key"])
    # estimates are partition-independent (CMS merge is a sum; the
    # pigeonhole candidate guarantee holds under any layout)
    est = out.set_index("key")["estimate"]
    exact = pdf["k"].value_counts()
    assert est["hot"] >= exact["hot"] and est["warm"] >= exact["warm"]


def test_nulls_excluded_and_validation(spark):
    pdf = pd.DataFrame({"k": ["a"] * 80 + [None] * 120 + ["b"] * 10})
    out = cms_heavy_hitters(
        spark.createDataFrame(pdf), "k", support=0.5
    ).toPandas()
    # support is a share of NON-NULL rows: a = 80/90 >> 0.5, b = 10/90 < 0.5
    assert set(out["key"]) == {"a"}
    assert (out["n_total"] == 90).all()
    with pytest.raises(ValueError):
        cms_heavy_hitters(spark.createDataFrame(pdf), "k", support=0.0)


def test_empty_input(spark):
    df = spark.createDataFrame(pd.DataFrame({"k": ["x"]})).filter(F.lit(False))
    out = cms_heavy_hitters(df, "k", support=0.1)
    assert out.count() == 0
    assert out.columns == ["key", "estimate", "n_total"]


def test_plan_is_one_arrow_pass_bounded_shuffles(spark):
    """The 100-TB contract: exactly ONE Arrow pass over the input; every
    exchange downstream of it moves sketch cells / candidates / counters
    (bounded by partitions x (d*w + k)), never input rows; the only
    nested loop is the 1-row n_total broadcast."""
    df = spark.read.parquet(f"{SF}/events.parquet")
    plan = (
        cms_heavy_hitters(df, "user_id", support=0.01)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the partials are a local checkpoint, so all three downstream branches
    # (cells, candidates, n_total) read it: the input scan + Arrow pass
    # execute ONCE, in the checkpoint's lineage, and no branch replays them
    assert plan.count("Scan ExistingRDD") == 3
    assert "MapInPandas" not in plan and "FileScan" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1
    # estimation join on cell ids is an equi-join, not a BNL
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    )
