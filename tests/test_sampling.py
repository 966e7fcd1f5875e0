"""Sampling/split/mix: determinism under repartitioning (the property
DataFrame.sample lacks), rate concentration for the xxhash64 path,
disjoint+exhaustive splits, and domain-mix budget arithmetic."""

import numpy as np
import pandas as pd
import pytest

from wavelet_decomposition_spark.operators.sampling import (
    assign_splits,
    domain_mix,
    hash_bucket,
)


def _ids(spark, n=20_000):
    return spark.range(n).withColumnRenamed("id", "doc_id")


def _sample(df, rate, seed, method="xxhash64"):
    """The doc ids of the deterministic Bernoulli(rate) sample that
    ``hash_bucket`` gates."""
    return {r.doc_id for r in df.where(hash_bucket(seed, method) < rate).collect()}


@pytest.mark.parametrize("method", ["xxhash64", "lcg"])
def test_hash_sample_rate_and_determinism(spark, method):
    df = _ids(spark)
    a = _sample(df, 0.2, 7, method)
    # binomial(20000, 0.2): 5 sigma ~ 283
    assert abs(len(a) - 4000) < 300, len(a)
    # same rows regardless of partitioning
    assert _sample(df.repartition(17), 0.2, 7, method) == a
    # nested property: sample(0.1) is a subset of sample(0.2) at same seed
    assert _sample(df, 0.1, 7, method) <= a


def test_hash_sample_seed_independence(spark):
    df = _ids(spark, 10_000)
    a = _sample(df, 0.3, 1)
    b = _sample(df, 0.3, 2)
    overlap = len(a & b) / (len(a) * len(b) / 10_000)  # obs/expected
    assert 0.8 < overlap < 1.2, overlap


@pytest.mark.parametrize("method", ["xxhash64", "lcg"])
def test_assign_splits_disjoint_exhaustive(spark, method):
    df = _ids(spark)
    out = assign_splits(
        df, {"train": 0.8, "val": 0.1, "test": 0.1}, seed=3, method=method
    ).toPandas()
    assert len(out) == 20_000
    counts = out["split"].value_counts()
    assert set(counts.index) == {"train", "val", "test"}
    assert abs(counts["train"] - 16_000) < 600
    assert abs(counts["val"] - 2_000) < 400
    # stable under repartition
    out2 = assign_splits(
        spark.range(20_000).withColumnRenamed("id", "doc_id").repartition(13),
        {"train": 0.8, "val": 0.1, "test": 0.1},
        seed=3,
        method=method,
    ).toPandas()
    m = out.merge(out2, on="doc_id")
    assert (m["split_x"] == m["split_y"]).all()


def test_assign_splits_rejects_bad_weights(spark):
    with pytest.raises(ValueError):
        assign_splits(_ids(spark, 10), {"a": 0.5, "b": 0.4})


def test_domain_mix_budget_math(spark):
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": np.arange(6, dtype=np.int64),
                "source": ["a", "a", "a", "a", "b", "b"],
                # 4 tokens per doc ("w x y z" -> 4 words)
                "text": ["alpha beta gamma delta"] * 6,
            }
        )
    )
    out = (
        domain_mix(docs, budget_tokens=12)
        .toPandas()
        .set_index("source")
        .sort_index()
    )
    # a: 16 tokens, b: 8 tokens; uniform target 0.5 -> budget share 6 each
    assert out.loc["a", "n_tokens"] == 16
    assert out.loc["b", "n_tokens"] == 8
    assert out.loc["a", "sample_rate"] == pytest.approx(6 / 16, abs=1e-6)
    assert out.loc["b", "sample_rate"] == pytest.approx(0.75, abs=1e-6)
    # capped source: tiny b with a huge budget
    out2 = (
        domain_mix(docs, budget_tokens=100)
        .toPandas()
        .set_index("source")
    )
    assert out2.loc["b", "sample_rate"] == 1.0
    assert out2.loc["b", "expected_tokens"] == 8.0


def test_domain_mix_explicit_weights(spark):
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": np.arange(4, dtype=np.int64),
                "source": ["a", "a", "b", "b"],
                "text": ["one two"] * 4,
            }
        )
    )
    out = (
        domain_mix(docs, budget_tokens=4, weights={"a": 0.75, "b": 0.25})
        .toPandas()
        .set_index("source")
    )
    assert out.loc["a", "target_weight"] == 0.75
    assert out.loc["a", "sample_rate"] == pytest.approx(3 / 4, abs=1e-6)
    assert out.loc["b", "sample_rate"] == pytest.approx(1 / 4, abs=1e-6)
    with pytest.raises(ValueError):
        domain_mix(docs, budget_tokens=4, weights={"a": 0.9, "b": 0.2})


def test_weighted_sample_planted_dominance_and_determinism(spark):
    from wavelet_decomposition_spark.operators.sampling import (
        weighted_sample,
    )

    rows = [(i, 1.0) for i in range(200)] + [(1000, 1e12)]
    df = spark.createDataFrame(rows, "doc_id long, w double")
    s1 = weighted_sample(df, k=10, seed=7)
    s2 = weighted_sample(
        df.repartition(13), k=10, seed=7
    )
    ids1 = sorted(r.doc_id for r in s1.collect())
    ids2 = sorted(r.doc_id for r in s2.collect())
    assert ids1 == ids2 and len(ids1) == 10
    assert 1000 in ids1  # the 1e12-weight row always wins


def test_weighted_sample_seed_changes_draw(spark):
    from wavelet_decomposition_spark.operators.sampling import (
        weighted_sample,
    )

    df = spark.range(500).selectExpr("id AS doc_id", "1.0 AS w")
    a = {r.doc_id for r in
         weighted_sample(df, 20, seed=1).collect()}
    b = {r.doc_id for r in
         weighted_sample(df, 20, seed=2).collect()}
    assert a != b


def test_weighted_sample_excludes_nonpositive_and_validates_k(spark):
    import pytest

    from wavelet_decomposition_spark.operators.sampling import (
        weighted_sample,
    )

    df = spark.createDataFrame(
        [(1, 1.0), (2, 0.0), (3, -5.0), (4, None), (5, 2.0)],
        "doc_id long, w double",
    )
    got = sorted(
        r.doc_id for r in weighted_sample(df, 10).collect()
    )
    assert got == [1, 5]
    with pytest.raises(ValueError):
        weighted_sample(df, 0)


def test_weighted_sample_plan_is_take_ordered(spark):
    from wavelet_decomposition_spark.operators.sampling import (
        weighted_sample,
    )

    df = spark.range(1000).selectExpr("id AS doc_id", "1.0 AS w")
    plan = weighted_sample(df, 5)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "TakeOrderedAndProject" in plan  # top-k merge, no global sort


def test_weighted_sample_null_keys_excluded(spark):
    from wavelet_decomposition_spark.operators.sampling import (
        weighted_sample,
    )

    df = spark.createDataFrame(
        [(None, 5.0), (None, 5.0), (1, 1.0), (2, 1.0)],
        "doc_id long, w double",
    )
    got = sorted(
        r.doc_id for r in weighted_sample(df, 10).collect()
    )
    assert got == [1, 2]
