"""Mergeable sketch tiers (operators/sketch_tiers.py): KLL quantile + HLL
distinct sketches built per hour, merged to days WITHOUT re-reading raw.

KLL compaction is randomized (Datasketches), so cross-build equality is
never asserted — the pinned properties are the ones the algorithms actually
guarantee: exact stream-length conservation through any merge tree, the
epsilon rank band vs exact order statistics, HLL's rsd band vs exact
distinct, and partitioning independence OF THE GUARANTEES (1 vs 7 input
partitions both pass the same bands)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from wavelet_decomposition_spark.operators.sketch_tiers import (
    HLL_LG_K,
    hll_rsd,
    merge_sketch_tier,
    rank_band_columns,
    read_sketch_tier,
    sketch_tier,
)

PROBS = [0.5, 0.95, 0.99]
EPS = 0.05  # generous multiple of k=200's ~1.65% one-sigma rank error


def _fixture(spark, n=20_000, n_keys=3, n_parts=1, seed=7):
    rng = np.random.default_rng(seed)
    ts = pd.Timestamp("2024-03-01") + pd.to_timedelta(
        rng.integers(0, 3 * 86400, n), unit="s"
    )
    pdf = pd.DataFrame(
        {
            "k": rng.integers(0, n_keys, n).astype(str),
            "ts": ts,
            # lognormal: heavy tail so p99 is far from p50
            "v": np.exp(rng.normal(0, 1.5, n)),
            "uid": rng.integers(0, 800, n).astype(str),
        }
    )
    return spark.createDataFrame(pdf).repartition(n_parts), pdf


def _exact(pdf):
    g = pdf.assign(day=pdf["ts"].dt.floor("D"))
    out = []
    for (k, day), grp in g.groupby(["k", "day"]):
        row = {"k": k, "day": day, "n_exact": len(grp),
               "d_exact": grp["uid"].nunique()}
        for p in PROBS:
            lo = max(0.0, p - EPS)
            hi = min(1.0, p + EPS)
            tag = f"p{int(round(p * 100)):02d}"
            row[f"{tag}_lo"] = grp["v"].quantile(lo)
            row[f"{tag}_hi"] = grp["v"].quantile(hi)
        out.append(row)
    return pd.DataFrame(out)


def _daily_reads(spark, df):
    hourly = sketch_tier(df, ["k"], "v", "uid", "1h")
    daily = merge_sketch_tier(hourly, ["k"])
    return read_sketch_tier(daily, PROBS).toPandas()


@pytest.mark.parametrize("n_parts", [1, 7])
def test_merged_tier_meets_guarantees(spark, n_parts):
    df, pdf = _fixture(spark, n_parts=n_parts)
    got = _daily_reads(spark, df)
    exact = _exact(pdf)
    m = got.merge(
        exact,
        left_on=["k", got["bucket_ts"].dt.floor("D")],
        right_on=["k", "day"],
        validate="1:1",
    )
    assert len(m) == len(exact)
    # exactly-once conservation: the sketch's own n AND the stored count
    assert (m["kll_n"] == m["n_exact"]).all()
    assert (m["n_rows"] == m["n_exact"]).all()
    # KLL rank band (quantile values monotone in rank -> band check sound)
    for p in PROBS:
        tag = f"p{int(round(p * 100)):02d}"
        est = m[f"{tag}_est"]
        assert (est >= m[f"{tag}_lo"]).all(), tag
        assert (est <= m[f"{tag}_hi"]).all(), tag
    # HLL rsd band
    tol = np.maximum(5 * hll_rsd(HLL_LG_K) * m["d_exact"], 2)
    assert (np.abs(m["distinct_est"] - m["d_exact"]) <= tol).all()


def test_merge_composes_across_levels(spark):
    """1h -> 1d merged-of-merges conserves n exactly vs a direct 1d sketch
    built from raw, and both land in the same rank band — the merge-tree
    shape must not matter."""
    df, pdf = _fixture(spark, n=8_000, n_keys=1)
    merged = _daily_reads(spark, df)
    direct = read_sketch_tier(
        sketch_tier(df, ["k"], "v", "uid", "1d"), PROBS
    ).toPandas()
    m = merged.merge(direct, on=["k", "bucket_ts"], suffixes=("_m", "_d"))
    assert len(m) == len(direct) == len(merged)
    assert (m["kll_n_m"] == m["kll_n_d"]).all()
    exact = _exact(pdf)
    for suffix in ("_m", "_d"):
        j = m.merge(
            exact, left_on=["k", m["bucket_ts"].dt.floor("D")],
            right_on=["k", "day"],
        )
        for p in PROBS:
            tag = f"p{int(round(p * 100)):02d}"
            est = j[f"{tag}_est{suffix}"]
            assert (est >= j[f"{tag}_lo"]).all()
            assert (est <= j[f"{tag}_hi"]).all()


def test_sliding_distinct_sketch_matches_exact_band(spark):
    """Range-frame HLL union vs a brute trailing-window exact distinct,
    including GAP HOURS (the frame is value-defined, so absent hours must
    simply be absent from the union — no grid fill)."""
    from wavelet_decomposition_spark.operators.sketch_tiers import (
        sliding_distinct_sketch,
    )

    rng = np.random.default_rng(13)
    n = 4_000
    # leave hours 10-13 empty to exercise the gap behavior
    hours = rng.choice([h for h in range(48) if h not in (10, 11, 12, 13)], n)
    pdf = pd.DataFrame(
        {
            "k": "a",
            "ts": pd.Timestamp("2024-05-01")
            + pd.to_timedelta(hours * 3600 + rng.integers(0, 3600, n), "s"),
            "uid": rng.integers(0, 300, n).astype(str),
        }
    )
    df = spark.createDataFrame(pdf).repartition(5)
    got = sliding_distinct_sketch(
        df, ["k"], "uid", window_hours=6
    ).toPandas()
    assert len(got) == pdf["ts"].dt.floor("h").nunique()
    g = pdf.assign(hr=pdf["ts"].dt.floor("h"))
    for row in got.itertuples():
        lo = row.bucket_ts - pd.Timedelta(hours=5)
        exact = g[(g["hr"] >= lo) & (g["hr"] <= row.bucket_ts)][
            "uid"
        ].nunique()
        tol = max(5 * hll_rsd(HLL_LG_K) * exact, 2)
        assert abs(row.distinct_est - exact) <= tol, (row.bucket_ts, exact)


def test_plan_is_pure_jvm(spark):
    """The cascade must be two hash aggregates with zero Python stages and
    zero joins — sketch bytes are the only thing that rides the exchanges."""
    df, _ = _fixture(spark, n=2_000)
    daily = read_sketch_tier(
        merge_sketch_tier(
            sketch_tier(df, ["k"], "v", "uid", "1h"), ["k"]
        ),
        PROBS,
    )
    daily.collect()
    plan = daily._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "FlatMapGroupsInPandas" not in plan
    assert "Join" not in plan
