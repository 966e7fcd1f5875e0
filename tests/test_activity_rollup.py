import pandas as pd
from pyspark.sql import functions as F

from wavelet_decomposition_spark.io.transcripts import transcripts_df
from wavelet_decomposition_spark.operators import activity, gapfill, rollup


def _raw(spark, n=60, seed=42):
    return activity.activity_raw(transcripts_df(spark, n, seed=seed))


def test_activity_raw_counts_match_pandas_oracle(spark):
    tx = transcripts_df(spark, 30, seed=5)
    raw = activity.activity_raw(tx).toPandas()
    pdf = tx.toPandas()
    pdf["bucket_ts"] = pdf["ts"].dt.floor("s")
    oracle = (
        pdf.groupby(["conv_id", "bucket_ts"])
        .agg(
            turns=("turn_idx", "size"),
            chars=("text", lambda s: s.str.len().sum()),
            tool_calls=("tool", "count"),
        )
        .reset_index()
    )
    merged = raw.merge(oracle, on=["conv_id", "bucket_ts"], suffixes=("", "_o"))
    assert len(merged) == len(oracle) == len(raw)
    assert (merged["turns"] == merged["turns_o"]).all()
    assert (merged["chars"] == merged["chars_o"]).all()
    assert (merged["tool_calls"] == merged["tool_calls_o"]).all()


def test_tiers_equal_direct_aggregation(spark):
    raw = _raw(spark)
    tiers = rollup.build_tiers(raw)
    for tier in ("1m", "1h", "1d"):
        cascaded = tiers[tier]
        direct = rollup.rollup_once(raw, tier)  # straight from raw
        diff = cascaded.exceptAll(direct).count() + direct.exceptAll(cascaded).count()
        assert diff == 0, f"tier {tier} diverges from direct aggregation"


def test_salted_conversation_stats_match_plain(spark):
    tx = transcripts_df(spark, 40, seed=9)
    salted = activity.conversation_stats(tx, n_salts=8)
    plain = tx.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.sum(F.length("text")).alias("n_chars"),
        F.count("tool").alias("n_tool_calls"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
    )
    assert salted.exceptAll(plain).count() == 0
    assert plain.exceptAll(salted).count() == 0


def test_gapfill_zero_dense_grid(spark):
    raw = _raw(spark, n=10, seed=3)
    filled = gapfill.gapfill_zero(raw)
    pdf = filled.toPandas()
    for conv, g in pdf.groupby("conv_id"):
        ts = g["bucket_ts"].sort_values().reset_index(drop=True)
        assert (ts.diff().dropna() == pd.Timedelta(seconds=1)).all(), conv
    # zero-filled buckets exist and original sums preserved
    raw_pdf = raw.toPandas()
    assert pdf["turns"].sum() == raw_pdf["turns"].sum()
    assert len(pdf) >= len(raw_pdf)


def test_gapfill_locf_carries_forward(spark):
    raw = _raw(spark, n=5, seed=11)
    filled = gapfill.gapfill_locf(raw, ["chars"])
    assert filled.filter(F.col("chars").isNull()).count() == 0


def test_gapfill_interp_matches_pandas(spark):
    """Linear interpolation == pandas Series.interpolate(limit_area=
    'inside') on every group's dense grid; observed buckets pass through
    exactly; edges have no nulls because the grid spans [min, max]."""
    import numpy as np

    raw = _raw(spark, n=5, seed=11).withColumn(
        "gauge", F.col("chars").cast("double")
    )
    filled = (
        gapfill.gapfill_interp(raw, ["gauge"])
        .toPandas()
        .sort_values(["conv_id", "bucket_ts"])
    )
    raw_pdf = raw.toPandas()
    assert filled["gauge"].notna().all()
    for conv, g in filled.groupby("conv_id"):
        obs = (
            raw_pdf[raw_pdf.conv_id == conv]
            .set_index("bucket_ts")["gauge"]
            .sort_index()
        )
        grid = g.set_index("bucket_ts")["gauge"].sort_index()
        exp = (
            obs.reindex(grid.index)
            .interpolate(method="time", limit_area="inside")
        )
        np.testing.assert_allclose(grid.values, exp.values, rtol=1e-12)
        # observed points untouched
        np.testing.assert_allclose(
            grid.reindex(obs.index).values, obs.values, rtol=0
        )


import pytest


@pytest.mark.parametrize(
    "n,dpd,ndpd",
    [
        (50, 2, 5),   # divisible upsample (the reference's 48->64 shape)
        (50, 3, 4),   # NON-divisible: grid length must be ceil(n*ndpd/dpd)
        (31, 4, 7),   # non-divisible, odd everything
        (50, 7, 5),   # downsample with non-divisible grid
    ],
)
def test_resample_linear_relational_matches_np_interp(spark, n, dpd, ndpd):
    """P4 relational form == np.interp on the reference's positional grids
    (arange(0,dpy,1/dpd) -> arange(0,dpy,1/ndpd)), including the right-edge
    clamp (the target grid extends past the last source point) and the
    ceil-length grid when dpd does not divide n*ndpd (a truncating cast
    dropped the last output row — round-2 advisory)."""
    import numpy as np

    from wavelet_decomposition_spark.operators.resample import (
        resample_linear_relational,
    )

    rng = np.random.default_rng(7)
    y = rng.normal(size=n)
    df = spark.createDataFrame(
        [("g", int(i), float(v)) for i, v in enumerate(y)],
        "grp string, idx int, v double",
    )
    out = (
        resample_linear_relational(df, "grp", dpd, ndpd)
        .orderBy("idx")
        .toPandas()
    )
    # positional form of the reference grids (identical when n/dpd is an
    # integer, as in the reference's 365-day years; exact integer ceil for
    # the target length where float arange would be ill-defined)
    m = -(-n * ndpd // dpd)
    want = np.interp(np.arange(m) / ndpd, np.arange(n) / dpd, y)
    assert len(out) == m
    np.testing.assert_allclose(out["v"].to_numpy(), want, atol=1e-12)
