"""Time-series analytics operators vs independent numpy/pandas oracles
(the driver's DuckDB oracles check the same semantics a third way)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from wavelet_decomposition_spark.operators.tsfeatures import (
    acf,
    cusum_changepoint,
    ewma,
    m4_downsample,
    robust_anomalies,
    rolling_stats,
    seasonal_decompose,
)


@pytest.fixture(scope="module")
def series_pdf():
    rng = np.random.default_rng(11)
    frames = []
    for g in ("a", "b", "c"):
        n = int(rng.integers(120, 200))
        ts = pd.date_range("2024-03-01", periods=n, freq="h")
        # trend + daily season + noise, plus a few planted outliers
        v = (
            np.linspace(0, 5, n)
            + 3 * np.sin(2 * np.pi * np.arange(n) / 24)
            + rng.normal(0, 0.3, n)
        )
        v[n // 3] += 40.0
        frames.append(
            pd.DataFrame({"series_id": g, "bucket_ts": ts, "v": v})
        )
    return pd.concat(frames, ignore_index=True)


@pytest.fixture(scope="module")
def series_df(spark, series_pdf):
    return spark.createDataFrame(series_pdf).repartition(7)


def _per_group(pdf):
    for g, gd in pdf.groupby("series_id"):
        yield g, gd.sort_values("bucket_ts").reset_index(drop=True)


def test_rolling_matches_pandas(series_df, series_pdf):
    out = (
        rolling_stats(series_df)
        .toPandas()
        .sort_values(["series_id", "bucket_ts"])
        .reset_index(drop=True)
    )
    for g, gd in _per_group(series_pdf):
        got = out[out.series_id == g].reset_index(drop=True)
        r = gd["v"].rolling(24, min_periods=1)
        np.testing.assert_allclose(got["roll_mean"], r.mean(), rtol=1e-12)
        exp_std = gd["v"].rolling(24, min_periods=2).std()
        np.testing.assert_allclose(
            got["roll_std"], exp_std, rtol=1e-9, equal_nan=True
        )
        np.testing.assert_allclose(got["roll_min"], r.min(), rtol=0)
        np.testing.assert_allclose(got["roll_max"], r.max(), rtol=0)
        assert (got["roll_n"] == np.minimum(np.arange(len(gd)) + 1, 24)).all()


def test_ewma_matches_recursion(series_df, series_pdf):
    alpha = 0.3
    out = (
        ewma(series_df, alpha=alpha)
        .toPandas()
        .sort_values(["series_id", "bucket_ts"])
        .reset_index(drop=True)
    )
    for g, gd in _per_group(series_pdf):
        got = out[out.series_id == g]["ewma"].to_numpy()
        s = np.empty(len(gd))
        s[0] = gd["v"].iloc[0]
        for i in range(1, len(gd)):
            s[i] = (1 - alpha) * s[i - 1] + alpha * gd["v"].iloc[i]
        np.testing.assert_allclose(got, s, rtol=1e-12)


def test_acf_matches_numpy(series_df, series_pdf):
    out = acf(series_df, max_lag=30).toPandas()
    for g, gd in _per_group(series_pdf):
        x = gd["v"].to_numpy()
        for lag in (1, 12, 24, 30):
            row = out[(out.series_id == g) & (out.lag == lag)]
            exp = np.corrcoef(x[lag:], x[:-lag])[0, 1]
            assert row["n_pairs"].iloc[0] == len(x) - lag
            np.testing.assert_allclose(
                row["acf"].iloc[0], exp, rtol=1e-9
            )
        # daily seasonality must dominate: acf(24) > acf(12)
        a = out[out.series_id == g].set_index("lag")["acf"]
        assert a[24] > a[12]


def test_m4_matches_pandas(series_df, series_pdf):
    out = m4_downsample(
        series_df, bucket="1 day"
    ).toPandas()
    for g, gd in _per_group(series_pdf):
        gd = gd.assign(day=gd["bucket_ts"].dt.floor("D"))
        exp = gd.groupby("day")["v"].agg(["first", "last", "min", "max", "size"])
        got = (
            out[out.series_id == g]
            .set_index("bucket_start")
            .sort_index()
        )
        np.testing.assert_allclose(got["first_v"], exp["first"], rtol=0)
        np.testing.assert_allclose(got["last_v"], exp["last"], rtol=0)
        np.testing.assert_allclose(got["min_v"], exp["min"], rtol=0)
        np.testing.assert_allclose(got["max_v"], exp["max"], rtol=0)
        assert (got["n_points"].to_numpy() == exp["size"].to_numpy()).all()


def test_m4_last_tie_break_is_deterministic(spark):
    # two points share the max timestamp within the bucket: last_v must be
    # the larger value (struct (ts, v) ordering), independent of input order
    from datetime import datetime

    rows = [
        ("s", datetime(2024, 1, 1, 0, 10), 5.0),
        ("s", datetime(2024, 1, 1, 0, 50), 2.0),
        ("s", datetime(2024, 1, 1, 0, 50), 7.0),
    ]
    for perm in ([0, 1, 2], [2, 1, 0], [1, 2, 0]):
        df = spark.createDataFrame(
            [rows[i] for i in perm], "series_id string, bucket_ts timestamp, v double"
        ).repartition(3)
        got = m4_downsample(df, bucket="1 hour").collect()[0]
        assert got["last_v"] == 7.0 and got["first_v"] == 5.0


def test_robust_anomalies_flags_planted_outliers(series_df, series_pdf):
    out = robust_anomalies(series_df).toPandas()
    for g, gd in _per_group(series_pdf):
        med = np.median(gd["v"])
        mad = np.median(np.abs(gd["v"] - med))
        got = (
            out[out.series_id == g]
            .sort_values("bucket_ts")
            .reset_index(drop=True)
        )
        exp_z = 0.6745 * (gd["v"] - med) / mad
        np.testing.assert_allclose(got["robust_z"], exp_z, rtol=1e-9)
        # the planted +40 spike is the argmax and must be flagged
        assert got["is_anomaly"].iloc[int(np.argmax(gd["v"].to_numpy()))]


def test_cusum_finds_planted_level_shift(spark):
    rng = np.random.default_rng(5)
    n, cp = 300, 210
    v = rng.normal(0, 1, n)
    v[cp:] += 3.0
    pdf = pd.DataFrame(
        {
            "series_id": "s",
            "bucket_ts": pd.date_range("2024-01-01", periods=n, freq="h"),
            "v": v,
        }
    )
    out = cusum_changepoint(
        spark.createDataFrame(pdf).repartition(4)
    ).collect()[0]
    got_idx = pdf[pdf.bucket_ts == out["cp_ts"]].index[0]
    # numpy oracle: argmax |cumsum(x - mean)|
    s = np.cumsum(v - v.mean())
    assert got_idx == int(np.argmax(np.abs(s)))
    assert abs(got_idx - (cp - 1)) <= 3
    assert out["cusum_stat"] > 1.36  # decisive at 5% KS level
    assert out["n"] == n


def test_seasonal_decompose_identities(series_df, series_pdf):
    period = 24
    out = (
        seasonal_decompose(series_df, period=period)
        .toPandas()
        .sort_values(["series_id", "bucket_ts"])
        .reset_index(drop=True)
    )
    for g, gd in _per_group(series_pdf):
        got = out[out.series_id == g].reset_index(drop=True)
        # additive identity wherever trend is defined
        inner = got.dropna(subset=["trend"])
        np.testing.assert_allclose(
            inner["v"],
            inner["trend"] + inner["seasonal"] + inner["residual"],
            rtol=1e-12,
        )
        # trend null exactly at the half-window edges
        half = period // 2
        assert got["trend"].isna().to_numpy()[:half].all()
        assert got["trend"].isna().to_numpy()[-half:].all()
        assert got["trend"].notna().to_numpy()[half:-half].all()
        # seasonal is per-phase constant and zero-mean across phases
        per_phase = got.groupby("phase")["seasonal"].nunique()
        assert (per_phase == 1).all()
        np.testing.assert_allclose(
            got.groupby("phase")["seasonal"].first().sum(), 0, atol=1e-9
        )
        # the planted 24h sine must be captured: seasonal amplitude >= ~3
        # (no tight upper bound — the planted outlier spike leaks ~+2
        # into its own phase's mean, which is correct behavior)
        amp = got.groupby("phase")["seasonal"].first()
        assert amp.max() > 2.0 and amp.min() < -2.0


def test_rolling_plan_single_exchange(spark, series_pdf):
    df = spark.createDataFrame(series_pdf)  # no pre-repartition noise
    plan = rolling_stats(df)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_brown_les_matches_recursion(series_df, series_pdf):
    from wavelet_decomposition_spark.operators.tsfeatures import brown_les

    alpha = 0.25
    out = (
        brown_les(series_df, alpha=alpha)
        .toPandas()
        .sort_values(["series_id", "bucket_ts"])
        .reset_index(drop=True)
    )
    for g, gd in _per_group(series_pdf):
        got = out[out.series_id == g].reset_index(drop=True)
        x = gd["v"].to_numpy()
        s1 = np.empty(len(x))
        s2 = np.empty(len(x))
        s1[0] = s2[0] = x[0]
        for i in range(1, len(x)):
            s1[i] = (1 - alpha) * s1[i - 1] + alpha * x[i]
            s2[i] = (1 - alpha) * s2[i - 1] + alpha * s1[i]
        level = 2.0 * s1 - s2
        trend = alpha / (1 - alpha) * (s1 - s2)
        np.testing.assert_allclose(got["level"], level, rtol=1e-12)
        np.testing.assert_allclose(got["trend"], trend, rtol=1e-9)
        np.testing.assert_allclose(
            got["forecast"], level + trend, rtol=1e-12
        )


def test_brown_les_tracks_linear_trend(spark):
    """On a noise-free line the one-step forecast must converge to the
    next point (textbook property separating Brown from plain EWMA,
    which lags a trend forever)."""
    from wavelet_decomposition_spark.operators.tsfeatures import brown_les

    n = 200
    pdf = pd.DataFrame(
        {
            "series_id": "t",
            "bucket_ts": pd.date_range("2024-01-01", periods=n, freq="h"),
            "v": 5.0 + 2.0 * np.arange(n),
        }
    )
    out = (
        brown_les(spark.createDataFrame(pdf), alpha=0.3)
        .toPandas()
        .sort_values("bucket_ts")
        .reset_index(drop=True)
    )
    # forecast at t predicts v_{t+1} = 5 + 2(t+1); late rows converged
    err = np.abs(
        out["forecast"].to_numpy()[:-1] - out["v"].to_numpy()[1:]
    )
    assert err[-20:].max() < 1e-6


def test_cross_corr_matches_numpy(series_df, series_pdf):
    from wavelet_decomposition_spark.operators.tsfeatures import cross_corr

    out = cross_corr(
        series_df, id_a="a", id_b="b", max_lag=5
    ).toPandas().set_index("lag")
    a = next(gd for g, gd in _per_group(series_pdf) if g == "a")["v"].to_numpy()
    b = next(gd for g, gd in _per_group(series_pdf) if g == "b")["v"].to_numpy()
    for lag in (-5, -1, 0, 2, 5):
        # pairs (a_t, b_{t-lag}) over valid t in both index ranges
        ai, bi = [], []
        for t in range(len(a)):
            j = t - lag
            if 0 <= j < len(b):
                ai.append(a[t])
                bi.append(b[j])
        exp = np.corrcoef(ai, bi)[0, 1]
        assert out.loc[lag, "n_pairs"] == len(ai)
        np.testing.assert_allclose(out.loc[lag, "xcorr"], exp, rtol=1e-9)


def test_cross_corr_detects_planted_shift(spark):
    """b = a shifted forward by 3 buckets (b lags a): the xcorr peak must
    sit at lag = -3 (a_t best matches b_{t+3})."""
    from wavelet_decomposition_spark.operators.tsfeatures import cross_corr

    rng = np.random.default_rng(4)
    n = 400
    sig = rng.normal(size=n + 3)
    frames = []
    for sid, v in (("a", sig[3:]), ("b", sig[:-3])):
        frames.append(
            pd.DataFrame(
                {
                    "series_id": sid,
                    "bucket_ts": pd.date_range(
                        "2024-01-01", periods=n, freq="h"
                    ),
                    "v": v,
                }
            )
        )
    out = cross_corr(
        spark.createDataFrame(pd.concat(frames)),
        id_a="a",
        id_b="b",
        max_lag=5,
    ).toPandas()
    peak = out.loc[out.xcorr.idxmax(), "lag"]
    assert peak == -3


def test_lttb_greedy_optimality(series_df, series_pdf):
    """Sequential re-verification of the LTTB greedy from the OUTPUT: for
    each interior bucket, the selected point must (a) lie in its bucket
    and (b) maximize the triangle area against the previously selected
    point and the next bucket's centroid — checks every argmax step
    without re-implementing the selection."""
    from wavelet_decomposition_spark.operators.tsfeatures import (
        lttb_downsample,
    )

    n_out = 40
    out = (
        lttb_downsample(series_df, n_out=n_out)
        .toPandas()
        .sort_values(["series_id", "bucket_ts"])
    )
    for g, gd in _per_group(series_pdf):
        got = out[out.series_id == g].reset_index(drop=True)
        n = len(gd)
        assert len(got) == min(n_out, n)
        t = gd["bucket_ts"].astype("int64").to_numpy().astype(float)
        v = gd["v"].to_numpy()
        sel = (
            gd.reset_index()
            .merge(got, on="bucket_ts")["index"]
            .to_numpy()
        )
        assert sel[0] == 0 and sel[-1] == n - 1
        edges = np.linspace(1, n - 1, n_out - 1).astype(np.int64)
        a = 0
        for k in range(n_out - 2):
            lo, hi = edges[k], edges[k + 1]
            nlo = edges[k + 1]
            nhi = edges[k + 2] if k + 2 < len(edges) else n
            cx, cy = t[nlo:nhi].mean(), v[nlo:nhi].mean()
            area = np.abs(
                (t[a] - cx) * (v[lo:hi] - v[a])
                - (t[a] - t[lo:hi]) * (cy - v[a])
            )
            chosen = sel[k + 1]
            assert lo <= chosen < hi
            np.testing.assert_allclose(
                area[chosen - lo], area.max(), rtol=1e-12
            )
            a = chosen


def test_lttb_short_series_passthrough(spark):
    from wavelet_decomposition_spark.operators.tsfeatures import (
        lttb_downsample,
    )

    pdf = pd.DataFrame(
        {
            "series_id": "s",
            "bucket_ts": pd.date_range("2024-01-01", periods=5, freq="h"),
            "v": [1.0, 2.0, 3.0, 2.0, 1.0],
        }
    )
    out = lttb_downsample(spark.createDataFrame(pdf), n_out=10).toPandas()
    assert len(out) == 5  # n <= n_out passes through untouched
    with pytest.raises(ValueError, match="n_out"):
        lttb_downsample(spark.createDataFrame(pdf), n_out=2)


def test_rolling_median_matches_pandas(series_df, series_pdf):
    from wavelet_decomposition_spark.operators.tsfeatures import (
        rolling_median,
    )

    out = (
        rolling_median(series_df)
        .toPandas()
        .sort_values(["series_id", "bucket_ts"])
        .reset_index(drop=True)
    )
    for g, gd in _per_group(series_pdf):
        got = out[out.series_id == g].reset_index(drop=True)
        exp = gd["v"].rolling(24, min_periods=1).median()
        np.testing.assert_allclose(got["roll_median"], exp, rtol=1e-12)


def test_theil_sen_matches_numpy_and_resists_outliers(spark):
    from wavelet_decomposition_spark.operators.tsfeatures import theil_sen

    rng = np.random.default_rng(5)
    n = 120
    ts = pd.date_range("2024-01-01", periods=n, freq="h")
    v = 3.0 + 0.5 * np.arange(n) + rng.normal(0, 0.1, n)
    v_out = v.copy()
    v_out[rng.choice(n, 20, replace=False)] += 500.0  # 17% corrupted
    pdf = pd.concat(
        [
            pd.DataFrame({"series_id": "clean", "bucket_ts": ts, "v": v}),
            pd.DataFrame({"series_id": "dirty", "bucket_ts": ts, "v": v_out}),
        ]
    )
    out = (
        theil_sen(spark.createDataFrame(pdf))
        .toPandas()
        .set_index("series_id")
    )
    # numpy oracle: median of all pairwise slopes
    i, j = np.triu_indices(n, k=1)
    exp = np.median((v[j] - v[i]) / (j - i))
    np.testing.assert_allclose(
        out.loc["clean", "slope_per_unit"], exp, rtol=1e-12
    )
    assert out.loc["clean", "n_pairs"] == n * (n - 1) // 2
    # robustness: 17% gross corruption moves the slope < 5%
    assert abs(out.loc["dirty", "slope_per_unit"] - 0.5) < 0.025


def test_strength_features_separate_trend_from_seasonality(spark):
    """Wang-Hyndman strengths (the _q_ts_strengths formulas) on planted
    series: a pure line scores trend~1/seasonal~0; a pure daily sine
    scores seasonal~1/trend~0 — computed through the same
    seasonal_decompose + variance-ratio pipeline the driver query uses."""
    from pyspark.sql import functions as F

    from wavelet_decomposition_spark.operators.tsfeatures import (
        seasonal_decompose,
    )

    rng = np.random.default_rng(2)
    n = 240
    ts = pd.date_range("2024-01-01", periods=n, freq="h")
    noise = rng.normal(0, 0.05, n)
    frames = [
        pd.DataFrame(
            {"series_id": "line", "bucket_ts": ts,
             "v": 1.0 * np.arange(n) + noise}
        ),
        pd.DataFrame(
            {"series_id": "sine", "bucket_ts": ts,
             "v": 10 * np.sin(2 * np.pi * np.arange(n) / 24) + noise}
        ),
    ]
    dec = seasonal_decompose(
        spark.createDataFrame(pd.concat(frames)), period=24
    )
    v, t, s = F.col("v"), F.col("trend"), F.col("seasonal")
    out = (
        dec.where(t.isNotNull())
        .groupBy("series_id")
        .agg(
            F.var_samp(v - t - s).alias("vr"),
            F.var_samp(v - s).alias("vdeseas"),
            F.var_samp(v - t).alias("vdetrend"),
        )
        .selectExpr(
            "series_id",
            "greatest(0.0, 1 - vr / vdeseas) AS trend_strength",
            "greatest(0.0, 1 - vr / vdetrend) AS seasonal_strength",
        )
        .toPandas()
        .set_index("series_id")
    )
    assert out.loc["line", "trend_strength"] > 0.99
    assert out.loc["line", "seasonal_strength"] < 0.2
    assert out.loc["sine", "seasonal_strength"] > 0.99
    assert out.loc["sine", "trend_strength"] < 0.2


def test_period_detector_prefers_fundamental_over_harmonic(spark):
    """The ts_period detection rule on a genuine 17-bucket cycle: a plain
    ACF argmax FAILS here — a sine's ACF peaks equally at every multiple
    of the period and measured acf(34)=0.9802 > acf(17)=0.9789 under this
    seed's noise — so the rule (smallest lag reaching 95% of the max)
    must return 17, not 34."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    rng = np.random.default_rng(8)
    n = 500
    pdf = pd.DataFrame(
        {
            "series_id": "p17",
            "bucket_ts": pd.date_range("2024-01-01", periods=n, freq="h"),
            "v": 5 * np.sin(2 * np.pi * np.arange(n) / 17)
            + rng.normal(0, 0.5, n),
        }
    )
    a = acf(spark.createDataFrame(pdf), max_lag=48).where(
        F.col("lag") >= 2
    ).select("series_id", "lag", F.round("acf", 6).alias("acf_r"))
    ws = Window.partitionBy("series_id")
    mx = F.max("acf_r").over(ws)
    cand = a.withColumn("_t", F.when(mx > 0, mx * 0.95).otherwise(mx)).where(
        F.col("acf_r") >= F.col("_t")
    )
    w = Window.partitionBy("series_id").orderBy(F.col("lag").asc())
    top = (
        cand.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .collect()[0]
    )
    assert top["lag"] == 17
    # and the naive argmax really does pick the harmonic (the trap)
    naive = a.orderBy(F.col("acf_r").desc(), F.col("lag").asc()).first()
    assert naive["lag"] == 34


def test_m4_first_tie_break_is_deterministic(spark):
    # two points share the EARLIEST timestamp in the bucket: first_v must
    # be the smaller value (struct (ts, v) min ordering), independent of
    # input order — pre-fix min_by(v, t) left it partitioning-dependent
    # (round-4 advisory)
    from datetime import datetime

    rows = [
        ("s", datetime(2024, 1, 1, 0, 10), 9.0),
        ("s", datetime(2024, 1, 1, 0, 10), 3.0),
        ("s", datetime(2024, 1, 1, 0, 40), 4.0),
    ]
    for perm in ([0, 1, 2], [2, 1, 0], [1, 2, 0]):
        df = spark.createDataFrame(
            [rows[i] for i in perm],
            "series_id string, bucket_ts timestamp, v double",
        ).repartition(3)
        got = m4_downsample(df, bucket="1 hour").collect()[0]
        assert got["first_v"] == 3.0 and got["last_v"] == 4.0


def _hw_oracle(xs, m=24, a=0.3, b=0.05, g=0.2, H=24):
    """Third, index-explicit Holt-Winters reference (full s[t] array,
    no ring buffer, no shifting list)."""
    xs = np.asarray(xs, float)
    T = len(xs)
    s = np.empty(T)
    lvl = xs[:m].mean()
    tr = (xs[m : 2 * m].mean() - lvl) / m
    s[:m] = xs[:m] - lvl
    sse = 0.0
    for t in range(m, T):
        e = xs[t] - (lvl + tr + s[t - m])
        sse += e * e
        nl = a * (xs[t] - s[t - m]) + (1 - a) * (lvl + tr)
        tr = b * (nl - lvl) + (1 - b) * tr
        s[t] = g * (xs[t] - nl) + (1 - g) * s[t - m]
        lvl = nl
    fc = np.array(
        [lvl + h * tr + s[T + h - 1 - m] for h in range(1, H + 1)]
    )
    return lvl, tr, sse, fc


def test_holt_winters_matches_independent_oracle(series_df, series_pdf):
    from wavelet_decomposition_spark.operators.tsfeatures import (
        holt_winters,
    )

    out = holt_winters(series_df, horizon=24).toPandas()
    assert out.dual_ok.all()
    for gname, gd in _per_group(series_pdf):
        lvl, tr, sse, fc = _hw_oracle(gd.v.to_numpy())
        got = out[out.series_id == gname].sort_values("h")
        assert len(got) == 24
        assert np.allclose(got.level.iloc[0], lvl, rtol=1e-9)
        assert np.allclose(got.trend.iloc[0], tr, rtol=1e-9)
        assert np.allclose(got.sse.iloc[0], sse, rtol=1e-9)
        assert np.allclose(got.forecast.to_numpy(), fc, rtol=1e-9)
        assert (got.n == len(gd)).all()


def test_holt_winters_exact_periodic_is_exact(spark):
    """An exactly periodic, trend-free series fits with ~zero one-step
    error under the classical seeding, so the forecast IS the next
    cycle — the identity the driver's planted gate rides on."""
    from wavelet_decomposition_spark.operators.tsfeatures import (
        holt_winters,
    )

    pat = ((np.arange(24) * 37) % 101).astype(float)
    xs = np.tile(pat, 4)  # T = 96
    pdf = pd.DataFrame(
        {
            "series_id": "p",
            "bucket_ts": pd.date_range("2024-01-01", periods=96, freq="h"),
            "v": xs,
        }
    )
    out = (
        holt_winters(spark.createDataFrame(pdf), horizon=24)
        .toPandas()
        .sort_values("h")
    )
    assert len(out) == 24
    assert out.dual_ok.all()
    assert (out.sse < 1e-12).all()
    assert np.allclose(np.abs(out.trend), 0.0, atol=1e-12)
    # T % 24 == 0, so forecast h lands on phase (h-1) % 24
    assert np.allclose(out.forecast.to_numpy(), pat, atol=1e-9)


def test_holt_winters_shift_equivariance(spark):
    """Additive HW is equivariant under a constant shift: every forecast
    of x + C is the forecast of x plus C (level absorbs the shift;
    season and trend are differences and cancel it)."""
    from wavelet_decomposition_spark.operators.tsfeatures import (
        holt_winters,
    )

    rng = np.random.default_rng(23)
    xs = rng.normal(50, 10, 120)
    ts = pd.date_range("2024-01-01", periods=120, freq="h")
    base = pd.DataFrame({"series_id": "x", "bucket_ts": ts, "v": xs})
    shifted = pd.DataFrame(
        {"series_id": "x", "bucket_ts": ts, "v": xs + 1000.0}
    )
    f0 = (
        holt_winters(spark.createDataFrame(base))
        .toPandas()
        .sort_values("h")
        .forecast.to_numpy()
    )
    f1 = (
        holt_winters(spark.createDataFrame(shifted))
        .toPandas()
        .sort_values("h")
        .forecast.to_numpy()
    )
    assert np.allclose(f1, f0 + 1000.0, rtol=0, atol=1e-7)


def test_holt_winters_short_series_dropped(spark):
    from wavelet_decomposition_spark.operators.tsfeatures import (
        holt_winters,
    )

    pdf = pd.DataFrame(
        {
            "series_id": "s",
            "bucket_ts": pd.date_range("2024-01-01", periods=47, freq="h"),
            "v": np.arange(47.0),
        }
    )
    out = holt_winters(spark.createDataFrame(pdf)).toPandas()
    assert len(out) == 0
