"""EPN DataFrame operator vs the numpy oracle (kernel/epn.py), on betas
stacked across all 7 years: the reference's golden Consumption sheets (its
own analysis input) where the reference root holds
``betas/square_shape/betas_Consumption.xlsx``, and the seeded synthetic
sheets of tests/electricity_inputs.py, in the same layout, where it does
not. The oracle comparison holds for any betas."""

import numpy as np

from tests import electricity_inputs as ei
from wavelet_decomposition_spark.kernel.epn import calc_epn
from wavelet_decomposition_spark.kernel.wavelets import TIME_SCALES_HOURS
from wavelet_decomposition_spark.operators.epn import epn

SATIS = [50.0, 90.0, 99.0]


def _stacked_golden(signal):
    sheets = None
    for year in range(2012, 2019):
        g = ei.load_golden_betas(signal, year)
        if sheets is None:
            sheets = [list(col) for col in g]
        else:
            for i, col in enumerate(g):
                sheets[i].extend(col)
    return [np.asarray(c) for c in sheets]


def _betas_df(spark, stacked):
    rows = []
    for scale_idx, col in enumerate(stacked[:15]):
        for pos, b in enumerate(col):
            rows.append(("Consumption", scale_idx, int(pos), float(b)))
    return spark.createDataFrame(
        rows, "series_id string, scale_idx int, pos int, beta double"
    )


def test_epn_matches_numpy_oracle(spark):
    stacked = _stacked_golden("Consumption")
    oracle = calc_epn(stacked, SATIS, TIME_SCALES_HOURS, dpy=365, load_factor=1.0)

    betas = _betas_df(spark, stacked)
    result = epn(spark, betas, SATIS, n_years=7).toPandas()

    # rtol 1e-9: Spark's clamped-sum accumulates in partition order, numpy in
    # array order — float reassociation only, thresholds themselves are exact
    for _, r in result.iterrows():
        i = int(r.scale_idx)
        s = SATIS.index(r.satisfaction)
        np.testing.assert_allclose(r.pmax, oracle["pmax"][i, s], rtol=1e-9)
        np.testing.assert_allclose(r.emax, oracle["emax"][i, s], rtol=1e-9)
        np.testing.assert_allclose(r.n, oracle["n"][i, s], rtol=1e-9)
        np.testing.assert_allclose(r.uf, oracle["uf"][i, s], rtol=1e-9)
        np.testing.assert_allclose(r.serv, oracle["serv"][i, s], rtol=1e-9)
    assert len(result) == 15 * len(SATIS)


def test_epn_satisfaction_zero_edge(spark):
    """satis == 0 makes the reference's isatis = ceil(satis*n/100) - 1
    come out as -1, which Python negative indexing resolves to the LARGEST
    |beta| (calc_EPN.py:32-33 — an accident, but it IS the reference
    behavior). The rank join must reproduce it instead of silently dropping
    the (group, scale, satisfaction) cell (round-3 verdict nit): a raw rank
    of 0 maps to rank n. Note ceil() of any POSITIVE satisfaction is >= 1,
    so the edge fires only at exactly 0 (a tiny positive satisfaction
    instead selects the MINIMUM |beta| — rank 1 — where the reference
    divides by a possibly-zero threshold and silently yields inf/nan under
    np.errstate; that input is the caller's problem in both engines). The
    numpy oracle replicates the negative indexing naturally, so oracle
    equality covers both the threshold and every downstream aggregate."""
    satis = [0.0, 50.0]
    stacked = _stacked_golden("Consumption")
    oracle = calc_epn(stacked, satis, TIME_SCALES_HOURS, dpy=365, load_factor=1.0)

    betas = _betas_df(spark, stacked)
    result = epn(spark, betas, satis, n_years=7).toPandas()
    assert len(result) == 15 * len(satis), "a satisfaction cell was dropped"
    for _, r in result.iterrows():
        i = int(r.scale_idx)
        s = satis.index(r.satisfaction)
        np.testing.assert_allclose(r.pmax, oracle["pmax"][i, s], rtol=1e-9)
        np.testing.assert_allclose(r.n, oracle["n"][i, s], rtol=1e-9)
        np.testing.assert_allclose(r.serv, oracle["serv"][i, s], rtol=1e-9)
    # and the edge really fired: at satis=0.0 the threshold IS max|beta|
    for i in range(15):
        assert oracle["pmax"][i, 0] == np.abs(stacked[i]).max()


def test_epn_approx_percentile_escape_hatch(spark):
    """exact=False replaces the rank-join order statistic with a
    percentile_approx sketch (no per-(group, scale) sort shuffle — the
    100-TB path). The GK sketch guarantees rank error <= n/accuracy: every
    approximate threshold must land inside the exact order-statistics band
    around the reference's target rank, and the schema/row shape must be
    identical to the exact form."""
    stacked = _stacked_golden("Consumption")
    betas = _betas_df(spark, stacked)
    acc = 10_000
    approx = (
        epn(spark, betas, SATIS, n_years=7, exact=False, approx_accuracy=acc)
        .toPandas()
        .sort_values(["scale_idx", "satisfaction"])
        .reset_index(drop=True)
    )
    exact = (
        epn(spark, betas, SATIS, n_years=7)
        .toPandas()
        .sort_values(["scale_idx", "satisfaction"])
        .reset_index(drop=True)
    )
    assert list(approx.columns) == list(exact.columns)
    assert len(approx) == len(exact) == 15 * len(SATIS)
    for _, r in approx.iterrows():
        arr = np.sort(np.abs(stacked[int(r.scale_idx)]))
        n = arr.size
        target = int(np.ceil(r.satisfaction * n / 100.0))  # 1-based rank
        err = n // acc + 1
        lo = arr[max(target - 1 - err, 0)]
        hi = arr[min(target - 1 + err, n - 1)]
        assert lo - 1e-12 <= r.pmax <= hi + 1e-12, (
            f"scale {r.scale_idx} satis {r.satisfaction}: "
            f"approx {r.pmax} outside [{lo}, {hi}]"
        )
