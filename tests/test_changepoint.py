"""PELT: planted mean-shift recovery, PELT == unpruned DP, penalty
monotonicity, and the Spark segment kernel end-to-end."""

import numpy as np
import pytest


def _planted(seed=5):
    rng = np.random.default_rng(seed)
    levels = [0.0, 8.0, -5.0, 3.0]
    lens = [80, 60, 100, 70]
    y = np.concatenate(
        [lv + rng.normal(size=ln) * 0.5 for lv, ln in zip(levels, lens)]
    )
    cps = list(np.cumsum(lens)[:-1])
    return y, cps


def test_planted_shifts_recovered_exactly():
    from wavelet_decomposition_spark.operators.changepoint import (
        pelt_segments_np,
    )

    y, want = _planted()
    got = pelt_segments_np(y, beta=10.0)
    assert got == want


def test_pelt_equals_unpruned_dp_on_noise_and_steps():
    from wavelet_decomposition_spark.operators.changepoint import (
        dp_segments_np,
        pelt_segments_np,
    )

    rng = np.random.default_rng(9)
    for trial in range(6):
        y = rng.normal(size=rng.integers(30, 200))
        if trial % 2:
            y[len(y) // 2:] += rng.uniform(0.5, 6.0)
        for beta in (1.0, 5.0, 25.0):
            assert pelt_segments_np(y, beta) == dp_segments_np(y, beta)


def test_penalty_monotone_segment_count():
    from wavelet_decomposition_spark.operators.changepoint import (
        pelt_segments_np,
    )

    y, _ = _planted()
    counts = [len(pelt_segments_np(y, b)) for b in (0.5, 5.0, 50.0, 5e4)]
    assert counts == sorted(counts, reverse=True)
    assert counts[-1] == 0  # huge penalty -> one segment


def test_no_changepoints_on_constant_series():
    from wavelet_decomposition_spark.operators.changepoint import (
        pelt_segments_np,
    )

    assert pelt_segments_np(np.ones(100), beta=1.0) == []


def test_spark_kernel_segments_and_dual_path(spark):
    from wavelet_decomposition_spark.operators.changepoint import (
        pelt_changepoints,
    )

    y, want = _planted()
    rows = [("a", i, float(v)) for i, v in enumerate(y)]
    # a second, constant group exercises the no-changepoint path
    rows += [("b", i, 1.5) for i in range(50)]
    df = spark.createDataFrame(rows, "sid string, pos int, v double")
    out = pelt_changepoints(
        df, ["sid"], "pos", beta=10.0
    ).toPandas()
    a = out[out.sid == "a"].sort_values("seg_idx")
    assert list(a.start_pos) == [0] + want
    assert list(a.end_pos) == want + [len(y)]
    assert (a.n_points == a.end_pos - a.start_pos).all()
    assert out.dp_equal_ok.all()
    b = out[out.sid == "b"]
    assert len(b) == 1 and b.iloc[0].n_points == 50
    assert abs(b.iloc[0].seg_mean - 1.5) < 1e-12
    # segment means match the planted levels
    assert np.allclose(a.seg_mean, [0.0, 8.0, -5.0, 3.0], atol=0.2)
