"""Rescaled-range analysis (operators/hurst.py) vs a direct numpy
re-implementation, plus its exactness and scale-invariance facts."""

import numpy as np
import pytest

from wavelet_decomposition_spark.operators.hurst import rs_ladder

SIZES = (8, 16, 32, 64)


def _np_rs_ladder(x: np.ndarray, sizes=SIZES):
    """(n -> (n_chunks, sum_rs_micro)) the numpy way — population std,
    full chunks only, zero-variance chunks skipped, floor to micro."""
    out = {}
    x = np.asarray(x, dtype=np.int64)
    for n in sizes:
        tot, cnt = 0, 0
        for c in range(len(x) // n):
            chunk = x[c * n:(c + 1) * n].astype(np.float64)
            m = chunk.sum() / n
            z = np.cumsum(chunk - m)
            r = z.max() - z.min()
            var = ((chunk - m) ** 2).sum() / n
            if var <= 0:
                continue
            tot += int(np.floor(r / np.sqrt(var) * 1_000_000.0))
            cnt += 1
        if cnt:
            out[n] = (cnt, tot)
    return out


def _series_df(spark, x, sid="s"):
    rows = [(sid, int(i), int(v)) for i, v in enumerate(x)]
    return spark.createDataFrame(
        rows, "series_id string, bucket_ts int, v long"
    )


def test_rs_ladder_matches_numpy(spark):
    rng = np.random.default_rng(7)
    x = rng.integers(100, 10_000, size=300)
    got = {
        r["n"]: (r["n_chunks"], r["sum_rs_micro"])
        for r in rs_ladder(_series_df(spark, x)).collect()
    }
    assert got == _np_rs_ladder(x)


def test_rs_ladder_constant_chunks_excluded(spark):
    # a constant series has zero variance in every chunk -> no ladder rows
    assert rs_ladder(_series_df(spark, [5] * 64)).count() == 0


def test_rs_ladder_rejects_non_dyadic_sizes(spark):
    with pytest.raises(AssertionError):
        rs_ladder(_series_df(spark, [1, 2, 3]), sizes=(8, 12))


def test_rs_scale_invariance(spark):
    # R/S is invariant under positive linear scaling of the values
    rng = np.random.default_rng(11)
    x = rng.integers(10, 500, size=256)
    a = rs_ladder(_series_df(spark, x, "a")).collect()
    b = rs_ladder(_series_df(spark, x * 8, "b")).collect()
    key = lambda rows: sorted((r["n"], r["n_chunks"], r["sum_rs_micro"]) for r in rows)
    assert key(a) == key(b)
