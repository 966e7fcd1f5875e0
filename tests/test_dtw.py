"""Banded DTW (operators/dtw.py): kernel correctness vs an O(n^2) reference,
the provable distance properties, and the Spark packing/pair plumbing."""

import numpy as np
import pandas as pd
import pytest

from wavelet_decomposition_spark.operators.dtw import (
    banded_dtw_numpy,
    dtw_allpairs,
    full_dtw_numpy,
)


def test_banded_equals_full_when_band_covers():
    rng = np.random.default_rng(3)
    for n, m in [(40, 40), (37, 51), (1, 9)]:
        x, y = rng.normal(size=n), rng.normal(size=m)
        assert banded_dtw_numpy(x, y, n + m) == pytest.approx(
            full_dtw_numpy(x, y), rel=1e-12
        )


def test_hand_example():
    # alignment can duplicate the 2 to absorb the repeat: cost 0
    x = np.array([1.0, 2.0, 3.0])
    y = np.array([1.0, 2.0, 2.0, 3.0])
    assert full_dtw_numpy(x, y) == 0.0
    assert banded_dtw_numpy(x, y, 2) == 0.0


def test_identity_bound_and_monotone():
    rng = np.random.default_rng(11)
    x, y = rng.normal(size=120), rng.normal(size=120)
    assert banded_dtw_numpy(x, x, 0) == 0.0
    euclid = float(np.sqrt(np.sum((x - y) ** 2)))
    prev = np.inf
    for r in (0, 2, 8, 32, 240):
        d = banded_dtw_numpy(x, y, r)
        assert d <= euclid + 1e-12  # diagonal path admissible in any band
        assert d <= prev + 1e-12    # wider band = superset of paths
        prev = d
    assert banded_dtw_numpy(x, y, 0) == pytest.approx(euclid, rel=1e-12)


def test_shifted_bump_alignment():
    """A bump shifted by k < radius costs ~0 under DTW while Euclidean sees
    the full bump energy twice — the phase-robustness DTW exists for."""
    n, k = 200, 6
    base = np.zeros(n)
    base[60:80] = np.hanning(20)
    shifted = np.zeros(n)
    shifted[60 + k:80 + k] = np.hanning(20)
    d = banded_dtw_numpy(base, shifted, 3 * k)
    e = float(np.sqrt(np.sum((base - shifted) ** 2)))
    assert d < 0.2 * e
    # radius smaller than the shift cannot fully absorb it
    assert banded_dtw_numpy(base, shifted, 1) > d


def _series_df(spark, data: dict[str, np.ndarray]):
    rows = [
        {"k": k, "o": i, "v": float(v)}
        for k, arr in data.items()
        for i, v in enumerate(arr)
    ]
    return spark.createDataFrame(pd.DataFrame(rows)).repartition(5)


def test_spark_allpairs_matches_numpy(spark):
    rng = np.random.default_rng(5)
    data = {f"s{j}": rng.normal(size=64) for j in range(4)}
    out = (
        dtw_allpairs(
            _series_df(spark, data), "k", "o",
            radius=8, wide_radius=32, include_self=True,
        )
        .toPandas()
        .sort_values(["key_a", "key_b"])
    )
    # 4 self + 6 cross pairs
    assert len(out) == 10
    for row in out.itertuples():
        x, y = data[row.key_a], data[row.key_b]
        assert row.dtw == pytest.approx(
            banded_dtw_numpy(x, y, 8), rel=1e-12
        )
        assert row.dtw_wide == pytest.approx(
            banded_dtw_numpy(x, y, 32), rel=1e-12
        )
        assert row.euclid == pytest.approx(
            float(np.sqrt(np.sum((x - y) ** 2))), rel=1e-12
        )
        if row.key_a == row.key_b:
            assert row.dtw == 0.0


def test_unequal_lengths_euclid_nan(spark):
    data = {"a": np.arange(10.0), "b": np.arange(14.0)}
    out = dtw_allpairs(
        _series_df(spark, data), "k", "o", radius=2
    ).toPandas()
    assert len(out) == 1
    assert np.isnan(out["euclid"].iloc[0])
    # band auto-widens to |n-m| so the end cell is reachable
    assert np.isfinite(out["dtw"].iloc[0])


def test_hourly_grid_is_shared_by_every_type(spark, tmp_path):
    """dtw_pairs and holt_winters read the zero-filled hourly counts of
    ``_hourly_counts_filled``: every event type gets the same grid from
    the first to the last event hour of any type (so equal lengths), 0 in
    each of its empty hours, and its own event count in total. The
    unfilled counts are its nonzero hours."""
    from datetime import datetime, timedelta

    from wavelet_decomposition_spark.queries.timeseries import (
        _hourly_counts_filled,
    )

    def at(h, m=0):
        return datetime(2024, 1, 1) + timedelta(hours=h, minutes=m)

    # "a" has no event at hours 2 and 4, "b" none at hours 0 and 3
    events = [("a", at(0, 5)), ("a", at(0, 40)), ("a", at(1)), ("a", at(3, 59)),
              ("b", at(1, 30)), ("b", at(2)), ("b", at(4, 10))]
    pd.DataFrame({
        "event_id": range(len(events)),
        "ts": [t for _, t in events],
        "user_id": 1,
        "event_type": [e for e, _ in events],
        "value": 1.0,
        "props": "",
    }).to_parquet(tmp_path / "events.parquet", coerce_timestamps="us")
    filled, counts = _hourly_counts_filled(spark, str(tmp_path))
    got = {(r.series_id, r.bucket_ts): r.v for r in filled.collect()}
    assert got == {
        **{("a", at(h)): v for h, v in enumerate([2, 1, 0, 1, 0])},
        **{("b", at(h)): v for h, v in enumerate([0, 1, 1, 0, 1])},
    }
    assert {(r.series_id, r.bucket_ts): r.n for r in counts.collect()} == {
        k: v for k, v in got.items() if v
    }
