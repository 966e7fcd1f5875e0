"""Electricity inputs for the tests that use the reference artifacts only as
input. Each loader returns the reference loader's output where that
artifact's file exists under ``rd.REFERENCE_ROOT``, and a seeded synthetic
stand-in where it does not:

- series: seeded half-hourly ``Consumption``/``Wind``/``PV`` for 2012-2018
  (two loads with daily and weekly cycles over a seasonal level, and a
  PV-like daylight profile; every value positive, leap years kept)
- translations: the fixed ``trans_*_12_18.p[0]`` values for every year
- beta sheets: seeded normal coefficients in the golden layout
  (``wl.scale_sizes()`` per year, offset last)

The checks these feed (reconstruction identities, the damped-LSQR residual
bound, EPN vs its numpy oracle, plan shapes) hold for any valid input. A
test whose oracle IS an artifact skips through ``reference_skipif`` with
the missing path as its reason."""

import functools
import os

import numpy as np
import pandas as pd
import pytest

from wavelet_decomposition_spark.io import electricity
from wavelet_decomposition_spark.io import reference_data as rd
from wavelet_decomposition_spark.kernel import wavelets as wl

SEED = 2012
SIGNALS = ("Consumption", "Wind", "PV")
YEARS = list(range(2012, 2019))
DPD = 48
WORKBOOK = os.path.join(rd.REFERENCE_ROOT, "input_time_series.xlsx")
# trans_{square,sine}_12_18.p[0]; any translation builds a valid dictionary
TRANSLATIONS = {"square": [87, 5974, 19225], "sine": [25, 22584, 7116]}


def reference_skipif(*names):
    """Skip unless every named artifact exists under the reference root;
    the reason is the missing paths."""
    missing = [
        p for p in (os.path.join(rd.REFERENCE_ROOT, n) for n in names)
        if not os.path.exists(p)
    ]
    return pytest.mark.skipif(bool(missing), reason=", ".join(missing))


@functools.cache
def _synthetic_series():
    rng = np.random.default_rng(SEED)
    out = {sig: {} for sig in SIGNALS}
    for year in YEARS:
        n_days = 366 if year % 4 == 0 else 365
        n = n_days * DPD
        t = np.arange(n) / DPD  # days since 1 Jan
        season = np.cos(2 * np.pi * t / n_days)
        for sig in SIGNALS:
            if sig == "PV":
                day = np.clip(np.sin(np.pi * ((t % 1.0) - 0.25) / 0.5), 0.0, None)
                v = day * (0.7 - 0.3 * season) + 0.02 + 0.01 * rng.random(n)
            else:
                phase = rng.random()
                weekly = np.where((t.astype(int) % 7) >= 5, -0.15, 0.05)
                v = (2.0 + 0.4 * season + 0.5 * np.sin(2 * np.pi * (t - phase))
                     + weekly + 0.05 * rng.standard_normal(n))
            out[sig][year] = v
    return out


def load_input_series():
    """``rd.load_input_series()``: ({signal: {year: raw values}}, years)."""
    if os.path.exists(WORKBOOK):
        return rd.load_input_series()
    return _synthetic_series(), list(YEARS)


def electricity_df(spark, signals, years):
    """``electricity.electricity_df``: the long (series_id, year, idx,
    value) table at 48 samples/day."""
    if os.path.exists(WORKBOOK):
        return electricity.electricity_df(spark, signals=signals, years=years)
    data = _synthetic_series()
    pdf = pd.concat(
        [
            pd.DataFrame({
                "series_id": sig,
                "year": np.int32(year),
                "idx": np.arange(data[sig][year].size, dtype=np.int32),
                "value": data[sig][year],
            })
            for sig in signals
            for year in years
        ],
        ignore_index=True,
    )
    return spark.createDataFrame(pdf, schema=electricity.SCHEMA)


def load_prepared_signal(signal, year):
    """``rd.load_prepared_signal``: leap trim, divide by the year mean,
    interpolate 48 -> 64 samples/day."""
    if os.path.exists(WORKBOOK):
        return rd.load_prepared_signal(signal, year)
    raw = _synthetic_series()[signal][year][: DPD * wl.DPY]
    raw = raw / raw.mean()
    oldx = np.arange(0, wl.DPY, 1.0 / DPD)
    newx = np.arange(0, wl.DPY, 1.0 / wl.NDPD)
    return np.interp(newx, oldx, raw)


def load_translations(shape):
    """``rd.load_translations``: one [transday, transweek, transyear] per
    year."""
    if os.path.exists(
        os.path.join(rd.REFERENCE_ROOT, f"translation/trans_{shape}_12_18.p")
    ):
        return rd.load_translations(shape)
    return [list(TRANSLATIONS[shape]) for _ in YEARS]


def load_golden_betas(signal, year):
    """``rd.load_golden_betas``: 16 coefficient arrays, scale_idx order."""
    shape_dir = "sine_shape" if signal == "Wind" else "square_shape"
    if os.path.exists(
        os.path.join(rd.REFERENCE_ROOT, f"betas/{shape_dir}/betas_{signal}.xlsx")
    ):
        return rd.load_golden_betas(signal, year)
    rng = np.random.default_rng([SEED, SIGNALS.index(signal), year])
    return [rng.standard_normal(size) for size in wl.scale_sizes()]


def load_golden_betas_long(signals_years):
    """``rd.load_golden_betas_long``: the sheets of ``load_golden_betas`` as
    one (series_id, year, scale_idx, pos, golden) frame."""
    return pd.concat(
        [
            pd.DataFrame({
                "series_id": sig,
                "year": np.int32(year),
                "scale_idx": np.int32(s),
                "pos": np.arange(arr.size, dtype=np.int32),
                "golden": arr,
            })
            for sig, year in signals_years
            for s, arr in enumerate(load_golden_betas(sig, year))
        ],
        ignore_index=True,
    )
