"""Golden-parity: numpy pipeline (ingest -> trim -> normalize -> resample ->
LSQR solve -> sheet reshape) vs the reference's exported coefficients.

The Spark end-to-end version of the same path is in test_decompose_spark.py;
this file validates the kernels alone (SURVEY.md §5.2 protocol)."""

import numpy as np
import pytest

from tests import electricity_inputs as ei
from wavelet_decomposition_spark.io import reference_data as rd
from wavelet_decomposition_spark.kernel import wavelets as wl
from wavelet_decomposition_spark.kernel.lsqr import beta_decomposition

DPD, NDPD, DPY = 48, 64, 365


def _prepare_year(raw: np.ndarray) -> np.ndarray:
    one = raw[: DPD * DPY]  # leap trim (import_excel.py:40)
    one = one / one.mean()  # per-year normalize (import_excel.py:43)
    oldx = np.arange(0, DPY, 1.0 / DPD)
    newx = np.arange(0, DPY, 1.0 / NDPD)
    return np.interp(newx, oldx, one)  # 48 -> 64/day (import_excel.py:47-54)


def _sheet_from_flat(beta: np.ndarray, golden_sheets):
    scale_idx, pos = wl.flat_to_scale_pos()
    out = []
    for s in range(16):
        arr = np.zeros(len(golden_sheets[s]))
        sel = scale_idx == s
        arr[pos[sel]] = beta[sel]
        out.append(arr)
    return out


def _check_one(signal: str, year: int, shape: str, atol=1e-9):
    data, years = rd.load_input_series()
    trans = rd.load_translations(shape)
    sig = _prepare_year(data[signal][year])
    A = wl.generate_dictionary(shape, trans[years.index(year)])
    beta = beta_decomposition(A, sig)
    golden = rd.load_golden_betas(signal, year)
    mine = _sheet_from_flat(beta, golden)
    for s in range(16):
        np.testing.assert_allclose(mine[s], golden[s], atol=atol, rtol=0)


@ei.reference_skipif(
    "betas/square_shape/betas_Consumption.xlsx",
    "input_time_series.xlsx",
    "translation/trans_square_12_18.p",
)
def test_golden_parity_consumption_2013_square():
    _check_one("Consumption", 2013, "square")


@pytest.mark.slow
def test_golden_parity_all_square():
    for signal in ("Consumption", "PV"):
        for year in range(2012, 2019):
            _check_one(signal, year, "square")


@pytest.mark.slow
def test_golden_parity_wind_sine():
    for year in range(2012, 2019):
        _check_one("Wind", year, "sine")


def test_reconstruction_residual_bound():
    """A @ beta ~ signal: the damped LSQR residual stays small on
    Consumption 2013, read from the reference workbook and square
    translations where the reference root holds them, and from the seeded
    synthetic series and fixed translations of tests/electricity_inputs.py
    where it does not."""
    data, years = ei.load_input_series()
    trans = ei.load_translations("square")
    sig = _prepare_year(data["Consumption"][2013])
    A = wl.generate_dictionary("square", trans[years.index(2013)])
    beta = beta_decomposition(A, sig)
    resid = A.matvec(beta) - sig
    # relative L2 residual of the damped fit is well under 1%
    assert np.linalg.norm(resid) / np.linalg.norm(sig) < 1e-2
