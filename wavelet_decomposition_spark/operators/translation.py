"""A11 — translation grid search.

The reference (calc_translations.py:29-118) fits, for every circular shift
d of the signal, the family's mother-wavelet set with damped LSQR and keeps
the argmin residue: ~3 x 23,360 solves a year, single-core ("grab a
coffee", calc_translations.py:128).

A mother set is ``count`` copies of one ``Dt``-point pattern ``p`` on
disjoint supports (``wl.mother_dictionary``), so its columns are orthogonal
with equal norm ``P = ||p||^2`` and the damped fit has a closed form. With
``y`` the centred signal and ``c[m] = sum_k p[k] y[(m + k) % n]`` its
circular cross-correlation with ``p``, the fit at shift d has coefficients
``c[d + i * Dt] / (P + DAMP^2)`` and the residue ``||y||^2 - S(d) (2 / (P +
DAMP^2) - P / (P + DAMP^2)^2)``, where ``S(d) = sum_i c[(d + i * Dt) %
n]^2``. One FFT gives the residue at every shift. Its error is a few ulps
of ``||y||^2`` at every shift, so only a fit that leaves almost none of the
signal's energy has a larger relative error than LSQR's. The shift grid is
a DataFrame fanned out with ``mapInPandas``; the queries take the argmin.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..kernel import wavelets as wl
from ..kernel.lsqr import DAMP
from ..plans.session import worker_kernel


def shift_residues(y: np.ndarray, pattern: np.ndarray, count: int) -> np.ndarray:
    """The damped-fit residue of the mother set ``(count, pattern)`` to the
    centred signal ``y`` rolled left by d (``np.roll(y, -d)``), for every
    shift d in ``range(y.size)``."""
    n = y.size
    c = np.fft.irfft(np.fft.rfft(y) * np.conj(np.fft.rfft(pattern, n)), n)
    c2 = c * c
    s = np.zeros(n)
    for i in range(count):
        s += np.roll(c2, -i * pattern.size)
    p2 = float(pattern @ pattern)
    k = p2 + DAMP * DAMP
    return float(y @ y) - s * (2.0 / k - p2 / (k * k))


def residues_for_shifts(
    spark: SparkSession,
    signal: np.ndarray,
    family: str,
    shape: str,
    dpy: int = wl.DPY,
    dpd: int = wl.NDPD,
) -> DataFrame:
    """(shift, residue) for every circular shift of ``signal``."""
    count, pattern = wl.mother_dictionary(family, shape, dpy, dpd)
    sig = np.asarray(signal, dtype=np.float64)
    y = sig - sig.mean()

    # y and the pattern (~190 KB) ride in the one task's pickled closure
    def _residues(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        res = shift_residues(y, pattern, count)
        for pdf in batches:
            shift = pdf["shift"].to_numpy()
            yield pd.DataFrame({"shift": shift, "residue": res[shift]})

    # one task: every task sweeps all shifts, so a second one would only
    # repeat the FFT and add its Python-task overhead (~0.1 s, 10x the sweep)
    return (
        spark.range(0, sig.size, numPartitions=1)
        .withColumnRenamed("id", "shift")
        .mapInPandas(worker_kernel(_residues), schema="shift long, residue double")
    )
