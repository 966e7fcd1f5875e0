"""A11 — brute-force translation grid search, distributed.

Reference: /root/reference/calc_translations.py:29-118 — for every circular
shift d of the signal, fit the family's mother-wavelet dictionary with
damped LSQR, keep the argmin residual. Single-core there ("grab a coffee",
calc_translations.py:128: ~3 x 23,360 solves/year); here the shift grid is a
DataFrame fanned out with mapInPandas against a broadcast (signal, mother
dictionary) pair — embarrassingly parallel, argmin via a tiny min_by
aggregation. Mother wavelets have disjoint supports (orthogonal columns), so
each LSQR converges in a few iterations.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..kernel import wavelets as wl
from ..kernel.lsqr import lsqr
from ..kernel.sparse import CSRMatrix
from ..plans.session import worker_kernel


def residues_for_shifts(
    spark: SparkSession,
    signal: np.ndarray,
    family: str,
    shape: str,
    dpy: int = wl.DPY,
    dpd: int = wl.NDPD,
    shifts=None,
    damp: float = 0.001,
) -> DataFrame:
    """(shift, residue) for every candidate circular shift."""
    mothers = wl.mother_dictionary(family, shape, dpy, dpd)
    rows, cols = np.nonzero(mothers.T)
    A = CSRMatrix.from_coo(rows, cols, mothers.T[rows, cols], mothers.T.shape)
    # broadcast the CSR (~0.5 MB, pickled as its four arrays), not the
    # dense mothers matrix (day family: 365 x 23,360 float64 = 68 MB):
    # every row of mothers.T has AT MOST ONE nonzero (disjoint mother
    # supports), so the CSR matvec is bit-identical to the dense
    # ``mothers.T @ beta`` (verified in tests/test_translation_spectrum.py)
    # at 1/140th the broadcast bytes
    bc = spark.sparkContext.broadcast(
        (np.asarray(signal, dtype=np.float64), A)
    )
    n = signal.size
    if shifts is None:
        cand = spark.range(0, n).withColumnRenamed("id", "shift")
    else:
        cand = spark.createDataFrame([(int(s),) for s in shifts], "shift long")

    def _residues(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        sig, A_ = bc.value
        for pdf in batches:
            out_shift, out_res = [], []
            for d in pdf["shift"].to_numpy():
                # translate(signal, d): out[i] = sig[(i+d) % n]
                rolled = np.roll(sig, -int(d))
                rolled = rolled - rolled.mean()  # calc_translations.py:22
                beta, _, _ = lsqr(A_, rolled, damp=damp)
                resid = rolled - A_.matvec(beta)
                out_shift.append(int(d))
                out_res.append(float(np.dot(resid, resid)))
            yield pd.DataFrame({"shift": out_shift, "residue": out_res})

    return cand.mapInPandas(
        worker_kernel(_residues), schema="shift long, residue double"
    )


def best_translation(
    spark: SparkSession,
    signal: np.ndarray,
    family: str,
    shape: str,
    **kw,
) -> int:
    """argmin-residue shift (reference keeps the first improvement under the
    no-shift residue; ties resolve to the smallest shift)."""
    res = residues_for_shifts(spark, signal, family, shape, **kw)
    base = float(np.dot(signal, signal))
    row = (
        res.filter(F.col("residue") < F.lit(base))
        .orderBy(F.asc("residue"), F.asc("shift"))
        .limit(1)
        .collect()
    )
    return int(row[0].shift) if row else 0
