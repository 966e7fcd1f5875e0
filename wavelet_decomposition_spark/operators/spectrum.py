"""A7 — FFT magnitude spectrum per series group, and A9 — per-scale
reconstruction matrix for heatmaps.

Reference: plots.py:85-95 (one-sided 2/N * |fft(y - mean)|) and
preplotprocessing (wavelet_decomposition.py:325-358 — reconstruct each of
the 15 scales separately; the reference densifies the 4.38 GB matrix for
this, we run 15 dictionary matvecs per group).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..kernel import wavelets as wl
from ..plans.session import worker_kernel


def fft_spectrum(
    df: DataFrame,
    value_col: str = "value",
    ts_col: str = "idx",
) -> DataFrame:
    """(series_id, year, freq_idx, magnitude): one-sided demeaned FFT
    magnitude per (series_id, year)."""
    group_cols = ["series_id", "year"]
    out_schema = (
        ", ".join(
            f"{c} {df.schema[c].dataType.simpleString()}" for c in group_cols
        )
        + ", freq_idx int, magnitude double"
    )

    def _fft(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(ts_col)
        y = pdf[value_col].to_numpy(dtype=np.float64)
        y = y - y.mean()
        n = y.size
        mag = 2.0 / n * np.abs(np.fft.fft(y))[: n // 2]
        out = {c: pdf[c].iloc[0] for c in group_cols}
        out["freq_idx"] = np.arange(mag.size, dtype=np.int32)
        out["magnitude"] = mag
        return pd.DataFrame(out)

    return df.groupBy(*group_cols).applyInPandas(
        worker_kernel(_fft), schema=out_schema
    )


def spectral_features(df: DataFrame, group_cols=("series_id",)) -> DataFrame:
    """Per-group frequency-domain scalar features over the demeaned
    series ``v`` in ``bucket_ts`` order: normalized spectral entropy (0 =
    one pure tone, 1 = white noise — the classic 'is this series forecastable' feature), the
    dominant nonzero frequency index and its power share, and a Parseval
    check pair (time-domain energy vs spectrum energy — carried so the
    driver invariant can assert the transform itself, not just produce
    numbers).

    One shuffle on the group keys, one numpy rFFT per group (same Arrow
    kernel discipline as :func:`fft_spectrum`); per-group length is
    bounded by the retention tier."""
    group_cols = list(group_cols)
    # derive each group column's type from the input schema (the ewma /
    # brown_les pattern) — hardcoding string would fail or silently coerce
    # at the Arrow boundary for e.g. ('series_id', 'year') groupings
    out_schema = (
        ", ".join(
            f"{c} {df.schema[c].dataType.simpleString()}" for c in group_cols
        )
        + ", n int, spectral_entropy double, peak_freq_idx int,"
        + " peak_share double, energy_time double, energy_spec double"
    )

    def _feat(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("bucket_ts")
        y = pdf["v"].to_numpy(dtype=np.float64)
        y = y - y.mean()
        n = y.size
        spec = np.abs(np.fft.rfft(y)) ** 2
        # Parseval for rfft: sum|X_k|^2 with interior bins doubled == n*sum(y^2)
        w = np.ones(spec.size)
        w[1:] = 2.0
        if n % 2 == 0 and spec.size > 1:
            w[-1] = 1.0  # Nyquist bin is not mirrored for even n
        energy_spec = float((w * spec).sum() / n)
        energy_time = float((y**2).sum())
        p = (w * spec)[1:]  # drop DC (zero after demean)
        total = p.sum()
        if total <= 0 or p.size < 2:
            ent, peak, share = 1.0, 0, 0.0
        else:
            q = p / total
            nz = q[q > 0]
            ent = float(-(nz * np.log(nz)).sum() / np.log(p.size))
            peak = int(np.argmax(p)) + 1
            share = float(p.max() / total)
        out = {c: pdf[c].iloc[0] for c in group_cols}
        out.update(
            n=np.int32(n),
            spectral_entropy=ent,
            peak_freq_idx=np.int32(peak),
            peak_share=share,
            energy_time=energy_time,
            energy_spec=energy_spec,
        )
        return pd.DataFrame([out])

    return df.groupBy(*group_cols).applyInPandas(
        worker_kernel(_feat), schema=out_schema
    )


def per_scale_reconstruction(betas: DataFrame, bc, n_scales: int = 15) -> DataFrame:
    """A9 — reconstruct each scale's signal separately:
    (series_id, year, scale_idx, idx, value). One group = 15 dictionary matvecs
    (the heatmap's pre-pivot long form; pivot at presentation time)."""

    def _per_scale(pdf: pd.DataFrame) -> pd.DataFrame:
        year = int(pdf["year"].iloc[0])
        A = bc.value[year]
        flat_idx = wl.scale_pos_to_flat(pdf["scale_idx"], pdf["pos"])
        flat_all = np.zeros(A.shape[1])
        flat_all[flat_idx] = pdf["beta"].to_numpy(dtype=np.float64)
        lut_scale = wl.flat_to_scale_pos()[0]
        frames = []
        for s in range(n_scales):
            mask = np.where(lut_scale == s, flat_all, 0.0)
            sig = A.matvec(mask)
            frames.append(
                pd.DataFrame(
                    {
                        "series_id": pdf["series_id"].iloc[0],
                        "year": year,
                        "scale_idx": np.int32(s),
                        "idx": np.arange(sig.size, dtype=np.int32),
                        "value": sig,
                    }
                )
            )
        return pd.concat(frames, ignore_index=True)

    return betas.groupBy("series_id", "year").applyInPandas(
        worker_kernel(_per_scale),
        schema="series_id string, year int, scale_idx int, idx int, value double",
    )


def heatmap_pivot(per_scale: DataFrame, scales=None) -> DataFrame:
    """Wide N x n_scales layout (one column per scale) — presentation
    export. Pass ``scales`` explicitly when they are statically known
    (they always are here: 0..n_scales-1): ``pivot`` without values runs
    an EAGER distinct job at plan-construction time, which would execute
    the entire upstream betas lineage (an LSQR solve) once just to
    enumerate the pivot columns."""
    piv = per_scale.groupBy("series_id", "year", "idx")
    piv = (
        piv.pivot("scale_idx", [int(s) for s in scales])
        if scales is not None
        else piv.pivot("scale_idx")
    )
    return piv.agg(F.first("value")).orderBy("series_id", "year", "idx")
