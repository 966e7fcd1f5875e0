"""Matrix profile: subsequence motif / discord discovery per series.

The matrix profile (Yeh et al., ICDM 2016 "Matrix Profile I") annotates
every length-``m`` subsequence of a series with the z-normalized
Euclidean distance to its nearest NON-OVERLAPPING neighbor. Its argmin
is the top motif pair (the most-repeated shape); its argmax is the top
discord (the most anomalous window) — the subsequence-level analogue of
the pointwise robust_anomalies operator (tsfeatures.py).

Spark shape: one ``applyInPandas`` per series group; inside, the whole
profile is a blocked GEMM over the z-normalized sliding-window matrix —
``D^2 = 2 (m - Z Z^T)`` — so a p-subsequence series costs O(p^2 m) flops
in numpy, never per-row Python. Like ``theil_sen`` this is deliberately
quadratic per group and meant for BOUNDED groups: run it on a rollup
tier (the 1h tier caps a year at 8,760 points), downsample first for
finer grids. Row blocks bound peak memory to ``block * p`` doubles, so
executor memory stays flat regardless of p.

Conventions (stumpy-compatible):
- exclusion zone ``|i - j| < ceil(m/2)`` (trivial-match suppression);
- a constant (zero-variance) window is at distance 0 from other
  constant windows and ``sqrt(2 m)`` from every non-constant one;
- ties break to the LOWEST neighbor index (deterministic under any
  partitioning — numpy argmin's first-hit rule).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.session import worker_kernel

_SCHEMA = (
    "series_id string, idx int, start_ts timestamp, mp_dist double, nn_idx int"
)
_BLOCK = 2048  # distance-matrix rows per block


def _profile_one(x: np.ndarray, m: int):
    """(mp_dist, nn_idx) arrays for one series. See module docstring."""
    n = x.size
    p = n - m + 1
    excl = int(np.ceil(m / 2))
    # need every subsequence to have at least one non-excluded neighbor:
    # max(i, p-1-i) >= ceil((p-1)/2) >= excl  <=>  p >= 2*excl
    if p < 2 * excl:
        return None
    W = np.lib.stride_tricks.sliding_window_view(x, m)
    mu = W.mean(axis=1)
    sd = W.std(axis=1)
    flat = sd == 0.0
    Z = (W - mu[:, None]) / np.where(flat, 1.0, sd)[:, None]
    Z[flat] = 0.0
    mp = np.full(p, np.inf)
    nn = np.full(p, -1, dtype=np.int64)
    offs = np.arange(p)
    for lo in range(0, p, _BLOCK):
        hi = min(lo + _BLOCK, p)
        # squared z-distance; for flat rows Z=0 gives 2m vs anything,
        # patched to 0 for flat-vs-flat below
        D2 = 2.0 * (m - Z[lo:hi] @ Z.T)
        if flat.any():
            D2[flat[lo:hi]] = np.where(flat, 0.0, 2.0 * m)
        band = np.abs(offs[lo:hi, None] - offs[None, :]) < excl
        D2[band] = np.inf
        j = np.argmin(D2, axis=1)
        d = D2[np.arange(hi - lo), j]
        mp[lo:hi] = np.sqrt(np.maximum(d, 0.0))
        nn[lo:hi] = j
    return mp, nn


def matrix_profile(series: DataFrame, m: int = 24) -> DataFrame:
    """Full matrix profile: one output row per subsequence start
    (``idx`` = 0-based position in the ts-sorted series), carrying the
    nearest-neighbor z-distance and that neighbor's index."""

    def _one(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("bucket_ts")
        x = pdf["v"].to_numpy(dtype=np.float64)
        out = _profile_one(x, m)
        if out is None:
            return pd.DataFrame(
                columns=["series_id", "idx", "start_ts", "mp_dist", "nn_idx"]
            )
        mp, nn = out
        p = mp.size
        return pd.DataFrame(
            {
                "series_id": pdf["series_id"].iloc[0],
                "idx": np.arange(p, dtype=np.int32),
                "start_ts": pdf["bucket_ts"].iloc[:p].to_numpy(),
                "mp_dist": mp,
                "nn_idx": nn.astype(np.int32),
            }
        )

    return (
        series.select("series_id", "bucket_ts", "v")
        .groupBy("series_id")
        .applyInPandas(worker_kernel(_one), schema=_SCHEMA)
    )


def top_motif_discord(profile: DataFrame) -> DataFrame:
    """Per group: the top motif (min mp_dist) and top discord (max
    mp_dist) rows, tagged with ``kind``. Ties break to the lowest idx
    (struct min/max — deterministic under any partitioning)."""
    motif = F.min(
        F.struct("mp_dist", "idx", "nn_idx", "start_ts")
    ).alias("s")
    discord = F.max(
        F.struct("mp_dist", (-F.col("idx")).alias("neg_idx"), "nn_idx",
                 "start_ts")
    ).alias("s")
    m = (
        profile.groupBy("series_id")
        .agg(motif)
        .select("series_id", F.lit("motif").alias("kind"),
                "s.idx", "s.nn_idx", "s.mp_dist", "s.start_ts")
    )
    d = (
        profile.groupBy("series_id")
        .agg(discord)
        .select("series_id", F.lit("discord").alias("kind"),
                (-F.col("s.neg_idx")).cast("int").alias("idx"),
                "s.nn_idx", "s.mp_dist", "s.start_ts")
    )
    return m.unionByName(d)
