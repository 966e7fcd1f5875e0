"""A1/A4 — the flagship operator: per-(series, year) damped-LSQR wavelet
decomposition against a broadcast wavelet dictionary, emitting a
long-format coefficient table.

Reference: the year loop at /root/reference/wavelet_decomposition.py:232-250
(one ``lsqr(A_year, signal_slice)`` per year) and the sheet reshape at
:260-298. Here every (series_id, year) group is one Spark task: the
dictionaries are broadcast once, as ``{year: WaveletDictionary}`` (each
pickled as its shape and translation vector, ~100 B, and rebuilt in ~1 ms
where it is read); the solve runs as sequential numpy inside an Arrow
pandas UDF (deterministic — a solve is never split across partitions), and
the reshape to and from the sheet layout is ``kernel/wavelets``'
vectorized ``flat_to_scale_pos`` / ``scale_pos_to_flat``, so the group's
23,360 input rows map to 23,423 coefficient rows with no per-row Python.

Scale note: groups are fixed-size (points_per_year rows) so groupBy skew is
bounded by design; parallelism = #series x #years, embarrassingly parallel
on a large cluster. The only wide dependency is the single exchange on
(series_id, year).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..kernel import wavelets as wl
from ..kernel.lsqr import beta_decomposition
from ..plans.session import worker_kernel

BETA_SCHEMA = (
    "series_id string, year int, scale_idx int, pos int, beta double"
)


def broadcast_dictionaries(
    spark: SparkSession,
    shape: str,
    translations_by_year: dict[int, list[int]],
):
    """Broadcast one wavelet dictionary per year (the reference's dense
    path needs 4.38 GB a year) as ``{year: WaveletDictionary}``. Returns
    the broadcast handle."""
    return spark.sparkContext.broadcast(
        {
            int(year): wl.generate_dictionary(shape, trans)
            for year, trans in translations_by_year.items()
        }
    )


def decompose(df: DataFrame, bc) -> DataFrame:
    """(series_id, year, idx, value) -> (series_id, year, scale_idx, pos, beta).

    ``bc`` is the broadcast from :func:`broadcast_dictionaries`.

    The solve stage's shuffle width is pinned to ``defaultParallelism * 8``:
    a solve group is ~700 KB of rows but ~2 s of CPU (700 LSQR iterations),
    a byte-to-compute ratio AQE cannot see — with the session's 8 MB
    advisory size, AQE's partition coalescing packed the full E1's 21
    solves into THREE tasks (4/4/6 groups each, serialized: measured 11.7 s
    for a wave that runs in ~2.5 s when spread). An explicit
    ``repartition(n, keys)`` is exempt from AQE coalescing
    (REPARTITION_BY_NUM shuffle origin) and the groupBy reuses its hash
    partitioning, so no second exchange appears. The width scales with the
    CLUSTER, not the data (birthday-collision-free for the reference's
    O(cores) group counts; for corpora with millions of groups each
    partition simply carries many groups, which is the normal
    compute-dense shuffle shape)."""

    def _solve(pdf: pd.DataFrame) -> pd.DataFrame:
        year = int(pdf["year"].iloc[0])
        A = bc.value[year]
        pdf = pdf.sort_values("idx")
        signal = pdf["value"].to_numpy(dtype=np.float64)
        if signal.size != A.shape[0]:
            raise ValueError(
                f"group ({pdf['series_id'].iloc[0]}, {year}) has "
                f"{signal.size} points, dictionary expects {A.shape[0]}"
            )
        beta = beta_decomposition(A, signal)
        scale_idx, pos = wl.flat_to_scale_pos()
        return pd.DataFrame(
            {
                "series_id": pdf["series_id"].iloc[0],
                "year": year,
                "scale_idx": scale_idx,
                "pos": pos,
                "beta": beta,
            }
        )

    n = df.sparkSession.sparkContext.defaultParallelism * 8
    return (
        df.repartition(n, "series_id", "year")
        .groupBy("series_id", "year")
        .applyInPandas(worker_kernel(_solve), schema=BETA_SCHEMA)
    )


def reconstruct(
    betas: DataFrame,
    bc,
    keep_scales=None,
    add_offset: bool = True,
) -> DataFrame:
    """A8 — inverse transform: signal[t] = (A @ beta_natural)[t], optionally
    band-passed to ``keep_scales`` and with the offset dropped
    (wavelet_decomposition.py:385-434). Per-group vectorized matvec against
    the broadcast dictionary. Returns (series_id, year, idx, value)."""
    scales = set(int(s) for s in keep_scales) if keep_scales is not None else None

    def _recon(pdf: pd.DataFrame) -> pd.DataFrame:
        year = int(pdf["year"].iloc[0])
        A = bc.value[year]
        scale_idx = pdf["scale_idx"].to_numpy()
        keep = np.ones(len(pdf), dtype=bool)
        if scales is not None:
            keep &= np.isin(scale_idx, list(scales))
        if not add_offset:
            keep &= scale_idx != 15
        sel = pdf[keep]
        flat = np.zeros(A.shape[1], dtype=np.float64)
        flat_idx = wl.scale_pos_to_flat(sel["scale_idx"], sel["pos"])
        flat[flat_idx] = sel["beta"].to_numpy(dtype=np.float64)
        signal = A.matvec(flat)
        return pd.DataFrame(
            {
                "series_id": pdf["series_id"].iloc[0],
                "year": year,
                "idx": np.arange(signal.size, dtype=np.int32),
                "value": signal,
            }
        )

    return betas.groupBy("series_id", "year").applyInPandas(
        worker_kernel(_recon),
        schema="series_id string, year int, idx int, value double",
    )


def support_table(spark: SparkSession, bc) -> DataFrame:
    """J3 — the wavelet dictionary as a long relational table
    ``(year, scale_idx, pos, idx, weight)``: one row per dictionary nonzero
    (~373k/year, a few MB — broadcast-able). Built driver-side from the
    same broadcast payload the UDF path uses, so both reconstruction forms
    share one dictionary source of truth."""
    scale_idx, pos = wl.flat_to_scale_pos()
    frames = []
    for year, A in bc.value.items():
        rows, cols, vals = A.coo()
        frames.append(
            pd.DataFrame(
                {
                    "year": np.int32(year),
                    "scale_idx": scale_idx[cols],
                    "pos": pos[cols],
                    "idx": rows.astype(np.int32),
                    "weight": vals,
                }
            )
        )
    return spark.createDataFrame(pd.concat(frames, ignore_index=True))


def reconstruct_relational(
    betas: DataFrame,
    support: DataFrame,
    keep_scales=None,
) -> DataFrame:
    """A8 in its relational form (SURVEY.md J3): ``signal[idx] =
    sum(beta * weight)`` as a broadcast equi-join on (year, scale_idx, pos)
    + hash aggregation on (series_id, year, idx) — no Python at all.

    Equivalent to :func:`reconstruct` (float64 tolerance — summation order
    differs; pinned by tests/test_decompose_spark.py). Prefer this form when
    betas already live in a table and only a band-passed slice is needed:
    the scale filter prunes the join input, whereas the UDF form always
    ships whole coefficient groups. Reference: the np.dot at
    /root/reference/wavelet_decomposition.py:427.

    Relational semantics caveat: grid positions whose band-passed support is
    empty produce NO row (the matvec form emits explicit zeros there). With
    the offset or any year-family scale kept, every position is covered."""
    b = betas
    sup = support
    if keep_scales is not None:
        sel = [int(s) for s in keep_scales]
        b = b.filter(F.col("scale_idx").isin(sel))
        sup = sup.filter(F.col("scale_idx").isin(sel))
    return (
        b.join(F.broadcast(sup), ["year", "scale_idx", "pos"])
        .groupBy("series_id", "year", "idx")
        .agg(F.sum(F.col("beta") * F.col("weight")).alias("value"))
    )
