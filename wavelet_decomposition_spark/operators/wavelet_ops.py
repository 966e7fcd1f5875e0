"""DWT / MODWT pyramids over windows of sparse activity series
(north star: per-scale detail/approximation coefficients and energy spectra
as vectorized Arrow pandas UDFs).

Each conversation's series is laid on a regular grid of step
``sparse_fill_step`` and cut into fixed windows of ``window_len`` points
(dyadic: ``2**levels * k``). A row lands at grid position
``(ts - the conversation's first ts) / step``; grid points with no row stay
zero, so the zero gap-fill is fused into the window builder and the grid is
never materialized. The Python stage is bucketed (:func:`bucketed_apply`):
conversations hash into ``4 x`` the task count buckets, and one
``applyInPandas`` group is one such bucket of whole conversations. Inside
it, :func:`_window_matrix` scatters every window of the bucket into one
zero-padded (windows, window_len) matrix and the whole pyramid runs as
whole-matrix numpy calls (kernel/dwt.py), so per-conversation Python
overhead is amortized across the bucket.

Output: the Python stage emits the compact band form (BAND_SCHEMA — one row
per (conv_id, window_id, band) with coefficients packed as array<double>;
``dwt_window_bands``), which is also the right storage layout at scale. The
long per-coefficient view (COEF_SCHEMA: conv_id, window_id, wavelet, level,
k, coef_type, coef) is a JVM-side posexplode over it (``dwt_windows``).
level 1..J are details (finest first), level J approx rows carry
coef_type='approx'. Energy spectra are a relational groupBy over the long
table — sum(coef*coef) per (conv_id, window_id, level, coef_type) —
mirroring the reference's per-scale energy analytics (SURVEY.md A7).
"""

from __future__ import annotations

import logging

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..kernel import dwt as kdwt
from ..plans.session import worker_kernel
from ._time import us

_log = logging.getLogger(__name__)

COEF_SCHEMA = (
    "conv_id string, window_id int, wavelet string, level int, k int, "
    "coef_type string, coef double"
)

# compact band form: one row per (conversation, window, band), coefficients
# packed as array<double> — what the Python stage emits (see dwt_windows)
BAND_SCHEMA = (
    "conv_id string, window_id int, wavelet string, level int, "
    "coef_type string, coefs array<double>"
)


def python_stage_partitions(projected: DataFrame) -> int:
    """SIZE-DERIVED task count for a Python-CPU-bound bucketed stage
    (guide §2: make partitioning scale-adaptive — derive from input
    size — rather than a constant tuned for one deployment).

    Targets ~2 MB of (already projected) input per task at the small
    end, and caps per-task input at ~64 MB once the data is large enough
    to keep every core busy anyway. Each Python task pays a fixed cost
    that a fleet of 3k-row tasks cannot amortize (measured on the flagship
    1m tier: 64 fixed tasks = 1.3 s, 32 = 0.8 s for the identical kernel).
    Most of it was pyspark's per-task ``importlib.invalidate_caches()``
    re-reading the Spark distribution's zip archives, which
    :func:`~wavelet_decomposition_spark.plans.session.worker_kernel` now
    avoids. The task count never drops below ``defaultParallelism``:
    Catalyst's size estimate is unreliable below a generated/exploded
    lineage, and a Python-CPU-heavy kernel must keep every core busy even
    when its input bytes are few (measured: the db4 VisuShrink kernel
    serialized onto a handful of tasks regressed 1.9 s -> 5.3 s before
    this floor). Falls back to ``2 * defaultParallelism`` when Catalyst
    has no usable estimate. Each decision is logged with its inputs.
    """
    dp = projected.sparkSession.sparkContext.defaultParallelism
    try:
        b = int(
            projected._jdf.queryExecution().optimizedPlan().stats()
            .sizeInBytes()
        )
    except Exception as e:
        _log.warning(
            "python_stage_partitions: no size estimate (%s), "
            "defaultParallelism=%d -> %d tasks", type(e).__name__, dp, dp * 2,
        )
        return dp * 2
    if b <= 0 or b > (1 << 60):  # Catalyst's "unknown" is ~8 EiB
        n = dp * 2
    else:
        n = max(dp, min(b // (2 << 20), max(dp * 4, b // (64 << 20))))
    _log.info(
        "python_stage_partitions: sizeInBytes=%d, defaultParallelism=%d "
        "-> %d tasks", b, dp, n,
    )
    return n


def bucketed_apply(
    projected: DataFrame,
    group_col: str,
    fn,
    schema: str,
    n_partitions: int | None = None,
) -> DataFrame:
    """Run the grouped-map ``fn`` over hash buckets of ``group_col`` — the
    bucketing policy of the wavelet operators and the block codecs
    (``tsfeatures.holt_winters`` hashes its series into its own
    ``n_buckets`` buckets instead).

    ``projected`` must hold only the columns ``fn`` reads: Catalyst cannot
    prune columns INTO a grouped-map UDF (the whole row ships through
    Arrow). The task count defaults to :func:`python_stage_partitions`
    (AQE's byte-based coalescing can't see Python CPU). Each call of ``fn``
    gets one of ``n_partitions * 4`` buckets of whole ``group_col`` values.
    The explicit repartition on the bucket key both pins the task count and
    satisfies the groupBy clustering, so the stage adds exactly one
    exchange.
    """
    if n_partitions is None:
        n_partitions = python_stage_partitions(projected)
    bucketed = projected.withColumn(
        "_bucket", F.pmod(F.hash(group_col), F.lit(n_partitions * 4))
    )
    return (
        bucketed.repartition(n_partitions, "_bucket")
        .groupBy("_bucket")
        .applyInPandas(worker_kernel(fn), schema=schema)
    )


def _window_args(levels, window_len, sparse_fill_step, dyadic=True):
    """``(window_len, step_us)`` of a windowed operator.

    ``window_len`` defaults to ``2**levels * 8``. A decimating transform
    (``dyadic``) halves each window ``levels`` times, so any other length
    is rejected here on the driver instead of in every Python task after
    the shuffle. ``step_us`` is the grid step ``sparse_fill_step`` in
    microseconds."""
    if window_len is None:
        window_len = (2**levels) * 8
    if dyadic and window_len % (2**levels):
        raise ValueError("window_len must be divisible by 2**levels")
    step_us = int(pd.Timedelta(sparse_fill_step).total_seconds() * 1e6)
    return window_len, step_us


def _window_matrix(pdf, group_col, ts_col, value_col, step_us, window_len):
    """Scatter one bucket's rows into a zero-padded (windows, window_len)
    matrix ``M``; returns ``(M, win_conv, win_id)`` with the conversation
    and per-conversation window id of each row of ``M``.

    A row's position is (ts - conv's first ts) / step; absent grid points
    simply never get scattered — they stay zero in the window matrix, which
    is precisely ``gapfill_zero``'s output for count series."""
    pdf = pdf.sort_values([group_col, ts_col])
    codes, uniques = pd.factorize(pdf[group_col], sort=False)
    counts = np.bincount(codes)
    starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
    ts = pdf[ts_col].to_numpy(dtype="datetime64[us]").view(np.int64)
    delta = ts - ts[starts][codes]
    if (delta % step_us).any():
        raise ValueError(
            "sparse_fill_step: input timestamps are not aligned to the "
            "fill grid — off-grid rows would silently collide into the "
            "wrong window cell"
        )
    pos = delta // step_us
    if ((codes[1:] == codes[:-1]) & (pos[1:] <= pos[:-1])).any():
        raise ValueError(
            "sparse_fill_step: duplicate (group, ts) rows — aggregate "
            "to the grid step before the pyramid stage"
        )
    last = pos[starts + counts - 1]
    nwin = np.maximum(1, -(-(last + 1) // window_len))
    win_base = np.concatenate(([0], np.cumsum(nwin)[:-1]))
    M = np.zeros((int(nwin.sum()), window_len), dtype=np.float64)
    M[win_base[codes] + pos // window_len, pos % window_len] = (
        pdf[value_col].to_numpy(dtype=np.float64)
    )
    win_code = np.repeat(np.arange(counts.size), nwin)
    win_conv = np.asarray(uniques, dtype=object)[win_code]
    win_id = (np.arange(len(M)) - win_base[win_code]).astype(np.int32)
    return M, win_conv, win_id


def _bands(M, wavelet, levels, transform):
    """``[(level, C, coef_type)]`` of ``transform`` over the rows of ``M``:
    the details finest first, then the approximation — or, for ``wpt``,
    the ``2**levels`` leaf bands in natural (Paley) order."""
    if transform == "wpt":
        return [
            (levels, C, f"band{i:02d}")
            for i, C in enumerate(kdwt.wpt_batch(M, wavelet, levels))
        ]
    batch = kdwt.dwt_batch if transform == "dwt" else kdwt.modwt_batch
    details, approx = batch(M, wavelet, levels)
    return [
        *(((j + 1), d, "detail") for j, d in enumerate(details)),
        (levels, approx, "approx"),
    ]


def _band_frame(win_conv, win_id, wavelet, bands, col, values):
    """Band-major output frame: one row per (band, window) carrying
    ``values`` (band-major, window within) as column ``col``."""
    lvls, _, types = zip(*bands)
    n_win = len(win_id)
    return pd.DataFrame(
        {
            "conv_id": np.tile(win_conv, len(bands)),
            "window_id": np.tile(win_id, len(bands)),
            "wavelet": wavelet,
            "level": np.repeat(np.array(lvls, dtype=np.int32), n_win),
            "coef_type": np.repeat(np.array(types, dtype=object), n_win),
            col: values,
        }
    )


def dwt_window_bands(
    series: DataFrame,
    value_col: str,
    wavelet: str = "haar",
    levels: int = 5,
    window_len: int | None = None,
    transform: str = "dwt",
    group_col: str = "conv_id",
    ts_col: str = "bucket_ts",
    *,
    sparse_fill_step: str,
) -> DataFrame:
    """Pyramid-transform each conversation's series on its grid.

    ``window_len`` defaults to ``2**levels * 8``; tail windows are zero-padded
    to the dyadic length (zero turns = genuinely zero activity, so padding is
    semantically the zero-fill continued).

    ``sparse_fill_step`` is the grid step (e.g. ``"1 minute"``) and fuses
    the zero gap-fill into the window builder: the input is the sparse
    tier, each row lands at position ``(ts - min(ts) per conv) / step`` and
    the missing grid points stay zero — the same windows as over
    ``gapfill_zero``'s output (asserted by tests/test_wavelet_ops_spark.py),
    without the exploded grid's join and shuffle. Timestamps off the grid
    and duplicate grid points are errors.
    """
    if transform not in ("dwt", "modwt"):
        raise ValueError(transform)
    window_len, step_us = _window_args(
        levels, window_len, sparse_fill_step, dyadic=transform != "modwt"
    )

    def _pyramid_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        M, win_conv, win_id = _window_matrix(
            pdf, group_col, ts_col, value_col, step_us, window_len
        )
        bands = _bands(M, wavelet, levels, transform)
        # one output row per (window, band): the per-coefficient long rows
        # (window_len rows per window, conv_id string repeated for each) made
        # the Arrow exchange and the workers' allocation churn the dominant
        # cost at scale — the k-explosion now happens JVM-side (dwt_windows)
        coefs = [row for _, C, _ in bands for row in np.ascontiguousarray(C)]
        return _band_frame(win_conv, win_id, wavelet, bands, "coefs", coefs)

    return bucketed_apply(
        series.select(group_col, ts_col, value_col), group_col,
        _pyramid_bucket, BAND_SCHEMA,
    )


def dwt_windows(
    series: DataFrame,
    value_col: str,
    wavelet: str = "haar",
    levels: int = 5,
    window_len: int | None = None,
    transform: str = "dwt",
    group_col: str = "conv_id",
    ts_col: str = "bucket_ts",
    *,
    sparse_fill_step: str,
) -> DataFrame:
    """Long-format coefficient table (COEF_SCHEMA, one row per coefficient).

    The per-coefficient fan-out is a JVM-side ``posexplode`` over
    :func:`dwt_window_bands`' ``array<double>`` column —
    whole-stage-codegen'd, never through Python.
    """
    bands = dwt_window_bands(
        series, value_col, wavelet=wavelet, levels=levels,
        window_len=window_len, transform=transform, group_col=group_col,
        ts_col=ts_col, sparse_fill_step=sparse_fill_step,
    )
    return bands.select(
        "conv_id", "window_id", "wavelet", "level", "coef_type",
        F.posexplode("coefs").alias("k", "coef"),
    ).select(
        "conv_id", "window_id", "wavelet", "level",
        F.col("k").cast("int").alias("k"), "coef_type", "coef",
    )


def haar_dwt_relational(
    series: DataFrame,
    levels: int,
    window_len: int,
    *,
    sparse_fill_step: str,
) -> DataFrame:
    """Closed-form Haar pyramid of the ``turns`` column as PURE relational
    ops — the independent verification twin of
    ``dwt_windows(wavelet='haar')``.

    Haar's level-``l`` detail coefficient over a dyadic window is the
    closed form ``2^(-l/2) * (sum of the block's first half - sum of its
    second half)`` and the final approximation is ``2^(-L/2) * block
    sum`` (the 2-tap filter never wraps, so periodization is invisible).
    That makes the whole pyramid expressible as ONE explode (``levels+1``
    signed contributions per input point, each tagged with its
    ``(level, k, coef_type)``) followed by ONE hash aggregate — no
    Python stage anywhere, a completely disjoint computation path from
    the ``applyInPandas`` numpy kernel it verifies. Signed contributions
    are summed in the ``turns`` column's own (integer) type, so for count
    series the block sums are exact and the only float op is the final
    ``2^(-l/2)`` scaling.

    A point's position is derived from its timestamp exactly as the
    kernel's: ``(ts - the group's first ts) / sparse_fill_step``.

    Output matches COEF_SCHEMA minus the ``wavelet`` column. Blocks with
    no input rows (grid gaps and zero-padded tail positions the kernel
    materializes as explicit 0.0 coefficients) emit NO row here — callers
    compare with a left join and ``coalesce(rel_coef, 0)``.
    """
    window_len, step_us = _window_args(levels, window_len, sparse_fill_step)
    w = Window.partitionBy("conv_id")
    pos = F.floor((us("bucket_ts") - F.min(us("bucket_ts")).over(w)) / step_us)
    base = series.select(
        "conv_id",
        F.floor(pos / window_len).cast("int").alias("window_id"),
        (pos % window_len).alias("_p"),
        F.col("turns").alias("_v"),
    )
    entries = []
    for lvl in range(1, levels + 1):
        blk, half = 2**lvl, 2 ** (lvl - 1)
        entries.append(
            F.struct(
                F.lit(lvl).alias("level"),
                F.floor(F.col("_p") / blk).cast("int").alias("k"),
                F.lit("detail").alias("coef_type"),
                F.when(F.col("_p") % blk < half, F.col("_v"))
                .otherwise(-F.col("_v"))
                .alias("sv"),
            )
        )
    entries.append(
        F.struct(
            F.lit(levels).alias("level"),
            F.floor(F.col("_p") / (2**levels)).cast("int").alias("k"),
            F.lit("approx").alias("coef_type"),
            F.col("_v").alias("sv"),
        )
    )
    return (
        base.select(
            "conv_id",
            "window_id",
            F.explode(F.array(*entries)).alias("e"),
        )
        .groupBy(
            "conv_id", "window_id", "e.level", "e.coef_type", "e.k"
        )
        .agg(F.sum("e.sv").alias("_s"))
        .select(
            "conv_id",
            "window_id",
            "level",
            F.col("k").cast("int").alias("k"),
            "coef_type",
            (
                F.col("_s")
                * F.pow(F.lit(2.0), -F.col("level") / F.lit(2.0))
            ).alias("coef"),
        )
    )


def energy_spectrum(coefs: DataFrame) -> DataFrame:
    """Per-scale energy — relational aggregation over the coefficient table
    (sum of squares; Parseval ties the total to the input energy).

    Scale note: this re-shuffles one row per coefficient. When only the
    spectrum is needed (not the coefficient table), use
    :func:`energy_windows`, which computes the same numbers inside the
    pyramid UDF pass and never materializes per-coefficient rows."""
    return (
        coefs.groupBy("conv_id", "window_id", "wavelet", "level", "coef_type")
        .agg(F.sum(F.col("coef") * F.col("coef")).alias("energy"))
    )


ENERGY_SCHEMA = (
    "conv_id string, window_id int, wavelet string, level int, "
    "coef_type string, energy double"
)


def energy_windows(
    series: DataFrame,
    value_col: str,
    wavelet: str = "haar",
    levels: int = 5,
    window_len: int | None = None,
    transform: str = "dwt",
    group_col: str = "conv_id",
    ts_col: str = "bucket_ts",
    *,
    sparse_fill_step: str,
) -> DataFrame:
    """Per-scale energy spectrum computed inside the pyramid pass — one
    ``einsum`` per level per bucket, output one row per
    (conv, window, level, coef_type) instead of one per coefficient.

    Same numbers as ``energy_spectrum(dwt_windows(...))`` (float64-tolerance:
    the in-UDF sum is a single vectorized reduction) without the
    per-coefficient shuffle — at 10^12 turns that shuffle, not the math, is
    the bottleneck. ``sparse_fill_step`` is the grid step, exactly as in
    :func:`dwt_window_bands`.

    ``transform="wpt"`` emits the FULL wavelet-packet tree's ``2**levels``
    leaf bands (uniform frequency resolution — the right basis when the
    interesting rhythm lives mid-band, where the pyramid's detail bands
    are coarsest) as rows ``(level=levels, coef_type='bandNN')`` in
    natural (Paley) order; the orthonormal Parseval identity holds over
    the leaf set exactly as over the pyramid's bands."""
    if transform not in ("dwt", "modwt", "wpt"):
        raise ValueError(transform)
    window_len, step_us = _window_args(
        levels, window_len, sparse_fill_step, dyadic=transform != "modwt"
    )

    def _energy_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        M, win_conv, win_id = _window_matrix(
            pdf, group_col, ts_col, value_col, step_us, window_len
        )
        bands = _bands(M, wavelet, levels, transform)
        energies = np.concatenate(
            [np.einsum("ij,ij->i", C, C) for _, C, _ in bands]
        )
        return _band_frame(win_conv, win_id, wavelet, bands, "energy", energies)

    return bucketed_apply(
        series.select(group_col, ts_col, value_col), group_col,
        _energy_bucket, ENERGY_SCHEMA,
    )


DENOISE_SCHEMA = (
    "conv_id string, window_id int, wavelet string, n int, sigma double, "
    "threshold double, input_energy double, coef_energy double, "
    "den_energy double, n_zeroed int, n_detail int, "
    "roundtrip_rel_err double, denoised array<double>"
)


def denoise_windows(
    series: DataFrame,
    value_col: str,
    wavelet: str = "db4",
    levels: int = 4,
    window_len: int | None = None,
    threshold: float | str = "universal",
    mode: str = "soft",
    group_col: str = "conv_id",
    ts_col: str = "bucket_ts",
    *,
    sparse_fill_step: str,
) -> DataFrame:
    """Wavelet shrinkage denoising per dyadic window (Donoho–Johnstone
    VisuShrink, public algorithm): DWT -> estimate the noise scale from the
    FINEST detail band's MAD (``sigma = median(|d1|)/0.6745`` — the finest
    band is almost pure noise for smooth signals) -> soft/hard-threshold
    every detail coefficient at the universal threshold
    ``sigma * sqrt(2 ln n)`` (or a fixed ``threshold`` float) -> inverse
    DWT. The approximation band is never shrunk.

    Same bucketed execution shape as :func:`dwt_window_bands` (one Arrow
    task per conversation bucket, whole-bucket numpy, per-window output
    rows). Each output row carries its own verification scalars, all from
    identities the kernel cannot fake:

    - ``input_energy`` vs ``coef_energy``: Parseval (orthonormal DWT);
    - ``roundtrip_rel_err``: inverse(forward(x)) vs x computed on the
      UNSHRUNK coefficients in the same pass — perfect-reconstruction
      evidence rides every row;
    - ``den_energy <= input_energy``: shrinkage is pointwise |c'| <= |c| on
      an orthonormal basis, so reconstruction energy can only decrease;
    - ``n_zeroed`` of ``n_detail``: how much of the detail mass the
      threshold removed.

    ``sparse_fill_step`` is the grid step, exactly as in
    :func:`dwt_window_bands`.
    """
    if mode not in ("soft", "hard"):
        raise ValueError(mode)
    if isinstance(threshold, str) and threshold != "universal":
        raise ValueError(threshold)
    window_len, step_us = _window_args(levels, window_len, sparse_fill_step)

    def _denoise_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        M, win_conv, win_id = _window_matrix(
            pdf, group_col, ts_col, value_col, step_us, window_len
        )
        details, approx = kdwt.dwt_batch(M, wavelet, levels)
        input_energy = np.einsum("ij,ij->i", M, M)
        coef_energy = np.einsum("ij,ij->i", approx, approx)
        for d in details:
            coef_energy += np.einsum("ij,ij->i", d, d)

        sigma = np.median(np.abs(details[0]), axis=1) / 0.6745
        if threshold == "universal":
            thr = sigma * np.sqrt(2.0 * np.log(window_len))
        else:
            thr = np.full(len(M), float(threshold))

        shrunk = []
        n_zeroed = np.zeros(len(M), dtype=np.int64)
        n_detail = 0
        for d in details:
            n_detail += d.shape[1]
            a = np.abs(d)
            keep = a > thr[:, None]
            n_zeroed += ((~keep) & (a > 0)).sum(axis=1)
            if mode == "soft":
                shrunk.append(np.sign(d) * np.maximum(a - thr[:, None], 0.0))
            else:
                shrunk.append(np.where(keep, d, 0.0))

        den = kdwt.idwt_batch(shrunk, approx, wavelet)
        den_energy = np.einsum("ij,ij->i", den, den)
        roundtrip = kdwt.idwt_batch(details, approx, wavelet)
        rt_num = np.sqrt(np.einsum("ij,ij->i", roundtrip - M, roundtrip - M))
        rt_den = np.maximum(np.sqrt(input_energy), 1e-300)
        return pd.DataFrame(
            {
                "conv_id": win_conv,
                "window_id": win_id,
                "wavelet": wavelet,
                "n": np.int32(window_len),
                "sigma": sigma,
                "threshold": thr,
                "input_energy": input_energy,
                "coef_energy": coef_energy,
                "den_energy": den_energy,
                "n_zeroed": n_zeroed.astype(np.int32),
                "n_detail": np.int32(n_detail),
                "roundtrip_rel_err": rt_num / rt_den,
                "denoised": list(den),
            }
        )

    return bucketed_apply(
        series.select(group_col, ts_col, value_col), group_col,
        _denoise_bucket, DENOISE_SCHEMA,
    )
