"""Classic time-series analytics over grouped, timestamped series —
rolling statistics, EWMA smoothing, autocorrelation, robust anomaly
flagging, CUSUM change-point location, and additive seasonal
decomposition. The reference engine reaches these semantics only through
its fixed annual wavelet grids (`wavelet_decomposition.py` assumes dense
365*64 indices); a transcript/event workload needs them over arbitrary
per-key series, so they are engine-native generalizations, not ports.

Every operator here shares one scale shape: a single exchange on the
group key (or none, when the input is already bucketed by an upstream
rollup), whole-stage-codegen window/aggregate expressions, and zero
per-row Python. The only Python stage is EWMA's vectorized pandas kernel
— the same Arrow `applyInPandas` discipline as the wavelet pyramid, used
because an exponentially-decaying scan is the one recurrence a SQL window
frame cannot stream in O(n) (closed-form weight expansion overflows
(1-a)^-t past a few hundred rows).

At 100 TB: per-group series length is bounded by the retention tier (a
year of 1-minute buckets is 525,600 rows — one executor's window sort,
spill-safe), while the NUMBER of groups provides the parallelism. Skewed
group sizes are a non-issue for window ops (one pass), and the
aggregation operators (`acf`, `cusum`, `seasonal`) reduce to per-group
scalars map-side before any shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..plans.session import worker_kernel


def rolling_stats(
    series: DataFrame,
    value_col: str = "v",
) -> DataFrame:
    """Trailing-window mean/std/min/max over the last 24 observations
    (row-based frame: the series is already on a regular bucket grid —
    compose with ``gapfill_*`` first if it is not, or missing buckets
    silently shrink the window)."""
    w = (
        Window.partitionBy("series_id")
        .orderBy("bucket_ts")
        .rowsBetween(-23, 0)
    )
    v = F.col(value_col)
    return series.select(
        "series_id",
        "bucket_ts",
        value_col,
        F.avg(v).over(w).alias("roll_mean"),
        F.stddev_samp(v).over(w).alias("roll_std"),
        F.min(v).over(w).alias("roll_min"),
        F.max(v).over(w).alias("roll_max"),
        F.count(v).over(w).alias("roll_n"),
    )


def ewma(
    series: DataFrame,
    alpha: float = 0.2,
) -> DataFrame:
    """Exponentially-weighted moving average of ``v`` per ``series_id`` in
    ``bucket_ts`` order, ``adjust=False`` semantics: ``s_0 = x_0``;
    ``s_t = (1-alpha)*s_{t-1} + alpha*x_t``.

    One shuffle on the group key, then a vectorized pandas scan per group
    (C-implemented ``Series.ewm``; no Python-level per-row loop). A SQL
    window cannot express this recurrence without expanding weights
    ``(1-alpha)^(t-i)`` whose reciprocals overflow float64 beyond a few
    hundred rows, so the Arrow UDF is the honest plan — the same shape as
    the engine's wavelet kernels. An exact-recursion equivalence test
    pins the pandas kernel; the driver's DuckDB oracle replays the same
    recurrence as a recursive CTE.
    """
    import pandas as pd  # noqa: F401  (documents the kernel dependency)

    gtype = series.schema["series_id"].dataType.simpleString()
    out_schema = (
        f"series_id {gtype}, bucket_ts timestamp, v double, ewma double"
    )

    def fit(pdf):
        pdf = pdf.sort_values("bucket_ts")
        pdf = pdf[["series_id", "bucket_ts", "v"]]
        pdf["ewma"] = pdf["v"].ewm(alpha=alpha, adjust=False).mean()
        return pdf

    return series.select("series_id", "bucket_ts", "v").groupBy(
        "series_id"
    ).applyInPandas(worker_kernel(fit), schema=out_schema)


def acf(
    series: DataFrame,
    max_lag: int = 12,
) -> DataFrame:
    """Sample autocorrelation of ``v`` at lags ``1..max_lag`` per group:
    ``corr(x_t, x_{t-lag})`` over the aligned pairs (the "naive"
    per-lag-Pearson estimator — matches any SQL engine's ``corr`` on the
    same pair set, which is the point; the Bartlett-windowed estimator is
    a different statistic).

    Shape: index rows once per group, explode each row into its
    ``max_lag`` forward offsets, equi-join back on (group, idx) — one
    shuffle of n*max_lag rows, then a partial-aggregated ``corr`` per
    (group, lag). No per-lag window passes (which would sort n rows
    ``max_lag`` times)."""
    w = Window.partitionBy("series_id").orderBy("bucket_ts")
    base = series.select(
        "series_id",
        F.col("v").alias("_x"),
        (F.row_number().over(w) - 1).alias("_idx"),
    )
    lagged = base.select(
        "series_id",
        F.col("_x").alias("_y"),
        F.explode(
            F.sequence(F.lit(1), F.lit(max_lag))
        ).alias("lag"),
        F.col("_idx"),
    ).select(
        "series_id", "_y", "lag", (F.col("_idx") + F.col("lag")).alias("_idx")
    )
    pairs = base.join(lagged, ["series_id", "_idx"])
    return (
        pairs.groupBy("series_id", "lag")
        .agg(
            F.corr("_x", "_y").alias("acf"),
            F.count(F.lit(1)).alias("n_pairs"),
        )
        .orderBy("series_id", "lag")
    )


def brown_les(
    series: DataFrame,
    alpha: float = 0.25,
) -> DataFrame:
    """Brown's linear (double) exponential smoothing of ``v``: the classic
    trend-aware forecaster one notch up from EWMA. Two chained
    adjust=False EWMA passes — ``s1 = ewm(x)``, ``s2 = ewm(s1)`` — give
    ``level = 2*s1 - s2``, ``trend = alpha/(1-alpha) * (s1 - s2)``, and
    the one-step forecast ``level + trend``.

    Chosen over Holt's two-parameter form deliberately: Holt's coupled
    recurrences force a per-row Python loop, while Brown's reduction runs
    entirely in pandas' C ``ewm`` kernel — the same vectorization
    discipline as :func:`ewma`, at the cost of tying the trend gain to
    ``alpha``. Same scale shape as every operator here: one shuffle on
    the group key, Arrow batches, no Python-level row loop. The driver's
    DuckDB oracle replays both recurrences as recursive CTEs with
    identical IEEE op order (use a dyadic ``alpha`` so the constants are
    exact)."""
    import pandas as pd  # noqa: F401  (documents the kernel dependency)

    gtype = series.schema["series_id"].dataType.simpleString()
    out_schema = (
        f"series_id {gtype}, bucket_ts timestamp, "
        "v double, level double, trend double, forecast double"
    )
    gain = alpha / (1.0 - alpha)

    def fit(pdf):
        pdf = pdf.sort_values("bucket_ts")
        pdf = pdf[["series_id", "bucket_ts", "v"]]
        s1 = pdf["v"].ewm(alpha=alpha, adjust=False).mean()
        s2 = s1.ewm(alpha=alpha, adjust=False).mean()
        pdf["level"] = 2.0 * s1 - s2
        pdf["trend"] = gain * (s1 - s2)
        pdf["forecast"] = pdf["level"] + pdf["trend"]
        return pdf

    return series.select("series_id", "bucket_ts", "v").groupBy(
        "series_id"
    ).applyInPandas(worker_kernel(fit), schema=out_schema)


def cross_corr(
    series: DataFrame,
    id_a,
    id_b,
    max_lag: int = 6,
) -> DataFrame:
    """Cross-correlation of ``v`` between two named series at lags
    ``-max_lag .. max_lag``: ``xcorr(lag) = corr(a_t, b_{t-lag})`` over
    positionally aligned pairs (positive lag = b leads a). Assumes both series sit on
    the same bucket grid — compose with ``gapfill_*`` first; alignment is
    by row position within each series' time order, exactly like
    :func:`acf`.

    Shape: one row_number window per side, a single equi-join on the
    shifted index (the lag explode rides the smaller pair set), then a
    partial-aggregated ``corr`` per lag. Two shuffles total (window +
    join), both on bounded per-series data."""
    w = Window.partitionBy("series_id").orderBy("bucket_ts")
    base = series.where(
        F.col("series_id").isin([id_a, id_b])
    ).select(
        "series_id",
        F.col("v").alias("_x"),
        (F.row_number().over(w) - 1).alias("_idx"),
    )
    a = base.where(F.col("series_id") == id_a).select("_x", "_idx")
    b = base.where(F.col("series_id") == id_b).select(
        F.col("_x").alias("_y"), "_idx"
    )
    shifted = b.select(
        "_y",
        F.explode(
            F.sequence(F.lit(-max_lag), F.lit(max_lag))
        ).alias("lag"),
        "_idx",
    ).select("_y", "lag", (F.col("_idx") + F.col("lag")).alias("_idx"))
    pairs = a.join(shifted, ["_idx"])
    return (
        pairs.groupBy("lag")
        .agg(
            F.corr("_x", "_y").alias("xcorr"),
            F.count(F.lit(1)).alias("n_pairs"),
        )
        .orderBy("lag")
    )


def rolling_median(
    series: DataFrame,
) -> DataFrame:
    """Trailing 24-observation median of ``v`` — the robust twin of
    ``rolling_stats``'s mean (one wild outlier moves a 24-bucket mean by
    outlier/24 but the median not at all). Expressed as the ``percentile(0.5)`` aggregate
    over a rows-frame window: exact (sort-based, not a sketch), stays in
    the JVM, and — key for the oracle — both Spark and DuckDB define the
    even-count median as the mean of the two middle order statistics, so
    the result is bit-identical cross-engine on identical inputs.

    Cost note for 100 TB: an exact sliding median re-sorts the frame per
    row (O(n*k log k) per group vs O(n*k) for the running-sum stats);
    the bounded window and bounded per-group series keep it a
    within-task cost, and the GK-sketch path (`percentile_approx`) is the
    escape hatch for wide windows."""
    w = (
        Window.partitionBy("series_id")
        .orderBy("bucket_ts")
        .rowsBetween(-23, 0)
    )
    return series.select(
        "series_id",
        "bucket_ts",
        "v",
        F.expr("percentile(v, 0.5)").over(w).alias("roll_median"),
        F.count(F.lit(1)).over(w).alias("roll_n"),
    )


def theil_sen(series: DataFrame) -> DataFrame:
    """Theil–Sen robust trend: per group, the median of all pairwise
    slopes ``(v_j - v_i) / (t_j - t_i)`` — up to ~29% corrupted points
    move it boundedly where least-squares follows every outlier. Slope
    unit = value per hour.

    Plan: index rows once per group, one self equi-join on the group key
    (i < j predicate applied post-join), one ``percentile(0.5)``
    aggregate. Deliberately quadratic PER GROUP — n buckets make n²/2
    pair rows, so a year of hourly buckets is ~38M pairs per group:
    bounded, map-side-partial-aggregated, and parallel across groups.
    For per-group n beyond ~10^5, downsample first (``lttb_downsample``
    or a rollup tier) — the estimator is robust to exactly that."""
    from wavelet_decomposition_spark.operators._time import gran_us, us

    base = series.select(
        "series_id",
        (us("bucket_ts") / gran_us("1 hour")).alias("_t"),
        F.col("v").alias("_v"),
    )
    a = base.select(
        "series_id", F.col("_t").alias("_ta"), F.col("_v").alias("_va")
    )
    b = base.select(
        "series_id", F.col("_t").alias("_tb"), F.col("_v").alias("_vb")
    )
    pairs = a.join(b, "series_id").where(F.col("_ta") < F.col("_tb"))
    slope = (F.col("_vb") - F.col("_va")) / (F.col("_tb") - F.col("_ta"))
    # exact median via the two middle ORDER STATISTICS instead of
    # ``percentile(_s, 0.5)``: the percentile aggregate buffers every
    # slope into per-partition OpenHashMaps and ships those objects
    # through the exchange (no real map-side reduction exists for an
    # exact quantile), where a window sort ships plain rows through a
    # columnar shuffle — measured 2.9 s -> 1.8 s on the hourly fixture,
    # bit-identical output (same ``lo + 0.5*(hi-lo)`` interpolation the
    # percentile/quantile_cont formula produces at q=0.5; ties are
    # value-ties, so the k-th order statistic is deterministic).
    from pyspark.sql import Window

    sl = pairs.select("series_id", slope.alias("_s"))
    w_ord = Window.partitionBy("series_id").orderBy("_s")
    w_grp = Window.partitionBy("series_id")
    pos = (F.col("_n") - 1) / 2  # 0-indexed interpolation position
    mid = sl.select(
        "series_id",
        "_s",
        F.row_number().over(w_ord).alias("_rn"),
        F.count(F.lit(1)).over(w_grp).alias("_n"),
    ).where(
        (F.col("_rn") - 1 == F.floor(pos))
        | (F.col("_rn") - 1 == F.ceil(pos))
    )
    return (
        mid.groupBy("series_id")
        .agg(
            F.min("_s").alias("_lo"),
            F.max("_s").alias("_hi"),
            F.max("_n").alias("_n2"),
        )
        .select(
            "series_id",
            F.when(F.col("_n2") % 2 == 1, F.col("_lo"))
            .otherwise(F.col("_lo") + 0.5 * (F.col("_hi") - F.col("_lo")))
            .alias("slope_per_unit"),
            F.col("_n2").alias("n_pairs"),
        )
    )


def lttb_downsample(
    series: DataFrame,
    n_out: int = 500,
) -> DataFrame:
    """Largest-Triangle-Three-Buckets downsampling (Steinarsson 2013) of
    ``v`` to
    exactly ``min(n_out, n)`` points per group: the line-chart downsampler
    that preserves visual extremes better than striding. First and last
    points are always kept; each interior bucket contributes the point
    maximizing the triangle area with the PREVIOUSLY SELECTED point and
    the next bucket's centroid — an inherently sequential greedy, so this
    is an Arrow ``applyInPandas`` kernel like :func:`ewma`. The Python
    loop is per-BUCKET (n_out iterations), not per-row: each step's area
    argmax is a vectorized numpy slice, so cost is O(n) numpy work +
    O(n_out) interpreter steps per group.

    Complements :func:`m4_downsample` (per-pixel first/last/min/max, one
    JVM hash aggregate — use M4 when the grid is fixed and JVM-only
    matters; LTTB when a point budget and line-shape fidelity matter).

    At 100 TB: same argument as every per-group kernel here — groups
    parallelize, one group's series fits one task (bounded by the
    retention tier), output is n_out rows per group.
    """
    import numpy as np
    import pandas as pd  # noqa: F401

    if n_out < 3:
        raise ValueError("n_out must be >= 3")
    gtype = series.schema["series_id"].dataType.simpleString()
    out_schema = (
        f"series_id {gtype}, bucket_ts timestamp, v double"
    )

    def fit(pdf):
        pdf = pdf.sort_values("bucket_ts").reset_index(drop=True)
        n = len(pdf)
        if n <= n_out:
            return pdf[["series_id", "bucket_ts", "v"]]
        t = pdf["bucket_ts"].astype("int64").to_numpy().astype(np.float64)
        v = pdf["v"].to_numpy().astype(np.float64)
        # interior bucket boundaries over points 1..n-2 (endpoints pinned)
        edges = np.linspace(1, n - 1, n_out - 1).astype(np.int64)
        sel = np.empty(n_out, dtype=np.int64)
        sel[0] = 0
        a = 0
        for k in range(n_out - 2):
            lo, hi = edges[k], edges[k + 1]
            nlo, nhi = edges[k + 1], (
                edges[k + 2] if k + 2 < len(edges) else n
            )
            cx, cy = t[nlo:nhi].mean(), v[nlo:nhi].mean()
            area = np.abs(
                (t[a] - cx) * (v[lo:hi] - v[a])
                - (t[a] - t[lo:hi]) * (cy - v[a])
            )
            a = lo + int(np.argmax(area))
            sel[k + 1] = a
        sel[-1] = n - 1
        return pdf.iloc[sel][["series_id", "bucket_ts", "v"]]

    return series.select("series_id", "bucket_ts", "v").groupBy(
        "series_id"
    ).applyInPandas(worker_kernel(fit), schema=out_schema)


def m4_downsample(
    series: DataFrame,
    bucket: str = "1 hour",
) -> DataFrame:
    """M4 visualization downsampling (Jugel et al., VLDB'14) of ``v``: per
    time bucket keep exactly the first, last, min, and max points — the four
    values that make a line rendering of the bucket pixel-identical to
    the full-resolution series. ONE hash aggregate with map-side partial
    combine; ties on equal values/timestamps resolved by earliest
    timestamp (``min_by`` on a (v, ts) / (ts) struct) so output is
    partitioning-independent."""
    b = F.window(F.col("bucket_ts"), bucket)["start"].alias("bucket_start")
    v, t = F.col("v"), F.col("bucket_ts")
    return (
        series.groupBy("series_id", b)
        .agg(
            F.min_by(v, F.struct(t, v)).alias("first_v"),
            F.max_by(v, F.struct(t, v)).alias("last_v"),
            F.min(v).alias("min_v"),
            F.max(v).alias("max_v"),
            F.count(F.lit(1)).alias("n_points"),
        )
    )


def robust_anomalies(series: DataFrame) -> DataFrame:
    """Median/MAD outlier flags on ``v`` (Iglewicz–Hoaglin modified
    z-score:
    ``0.6745*(x-median)/MAD``, cut at 3.5). Mean/std anomaly scoring is
    circular — the anomalies inflate the std that is supposed to expose
    them; the 50% breakdown point of median/MAD is why every production
    monitor uses this form.

    Two exact ``percentile`` aggregates per group (map-side partial),
    broadcast back in one small join — the series itself is scanned
    twice but shuffled never (percentile partials and the tiny per-group
    stats move)."""
    med = series.groupBy("series_id").agg(
        F.percentile("v", F.lit(0.5)).alias("_med")
    )
    dev = series.join(F.broadcast(med), "series_id").select(
        "series_id",
        "bucket_ts",
        F.col("v"),
        F.col("_med"),
        F.abs(F.col("v") - F.col("_med")).alias("_adev"),
    )
    mad = dev.groupBy("series_id").agg(
        F.percentile("_adev", F.lit(0.5)).alias("_mad")
    )
    z = F.lit(0.6745) * (F.col("v") - F.col("_med")) / F.col("_mad")
    return dev.join(F.broadcast(mad), "series_id").select(
        "series_id",
        "bucket_ts",
        "v",
        z.alias("robust_z"),
        (F.abs(z) > 3.5).alias("is_anomaly"),
    )


def cusum_changepoint(series: DataFrame) -> DataFrame:
    """Single most-likely mean-shift location of ``v`` per group via the
    CUSUM statistic: ``S_t = cumsum(x - mean)``; the change point is the
    ``argmax |S_t|`` and the normalized statistic ``max|S|/(std*sqrt(n))``
    is the scale-free evidence size (≳1.36 ≈ 5% KS significance).

    One window cumsum (single exchange+sort per group) and one per-group
    ``max_by`` — the per-group outputs are scalars, so the final shuffle
    moves one row per series regardless of series length."""
    stats = Window.partitionBy("series_id")
    ordered = stats.orderBy("bucket_ts")
    wcum = ordered.rowsBetween(Window.unboundedPreceding, 0)
    v = F.col("v")
    cum = series.select(
        "series_id",
        "bucket_ts",
        (F.sum(v).over(wcum)
         - F.row_number().over(ordered)
         * F.avg(v).over(stats)).alias("_s"),
        F.stddev_samp(v).over(stats).alias("_sd"),
        F.count(v).over(stats).alias("_n"),
    )
    # argmax |S| with earliest-ts tie-break, partitioning-independent
    return cum.groupBy("series_id").agg(
        F.min_by("bucket_ts", F.struct(
            (-F.abs(F.col("_s"))).alias("a"), F.col("bucket_ts").alias("t")
        )).alias("cp_ts"),
        (F.max(F.abs("_s")) / (F.first("_sd") * F.sqrt(F.first("_n"))))
        .alias("cusum_stat"),
        F.first("_n").alias("n"),
    )


def seasonal_decompose(
    series: DataFrame,
    period: int = 24,
) -> DataFrame:
    """Additive seasonal decomposition of ``v``, moving-average flavor (the
    classical `decompose`): trend = centered (period+1)-point moving
    average (null at the edges where the window is incomplete — honest
    nulls, not zero-padding), seasonal = per-phase mean of the detrended
    interior re-centered to sum to zero, residual = x - trend - seasonal.

    Expects a gap-free regular grid (compose with ``gapfill_*``); phase
    is positional (row_number mod period), so a missing bucket would
    silently shift every later phase. Three window/aggregate passes over
    one exchange; per-phase means are a (group, phase) hash aggregate of
    scalars.

    Even periods use the classical 2xm MA — the average of the two
    adjacent m-point means, i.e. half weights on the two endpoints. A
    plain (period+1)-point flat average is NOT seasonal-orthogonal: it
    spans 25/24 of the cycle, leaking the seasonal component into the
    trend (measured: a pure daily sine scored trend_strength 0.97 under
    the flat window vs ~0 under 2xm). Odd periods use the flat
    period-point centered mean, which is exactly seasonal-orthogonal."""
    half = period // 2
    wobs = Window.partitionBy("series_id").orderBy("bucket_ts")
    v = F.col("v")
    if period % 2 == 0:
        wa = wobs.rowsBetween(-half, half - 1)
        wb = wobs.rowsBetween(-(half - 1), half)
        trend = F.when(
            (F.count(v).over(wa) == period)
            & (F.count(v).over(wb) == period),
            (F.sum(v).over(wa) + F.sum(v).over(wb))
            / F.lit(float(2 * period)),
        )
    else:
        wt = wobs.rowsBetween(-half, half)
        trend = F.when(
            F.count(v).over(wt) == period, F.avg(v).over(wt)
        )
    base = series.select(
        "series_id",
        "bucket_ts",
        v,
        ((F.row_number().over(wobs) - 1) % period).alias("phase"),
        trend.alias("trend"),
    )
    ph = base.groupBy("series_id", "phase").agg(
        F.avg(v - F.col("trend")).alias("_raw_seasonal")
    )
    ph = ph.select(
        "series_id",
        "phase",
        (F.col("_raw_seasonal")
         - F.avg("_raw_seasonal").over(Window.partitionBy("series_id")))
        .alias("seasonal"),
    )
    return base.join(F.broadcast(ph), ["series_id", "phase"]).select(
        "series_id",
        "bucket_ts",
        "v",
        "phase",
        "trend",
        "seasonal",
        (v - F.col("trend") - F.col("seasonal")).alias("residual"),
    )


def holt_winters(
    series: DataFrame,
    horizon: int | None = None,
    n_buckets: int = 64,
    verify: bool = True,
) -> DataFrame:
    """Additive Holt-Winters (triple exponential smoothing) fit +
    ``horizon``-step forecast per series, with a season of m = 24 steps
    and FIXED smoothing gains
    (a=0.3, b=0.05, g=0.2) — deterministic, no optimizer. ``brown_les``
    deliberately stops at Brown's single-gain form because Holt's coupled
    recurrences cannot
    ride pandas' C ``ewm`` kernel; this operator pays the recurrence the
    only scalable way: series are hash-bucketed (``pmod(xxhash64(id),
    n_buckets)``) and each Arrow batch pivots its bucket into an (S, T)
    matrix, so the Python loop runs over TIME STEPS only and every step
    is one vectorized numpy op across all S series — the same
    vectorize-the-bucket discipline as ``dwt_batch``
    (operators/wavelet_ops.py). Ragged buckets vectorize per distinct
    length.

    Standard additive recursion with ring-buffer seasonals (slot ``t %
    m`` holds the latest estimate for that phase):

      l_t = a*(x_t - s_{t-m}) + (1-a)*(l_{t-1} + b_{t-1})
      b_t = b*(l_t - l_{t-1}) + (1-b)*b_{t-1}
      s_t = g*(x_t - l_t)     + (1-g)*s_{t-m}

    seeded classically from the first two seasons (l_0 = mean season one,
    b_0 = (mean season two - mean season one)/m, s_i = x_i - l_0); an
    exactly periodic, trend-free series therefore fits with zero one-step
    error and forecasts its own next cycle exactly — the planted-series
    gate the driver query rides on. Series shorter than 2*m are
    dropped (cannot be seeded); forecasts cover h = 1..horizon (default
    one full season). ``sse`` sums the one-step fitted errors over t >=
    period.

    ``verify=True`` (gate artifact — pass False on the production path)
    re-runs the recursion per series as an independent scalar loop and
    sets ``dual_ok`` when level/trend/sse/forecasts agree to 1e-9
    relative — a transposed indexing or phase-slot bug cannot agree with
    the matrix path across every output.

    Expects a gap-free regular grid per series (compose with
    ``gapfill_*``); phase is positional. One exchange (the bucket hash);
    at 100 TB parallelism comes from the number of series, per-series
    state is O(m), and batch memory is S*T doubles per bucket — size
    ``n_buckets`` so a bucket's series fit one Arrow batch.
    """
    import numpy as np
    import pandas as pd

    m = 24
    H = int(horizon) if horizon is not None else m
    a, b, g = 0.3, 0.05, 0.2
    gtype = series.schema["series_id"].dataType.simpleString()
    out_schema = (
        f"series_id {gtype}, h int, forecast double, level double, "
        f"trend double, sse double, n long, dual_ok boolean"
    )

    def _run_matrix(X):
        S, T = X.shape
        lvl = X[:, :m].mean(axis=1)
        trend = (X[:, m : 2 * m].mean(axis=1) - lvl) / m
        season = X[:, :m] - lvl[:, None]
        sse = np.zeros(S)
        for t in range(m, T):
            j = t % m
            prev = lvl + trend
            e = X[:, t] - (prev + season[:, j])
            sse += e * e
            new_lvl = a * (X[:, t] - season[:, j]) + (1.0 - a) * prev
            trend = b * (new_lvl - lvl) + (1.0 - b) * trend
            season[:, j] = g * (X[:, t] - new_lvl) + (1.0 - g) * season[:, j]
            lvl = new_lvl
        hs = np.arange(1, H + 1)
        fc = (
            lvl[:, None]
            + hs[None, :] * trend[:, None]
            + season[:, (T + hs - 1) % m]
        )
        return lvl, trend, sse, fc

    def _run_scalar(xs):
        # independent reference: explicit python-float recursion with a
        # shifting (not ring-buffer) seasonal list — different state
        # layout, different index arithmetic, same math.
        T = len(xs)
        lvl = float(np.mean(xs[:m]))
        trend = (float(np.mean(xs[m : 2 * m])) - lvl) / m
        seasons = [float(x) - lvl for x in xs[:m]]  # s_{t-m} is seasons[0]
        sse = 0.0
        for t in range(m, T):
            s_lag = seasons.pop(0)
            prev = lvl + trend
            e = float(xs[t]) - (prev + s_lag)
            sse += e * e
            new_lvl = a * (float(xs[t]) - s_lag) + (1.0 - a) * prev
            trend = b * (new_lvl - lvl) + (1.0 - b) * trend
            seasons.append(g * (float(xs[t]) - new_lvl) + (1.0 - g) * s_lag)
            lvl = new_lvl
        fc = [
            lvl + h * trend + seasons[(h - 1) % m] for h in range(1, H + 1)
        ]
        return lvl, trend, sse, np.array(fc)

    def _close(x, y):
        return bool(
            np.all(np.abs(x - y) <= 1e-9 * np.maximum(1.0, np.abs(y)))
        )

    def fit(pdf):
        cols = {
            "series_id": [], "h": [], "forecast": [], "level": [],
            "trend": [], "sse": [], "n": [], "dual_ok": [],
        }
        by_len: dict = {}
        by_series = pdf.sort_values("bucket_ts").groupby(
            "series_id", sort=True
        )
        for sid, sg in by_series:
            xs = sg["v"].to_numpy(dtype=np.float64)
            if len(xs) >= 2 * m:
                by_len.setdefault(len(xs), []).append((sid, xs))
        for T, items in sorted(by_len.items()):
            X = np.stack([xs for _, xs in items])
            lvl, trend, sse, fc = _run_matrix(X)
            for i, (sid, xs) in enumerate(items):
                ok = True
                if verify:
                    l2, t2, s2, f2 = _run_scalar(xs)
                    ok = (
                        _close(l2, lvl[i])
                        and _close(t2, trend[i])
                        and _close(s2, sse[i])
                        and _close(f2, fc[i])
                    )
                for h in range(1, H + 1):
                    cols["series_id"].append(sid)
                    cols["h"].append(h)
                    cols["forecast"].append(float(fc[i, h - 1]))
                    cols["level"].append(float(lvl[i]))
                    cols["trend"].append(float(trend[i]))
                    cols["sse"].append(float(sse[i]))
                    cols["n"].append(T)
                    cols["dual_ok"].append(ok)
        return pd.DataFrame(cols)

    return (
        series.select("series_id", "bucket_ts", "v")
        .withColumn(
            "_bkt", F.pmod(F.xxhash64(F.col("series_id")), F.lit(n_buckets))
        )
        .groupBy("_bkt")
        .applyInPandas(worker_kernel(fit), schema=out_schema)
    )
