"""Gap-fill to a regular grid (SURVEY.md §2.8; the generalization of the
reference's positional-grid assumption — its signals are already dense, our
activity series are sparse in time).

Pure relational: per-group grid via sequence() + explode, left join back,
then either zero-fill (counts — a second with no turns IS zero turns) or
last-observation-carried-forward (gauges) with
``last(value, ignorenulls).over(rowsBetween(unboundedPreceding, 0))``
— the as-of-style fill named in SURVEY.md §2.3.

Scale note: the exploded grid is bounded by group time-span / step. The join
is on (conv_id, bucket_ts) — co-partitioned with the grid by construction.
The wavelet operators never build this grid: they fuse the zero fill into
their window builder (``sparse_fill_step`` in operators/wavelet_ops.py), and
:func:`gapfill_zero` is the oracle that fusion is tested against.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def time_grid(series: DataFrame, step: str = "1 second",
              group_col: str = "conv_id") -> DataFrame:
    """One row per (group, grid timestamp) spanning each group's [min, max]."""
    bounds = series.groupBy(group_col).agg(
        F.min("bucket_ts").alias("_t0"), F.max("bucket_ts").alias("_t1")
    )
    return bounds.select(
        group_col,
        F.explode(
            F.sequence("_t0", "_t1", F.expr(f"interval {step}"))
        ).alias("bucket_ts"),
    )


def gapfill_zero(series: DataFrame, step: str = "1 second") -> DataFrame:
    """Activity counts: missing buckets get 0 ``turns``, ``chars`` and
    ``tool_calls``. The oracle of the wavelet
    operators' fused zero fill: their windows over this output equal their
    windows over the sparse input."""
    grid = time_grid(series, step)
    filled = grid.join(series, ["conv_id", "bucket_ts"], "left")
    return filled.fillna(0, subset=["turns", "chars", "tool_calls"])


def gapfill_locf(series: DataFrame, value_cols, step: str = "1 second",
                 group_col: str = "conv_id") -> DataFrame:
    """Gauges: missing buckets carry the last observed value forward."""
    grid = time_grid(series, step, group_col)
    filled = grid.join(series, [group_col, "bucket_ts"], "left")
    w = (
        Window.partitionBy(group_col)
        .orderBy("bucket_ts")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    for c in value_cols:
        filled = filled.withColumn(c, F.last(c, ignorenulls=True).over(w))
    return filled


def gapfill_interp(series: DataFrame, value_cols, step: str = "1 second",
                   group_col: str = "conv_id") -> DataFrame:
    """Continuous gauges: missing interior buckets are linearly
    interpolated between the surrounding observations; leading/trailing
    buckets with no observation on one side stay null (compose with
    :func:`gapfill_locf` if extrapolation is wanted — mixing the two
    policies silently is how resampled training series grow phantom
    trends).

    Single-shuffle shape like LOCF: the grid join is co-partitioned by
    construction; the two carry windows (last-before, first-after) share
    one exchange. The forward carry is deliberately an ``unboundedPreceding``
    frame over a DESC sort — NOT ``rowsBetween(0, unboundedFollowing)``:
    Spark streams unbounded-preceding frames in O(n) per partition but
    re-scans to the partition end for every row of an unbounded-FOLLOWING
    frame (O(n^2) — measured minutes vs seconds on a 400k-row group at
    sf0.1). Cost: one extra sort of the same exchange, O(n log n).
    Identical window SQL runs on any warehouse (the driver's DuckDB oracle
    uses ``IGNORE NULLS`` ``last_value``/``first_value`` the same way).
    """
    grid = time_grid(series, step, group_col)
    filled = grid.join(series, [group_col, "bucket_ts"], "left")
    wb = (
        Window.partitionBy(group_col)
        .orderBy("bucket_ts")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wf = (
        Window.partitionBy(group_col)
        .orderBy(F.desc("bucket_ts"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    t = F.unix_micros(F.col("bucket_ts").cast("timestamp"))
    for c in value_cols:
        obs_t = F.when(F.col(c).isNotNull(), t)
        pv = F.last(c, ignorenulls=True).over(wb)
        pt = F.last(obs_t, ignorenulls=True).over(wb)
        # DESC frame runs from the group's max ts down to the current row,
        # so the NEAREST following observation is the LAST non-null in it
        nv = F.last(c, ignorenulls=True).over(wf)
        nt = F.last(obs_t, ignorenulls=True).over(wf)
        # ratio-first form: (t-pt)/(nt-pt) is scale-invariant (micros here,
        # seconds in a SQL oracle — IEEE division of equal exact quotients
        # is bit-identical), so downstream engines agree to the last ulp
        interp = F.when(
            pt == nt, pv  # an observed bucket: both carries land on itself
        ).otherwise(
            pv + (nv - pv) * ((t - pt) / (nt - pt))
        )
        filled = filled.withColumn(c, interp)
    return filled
