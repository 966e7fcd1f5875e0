"""Rescaled-range (R/S) analysis, the statistics under the Hurst
exponent — long-memory detection for grouped series. The reference
engine characterizes multi-scale structure through its wavelet dictionaries
(`wavelet_decomposition.py:103-192` fixes the scales a priori); R/S
analysis answers the inverse question — *how much* long-range
dependence a series carries — with one number per series: H ~ 0.5 for
memoryless noise, H -> 1 for strongly trending / persistent series,
H < 0.5 for mean-reverting ones. It is the classical pre-test for
whether the deep wavelet scales are worth computing at all.

Algorithm (Hurst 1951 / Mandelbrot-Wallis): for each window size n in
a dyadic ladder, split the series into consecutive full chunks of n
points; per chunk, take the range R of the cumulative deviations from
the chunk mean and the population std S; average R/S over chunks; H is
the slope of log2(mean R/S) against log2(n).

Exactness discipline (the cross-engine hash gate): callers feed exact
integer values (quantized micro-units). Chunk sums and sums of squares
are then exact BIGINTs; chunk means are exact doubles when n is a
power of two; every cumulative deviation Z_t = cumsum - t*mean is a
difference of exactly-representable doubles; S is one correctly-rounded
IEEE sqrt of an exact rational, R/S one correctly-rounded division.
The per-(key, n) aggregate ships as floor(R/S * 1e6) BIGINT sums, so
summation order cannot perturb a single bit. The module stops at these
sufficient statistics: the log-log slope on top of them leaves the
deterministic regime (libm log implementations differ across engines
by ulps), so it is left to the caller.

Scale shape (100 TB): everything is window functions + hash aggregates
partitioned by (key, n, chunk) — ONE exchange on the group key ladder
(sizes fan out map-side via explode of a tiny literal array), one
window sort per partition bounded by the retention tier, then two
shrinking hash aggregates (chunk -> (key, n) -> key). No Python stage,
no collect, no join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_SIZES = (8, 16, 32, 64)


def rs_ladder(
    series: DataFrame,
    value_col: str = "v",
    group_col: str = "series_id",
    sizes: tuple[int, ...] = DEFAULT_SIZES,
) -> DataFrame:
    """Per-(group, window size) rescaled-range statistics over each group's
    ``bucket_ts`` order:
    ``(group, n, n_chunks, sum_rs_micro)`` where ``sum_rs_micro`` is
    the BIGINT sum over full chunks of ``floor(R/S * 1e6)`` (zero-std
    chunks excluded — R/S is undefined on a constant chunk, and both
    conventions agree that it carries no scaling information).

    ``value_col`` must be an exact integer column (cast to BIGINT
    here); ``sizes`` must be powers of two so chunk means divide
    exactly — asserted.
    """
    for n in sizes:
        assert n >= 2 and (n & (n - 1)) == 0, (
            f"window size {n} must be a power of two >= 2 "
            "(exact chunk means require a dyadic divisor)"
        )
    x = F.col("_x")
    laddered = (
        series.select(
            F.col(group_col).alias("_g"),
            F.col("bucket_ts").alias("_ts"),
            F.col(value_col).cast("bigint").alias("_x"),
        )
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("_g").orderBy("_ts")
            )
            - 1,
        )
        # dyadic ladder fan-out: tiny literal array, map-side explode —
        # each row lands in exactly one chunk per size
        .withColumn("_n", F.explode(F.array(*[F.lit(n) for n in sizes])))
        .withColumn(
            "_chunk", F.floor(F.col("_rn") / F.col("_n")).cast("bigint")
        )
    )
    cw = Window.partitionBy("_g", "_n", "_chunk")
    seq = cw.orderBy("_rn")
    run = seq.rowsBetween(Window.unboundedPreceding, 0)
    with_stats = laddered.select(
        "_g",
        "_n",
        "_chunk",
        "_x",
        F.count(F.lit(1)).over(cw).alias("_cnt"),
        F.sum("_x").over(cw).alias("_s1"),
        F.sum(x * x).over(cw).alias("_s2"),
        F.sum("_x").over(run).alias("_cum"),
        F.row_number().over(seq).alias("_t"),
    ).where(F.col("_cnt") == F.col("_n"))
    # Z_t = cumsum_t - t * mean, written as exact-double arithmetic:
    # t*s1 stays far inside 2^53, /n is a power-of-two shift
    z = (
        F.col("_cum").cast("double")
        - (F.col("_t") * F.col("_s1")).cast("double") / F.col("_n")
    )
    chunks = (
        with_stats.withColumn("_z", z)
        .groupBy("_g", "_n", "_chunk")
        .agg(
            (F.max("_z") - F.min("_z")).alias("_r"),
            F.first("_s1").alias("_s1"),
            F.first("_s2").alias("_s2"),
        )
        .withColumn(
            "_var",
            (
                F.col("_s2").cast("double")
                - (F.col("_s1") * F.col("_s1")).cast("double")
                / F.col("_n")
            )
            / F.col("_n"),
        )
        .where(F.col("_var") > 0)
        .withColumn("_rs", F.col("_r") / F.sqrt(F.col("_var")))
    )
    return (
        chunks.groupBy(
            F.col("_g").alias(group_col), F.col("_n").alias("n")
        )
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(
                F.floor(F.col("_rs") * F.lit(1_000_000.0)).cast("bigint")
            ).alias("sum_rs_micro"),
        )
    )
