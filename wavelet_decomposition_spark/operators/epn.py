"""A6 — EPN storage-sizing analytics as a relational plan.

Reference: /root/reference/calc_EPN.py:3-43 — per time scale, sort |beta|,
take the ``ceil(satis * n / 100) - 1``-th order statistic as the discharge
threshold, then a clamped sum. Here:

- the order statistic is an exact rank join (row_number over the per-scale
  window, matched against the per-satisfaction target rank) — no
  approximate percentile, still one shuffle;
- the clamped sum is ``sum(least(abs(beta), thr))`` after broadcasting the
  tiny threshold table back onto the coefficients;
- satisfactions fan out via a broadcast cross join of a literal dim table.

Input: long coefficient table (series_id, scale_idx, beta) stacked across
years (the reference runs EPN on all-years-stacked betas,
wavelet_decomposition.py:302-319). Fully SQL-expressible -> DuckDB oracle
in __spark_entry__.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..kernel.wavelets import TIME_SCALES_HOURS


def epn(
    spark: SparkSession,
    betas: DataFrame,
    satisfactions,
    n_years: int,
    exact: bool = True,
    approx_accuracy: int = 10_000,
) -> DataFrame:
    """Returns (series_id, scale_idx, satisfaction, pmax, emax, n, uf, serv)
    over the reference's time scales (``TIME_SCALES_HOURS``), for a square
    dictionary, unit load factor and 365-day years.

    ``exact=False`` is the 100-TB escape hatch: the discharge threshold
    comes from ``percentile_approx`` (a GK sketch with map-side partial
    aggregation — one pass, no per-(group, scale) sort shuffle) instead of
    the exact rank join. The reference's semantics demand the exact order
    statistic (calc_EPN.py:23-33), so exact is the default and the oracle
    path; the approximate threshold differs by at most one
    1/approx_accuracy quantile step, and every downstream aggregate
    (clamped sum, cycles, uf, serv) is still computed exactly against the
    chosen threshold. Accuracy pinned in tests/test_epn.py."""
    scales_df = spark.createDataFrame(
        [(i, float(ts)) for i, ts in enumerate(TIME_SCALES_HOURS)],
        "scale_idx int, scale_hours double",
    )
    satis_df = spark.createDataFrame(
        [(float(s),) for s in satisfactions], "satisfaction double"
    )

    coeff = (
        betas.filter(F.col("scale_idx") < F.lit(len(TIME_SCALES_HOURS)))
        .select("series_id", "scale_idx", F.abs("beta").alias("abs_beta"))
    )
    if exact:
        w = Window.partitionBy("series_id", "scale_idx").orderBy("abs_beta")
        ranked = coeff.withColumn("rank", F.row_number().over(w))
        sizes = coeff.groupBy("series_id", "scale_idx").agg(
            F.count(F.lit(1)).alias("n_size")
        )

        # target rank per satisfaction: isatis + 1 (calc_EPN.py:23-24).
        # Edge case satis == 0 (ceil of any positive value is >= 1, so
        # only exactly-zero fires it): the reference computes
        # isatis = ceil(satis*n/100) - 1 = -1, and Python's negative
        # indexing silently selects the LARGEST |beta| (calc_EPN.py:32-33).
        # The rank join must reproduce that, not drop the cell: a raw
        # rank of 0 matches no row_number, so it is mapped to rank n
        # (the max order statistic) — pinned by
        # tests/test_epn.py::test_epn_satisfaction_zero_edge.
        raw_rank = F.ceil(
            F.col("satisfaction") * F.col("n_size") / 100.0
        ).cast("int")
        targets = (
            sizes.crossJoin(F.broadcast(satis_df))
            .select(
                F.col("series_id").alias("_g"),
                F.col("scale_idx").alias("_s"),
                "satisfaction",
                "n_size",
                F.when(raw_rank <= 0, F.col("n_size"))
                .otherwise(raw_rank)
                .alias("rank"),
            )
        )
        thresholds = targets.join(
            ranked,
            on=[
                targets["_g"] == ranked["series_id"],
                targets["_s"] == ranked["scale_idx"],
                targets["rank"] == ranked["rank"],
            ],
        ).select(
            F.col("_g").alias("series_id"),
            F.col("_s").alias("scale_idx"),
            "satisfaction",
            "n_size",
            F.col("abs_beta").alias("thr"),
        )
    else:
        # sketch path: one hash aggregate, partial-aggregated map-side —
        # the per-(group, scale) sort shuffle disappears entirely
        pcts = F.array(
            *[F.lit(float(s) / 100.0) for s in satisfactions]
        )
        satis_lit = F.array(*[F.lit(float(s)) for s in satisfactions])
        sk = coeff.groupBy("series_id", "scale_idx").agg(
            F.percentile_approx(
                "abs_beta", pcts, F.lit(int(approx_accuracy))
            ).alias("_thrs"),
            F.count(F.lit(1)).alias("n_size"),
        )
        thresholds = sk.select(
            "series_id",
            "scale_idx",
            "n_size",
            F.posexplode("_thrs").alias("_i", "thr"),
        ).select(
            "series_id",
            "scale_idx",
            F.element_at(satis_lit, F.col("_i") + 1).alias("satisfaction"),
            "n_size",
            "thr",
        )

    # clamped sum against each threshold (thresholds table is tiny)
    clamped = (
        coeff.join(
            F.broadcast(thresholds), on=["series_id", "scale_idx"]
        )
        .groupBy("series_id", "scale_idx", "satisfaction", "thr")
        .agg(F.sum(F.least(F.col("abs_beta"), F.col("thr"))).alias("clamped_sum"))
    )

    return (
        clamped.join(F.broadcast(scales_df), "scale_idx")
        .select(
            "series_id",
            "scale_idx",
            "satisfaction",
            F.col("thr").alias("pmax"),
            (F.col("thr") * F.col("scale_hours") / 2.0).alias("emax"),
            (F.col("clamped_sum") / F.col("thr") / F.lit(float(n_years))).alias("n"),
            (
                100.0
                * (F.col("clamped_sum") / F.col("thr") / F.lit(float(n_years)))
                * F.col("scale_hours")
                / F.lit(float(365 * 24))
            ).alias("uf"),
            (
                F.col("thr") * F.col("scale_hours") / 2.0
                * (F.col("clamped_sum") / F.col("thr") / F.lit(float(n_years)))
            ).alias("serv"),
        )
    )
