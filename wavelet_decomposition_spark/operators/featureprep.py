"""Feature preparation: per-group winsorization (outlier clamping at
exact rank-based percentile bounds) — the standard robust-scaling step
before feature binning (`feature_binning`) or model training. Clamping
beats dropping for training pipelines: row count (and joinability) is
preserved while heavy tails stop dominating scale estimates.

Exactness discipline: the clamp bounds are ORDER STATISTICS, not
interpolated percentiles — engines disagree on percentile interpolation
conventions, but "the value at rank ceil(p*n) in the (value, id) total
order" is one integer everywhere. Ranks are computed with pure integer
arithmetic (``(p_pct*n + 99) div 100``), so the whole operator is
hash-exact cross-engine on integer-quantized values.

Scale shape (100 TB): one exchange on the group key for the rank
window; bounds reduce to ONE row per group (conditional aggregate) and
come back via a broadcast join — the clamp itself is a map-side
expression. For unbounded-cardinality value columns at extreme scale,
swap the rank window for the GK sketch (`sketch_quantiles`) exactly as
`feature_binning`'s docstring prescribes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def winsorize(
    df: DataFrame,
    value_col: str,
    group_col: str,
    id_col: str,
) -> DataFrame:
    """Clamp ``value_col`` (integer) to the per-group 5th and 95th
    percentile order statistics, at ranks ceil(5*n/100) and ceil(95*n/100)
    over the total order (value, id). Adds ``<value_col>_w`` (clamped), ``lo_bound``,
    ``hi_bound``, and ``clamped`` (-1 low / 0 no / +1 high).
    """
    w = Window.partitionBy(group_col).orderBy(value_col, id_col)
    n = F.count(F.lit(1)).over(Window.partitionBy(group_col))
    ranked = df.select(
        group_col,
        id_col,
        value_col,
        F.row_number().over(w).alias("_rn"),
        n.alias("_n"),
    )
    lo_rank = (F.lit(5) * F.col("_n") + 99) / 100
    hi_rank = (F.lit(95) * F.col("_n") + 99) / 100
    bounds = (
        ranked.withColumn("_lo_rank", F.floor(lo_rank).cast("bigint"))
        .withColumn("_hi_rank", F.floor(hi_rank).cast("bigint"))
        .groupBy(group_col)
        .agg(
            F.min(
                F.when(F.col("_rn") == F.col("_lo_rank"), F.col(value_col))
            ).alias("lo_bound"),
            F.min(
                F.when(F.col("_rn") == F.col("_hi_rank"), F.col(value_col))
            ).alias("hi_bound"),
        )
    )
    v = F.col(value_col)
    return (
        df.join(F.broadcast(bounds), group_col)
        .select(
            group_col,
            id_col,
            value_col,
            "lo_bound",
            "hi_bound",
            F.greatest(F.least(v, F.col("hi_bound")), F.col("lo_bound"))
            .alias(f"{value_col}_w"),
            F.when(v < F.col("lo_bound"), F.lit(-1))
            .when(v > F.col("hi_bound"), F.lit(1))
            .otherwise(F.lit(0))
            .alias("clamped"),
        )
    )
