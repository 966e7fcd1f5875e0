"""Change-stream -> SCD2 version history (run-length encoding over time).

The ``snapshot_diff`` driver query (CDC between two snapshots) answers
"what changed between two table versions"; this is the complementary
primitive: given an APPEND-ONLY event stream carrying an attribute per key,
collapse consecutive runs of the same attribute value into validity
intervals — the slowly-changing-dimension type-2 table every warehouse
builds for point-in-time joins (valid_from/valid_to/is_current), and the
same run-length structure the reference's per-year series segmentation
implies between regime changes.

Shape at scale: one window per key (change flags + cumulative run ids —
per-key history is bounded, the classic sessionize partitioning), one hash
aggregate per (key, run), one final per-key window for valid_to. The
groupBy keys are a superset of the window's partition key, so hash
partitioning on ``key`` satisfies all three: Catalyst plans ONE shuffle
followed by co-partitioned aggregates/sorts (pinned in tests). No Python
anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def changes_to_scd2(
    df: DataFrame,
    key: str,
    attr: str,
    tiebreak: str | None = None,
) -> DataFrame:
    """Collapse the event stream into one row per run of equal ``attr``
    over ``ts`` order.

    Output: (key, version, attr, valid_from, valid_to, n_events,
    is_current) — version is 1-based per key in time order; valid_to is the
    NEXT run's valid_from (half-open intervals, so an as-of probe matches
    exactly one version); the last run has valid_to NULL / is_current true.

    NULL attrs form runs of their own (null-safe change comparison), and a
    key's very first event always opens version 1 even when the attribute
    is NULL.
    """
    order = [F.col("ts")] + ([F.col(tiebreak)] if tiebreak else [])
    w = Window.partitionBy(key).orderBy(*order)
    chg: Column = (
        (F.row_number().over(w) == 1)
        | ~F.col(attr).eqNullSafe(F.lag(attr).over(w))
    ).cast("long")
    runs = df.withColumn(
        "version", F.sum(chg).over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    grouped = runs.groupBy(key, "version", attr).agg(
        F.min("ts").alias("valid_from"),
        F.count(F.lit(1)).alias("n_events"),
    )
    w_out = Window.partitionBy(key).orderBy("valid_from")
    valid_to = F.lead("valid_from").over(w_out)
    return grouped.select(
        key,
        "version",
        attr,
        "valid_from",
        valid_to.alias("valid_to"),
        "n_events",
        valid_to.isNull().alias("is_current"),
    )
