"""Continuous-aggregate rollup tiers: raw(1s) -> 1m -> 1h -> 1d.

Each tier aggregates the previous one (not the raw table), so the work per
refresh is proportional to the finer tier's row count — the classic
continuous-aggregate cascade. Counts and sums compose exactly; derived
means are computed at read time (sum/count), never stored, so re-aggregation
is lossless (tier-vs-raw equivalence is a test invariant).

Late / out-of-order turns are handled by deterministic re-aggregation of the
affected (tier, day) partitions from the tier below (idempotent rebuild via
the checkpoint manifest, io/checkpoint.py) — the batch analogue of watermark
retraction, matching the reference's batch-only execution model.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .activity import ACTIVITY_COUNT_COLS

#: the one table of retention tiers, finest first: tier -> (``date_trunc``
#: unit, bucket step in seconds)
TIERS = {
    "raw": ("second", 1.0),
    "1m": ("minute", 60.0),
    "1h": ("hour", 3600.0),
    "1d": ("day", 86400.0),
}


def rollup_once(finer: DataFrame, tier: str) -> DataFrame:
    """Aggregate a finer tier into ``tier`` ('1m' | '1h' | '1d'). Applied
    to raw directly, it is the oracle the cascade is checked against."""
    unit = TIERS[tier][0]
    aggs = [F.sum(c).alias(c) for c in ACTIVITY_COUNT_COLS]
    return (
        finer.groupBy(
            "conv_id", F.date_trunc(unit, F.col("bucket_ts")).alias("bucket_ts")
        )
        .agg(*aggs)
    )


def build_tiers(raw: DataFrame) -> dict[str, DataFrame]:
    """The full cascade. Returns {tier: DataFrame} including 'raw'."""
    tiers = {"raw": raw}
    prev = raw
    for tier in ("1m", "1h", "1d"):
        prev = rollup_once(prev, tier)
        tiers[tier] = prev
    return tiers


def with_day(df: DataFrame) -> DataFrame:
    """Partitioning column for retention writes: calendar day."""
    return df.withColumn("day", F.to_date("bucket_ts"))


def write_tier(df: DataFrame, base_path: str, tier: str) -> None:
    """Overwrite one tier, partitioned by day (partition pruning for both
    the next tier's refresh and retention deletes — dropping a day =
    dropping a partition directory)."""
    (
        with_day(df)
        .repartition("day")
        .write.mode("overwrite")
        .partitionBy("day")
        .parquet(f"{base_path}/tier={tier}")
    )
