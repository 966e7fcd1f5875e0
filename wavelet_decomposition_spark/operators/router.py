"""Tier router: pick which retention tier answers a time-range query.

The write side of the retention engine (rollup.py tiers, checkpoint.py
refresh/expiry) stores the same series at four resolutions; the read side
needs the symmetric decision: for a requested time range and point budget,
read the FINEST tier whose row count fits the budget — best available
detail without shipping a million raw rows to a 1,000-pixel chart. This is
the query-routing rule continuous-aggregate stores (TimescaleDB real-time
aggregates, Druid granularity selection) apply implicitly.

Also the retention constraint: a tier whose retention horizon has expired
for part of the range cannot answer it; the router degrades to the finest
tier that both fits the budget AND still covers the range start.

``read_tier_range`` then does the partition-pruned read: tiers are written
partitioned by calendar day (rollup.write_tier), so the day-range predicate
prunes partitions at planning time and the bucket_ts range prunes row
groups via parquet min/max stats — at 100 TB the scan opens only the
requested days of the requested tier.
"""

from __future__ import annotations

from datetime import datetime, timedelta

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .rollup import TIERS

#: tier -> bucket step in seconds
TIER_STEP = {tier: step for tier, (_, step) in TIERS.items()}


def choose_tier(
    start_ts: datetime,
    end_ts: datetime,
    max_points: int,
    retention_days: dict[str, int] | None = None,
    now: datetime | None = None,
) -> tuple[str, int]:
    """(tier, worst-case points per series) for a range + point budget.

    Finest-that-fits: the finest tier with span/step <= ``max_points``;
    if even the coarsest overflows the budget, the coarsest is returned
    anyway (the caller asked for more span than budget — downsample
    further with m4/lttb after the read). ``retention_days`` (tier ->
    horizon) excludes tiers already expired at ``start_ts``; if no
    surviving tier fits, the COARSEST surviving tier is returned —
    minimizing the budget excess — so the caller gets data plus the
    (documented) possibility of exceeding the budget rather than silence.
    """
    if end_ts <= start_ts:
        raise ValueError("empty range")
    if max_points < 1:
        raise ValueError("max_points must be >= 1")
    span = (end_ts - start_ts).total_seconds()
    ordered = sorted(TIER_STEP, key=TIER_STEP.get)

    def alive(t: str) -> bool:
        if not retention_days or t not in retention_days:
            return True
        anchor = now if now is not None else end_ts
        return start_ts >= anchor - timedelta(days=retention_days[t])

    surviving = [t for t in ordered if alive(t)] or [ordered[-1]]
    for t in surviving:
        if span / TIER_STEP[t] <= max_points:
            return t, int(-(-span // TIER_STEP[t]))
    t = surviving[-1]
    return t, int(-(-span // TIER_STEP[t]))


def read_tier_range(
    spark: SparkSession,
    base_path: str,
    tier: str,
    start_ts: datetime,
    end_ts: datetime,
) -> DataFrame:
    """Partition-pruned range read of one tier: the ``day`` predicate prunes
    whole partition directories at planning time, the ``bucket_ts``
    predicate prunes row groups from parquet min/max stats."""
    df = spark.read.parquet(f"{base_path}/tier={tier}")
    return df.where(
        (F.col("day") >= F.lit(start_ts.date().isoformat()))
        & (F.col("day") <= F.lit(end_ts.date().isoformat()))
        & (F.col("bucket_ts") >= F.lit(start_ts))
        & (F.col("bucket_ts") < F.lit(end_ts))
    )
