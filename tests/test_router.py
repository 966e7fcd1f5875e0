"""Tier router: finest-that-fits selection, retention degradation, and the
partition-pruned read path (reference parity: the read-side complement of the
retention cascade; the reference reads one resolution per plot —
wavelet_decomposition.py's per-year series loads — while a tiered store must
pick the resolution per query)."""

from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from wavelet_decomposition_spark.operators.router import (
    TIER_STEP,
    choose_tier,
    read_tier_range,
)
from wavelet_decomposition_spark.operators import rollup

T0 = datetime(2024, 1, 1)


def test_finest_that_fits():
    # 7 days, budget 200: raw=604800, 1m=10080, 1h=168 -> 1h
    tier, pts = choose_tier(T0, T0 + timedelta(days=7), 200)
    assert tier == "1h" and pts == 168
    # budget large enough for raw
    tier, pts = choose_tier(T0, T0 + timedelta(seconds=100), 1000)
    assert tier == "raw" and pts == 100
    # nothing fits -> coarsest anyway, caller downsamples after the read
    tier, pts = choose_tier(T0, T0 + timedelta(days=3650), 10)
    assert tier == "1d" and pts == 3650


def test_points_are_ceiling():
    tier, pts = choose_tier(T0, T0 + timedelta(seconds=90), 5)
    assert tier == "1m" and pts == 2  # 90s spans 2 minute buckets


def test_retention_excludes_expired_tiers():
    now = datetime(2024, 1, 31)
    start, end = datetime(2024, 1, 5), datetime(2024, 1, 6)
    retention = {"raw": 3, "1m": 10, "1h": 60, "1d": 3650}
    # 1 day at budget 1e9 would fit raw, but raw (3d) and 1m (10d) horizons
    # have passed Jan 5 -> degrade to 1h
    tier, _ = choose_tier(start, end, 10**9, retention_days=retention, now=now)
    assert tier == "1h"
    # same range, no retention -> raw
    tier, _ = choose_tier(start, end, 10**9)
    assert tier == "raw"


def test_all_expired_falls_back_to_finest_survivor():
    now = datetime(2024, 1, 31)
    start, end = datetime(2024, 1, 5), datetime(2024, 1, 6)
    # only 1d survives but its step overflows the budget -> returned anyway
    retention = {"raw": 3, "1m": 10, "1h": 20, "1d": 3650}
    tier, _ = choose_tier(start, end, 10, retention_days=retention, now=now)
    assert tier == "1d"


def test_bad_args():
    with pytest.raises(ValueError):
        choose_tier(T0, T0, 10)
    with pytest.raises(ValueError):
        choose_tier(T0, T0 + timedelta(days=1), 0)


def _write_store(spark, tmp_path):
    rows = [
        ("c1", datetime(2024, 1, d, h), 1, 10, 0)
        for d in range(1, 11)
        for h in range(24)
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, bucket_ts timestamp, turns long, chars long, tool_calls long"
    )
    base = str(tmp_path / "store")
    rollup.write_tier(df, base, "1h")
    rollup.write_tier(rollup.rollup_once(df, "1d"), base, "1d")
    return base


def test_read_tier_range_exact_rows(spark, tmp_path):
    base = _write_store(spark, tmp_path)
    got = read_tier_range(
        spark, base, "1h", datetime(2024, 1, 3), datetime(2024, 1, 5)
    )
    assert got.count() == 48
    ts = [r.bucket_ts for r in got.select("bucket_ts").collect()]
    assert min(ts) == datetime(2024, 1, 3) and max(ts) == datetime(2024, 1, 4, 23)


def test_read_tier_range_prunes_partitions(spark, tmp_path):
    """The day predicate must reach the scan as a partition filter (directory
    pruning at planning time) — the property that bounds a 100 TB read to the
    requested days."""
    base = _write_store(spark, tmp_path)
    got = read_tier_range(
        spark, base, "1h", datetime(2024, 1, 3), datetime(2024, 1, 5)
    )
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "day" in plan.split("PartitionFilters")[1][:200]
    # bucket_ts range reaches parquet row-group stats too
    assert "PushedFilters" in plan and "bucket_ts" in plan.split("PushedFilters")[1][:300]
    # directory pruning actually happened: only the 2 requested day
    # partitions (of 10 written) are touched at execution time
    # (inputFiles() is pre-pruning, input_file_name() is what was read)
    files = [
        r[0] for r in got.select(F.input_file_name()).distinct().collect()
    ]
    days = {f.split("day%3D")[-1].split("day=")[-1].split("/")[0] for f in files}
    assert days == {"2024-01-03", "2024-01-04"}


def test_tier_steps_cover_rollup_tiers():
    assert set(TIER_STEP) == set(rollup.TIERS)
