import os

from pyspark.sql import functions as F

from wavelet_decomposition_spark.io import checkpoint as ckpt
from wavelet_decomposition_spark.io.transcripts import transcripts_df
from wavelet_decomposition_spark.operators import activity, rollup


def _input_with_day(spark, n=30, seed=21):
    raw = activity.activity_raw(transcripts_df(spark, n, seed=seed))
    return rollup.with_day(raw)


def _compute(day_slice):
    return rollup.rollup_once(day_slice.drop("day"), "1h")


def test_refresh_is_incremental_and_resumable(spark, tmp_path):
    base = str(tmp_path / "tiers")
    os.makedirs(base, exist_ok=True)
    inp = _input_with_day(spark)

    built1 = ckpt.refresh_tier(spark, inp, _compute, base, "1h")
    assert built1  # something was built
    # second run: nothing to do (same fingerprints)
    built2 = ckpt.refresh_tier(spark, inp, _compute, base, "1h")
    assert built2 == []

    # simulate a crash: drop the last manifest line (partition written,
    # manifest append lost) -> resume rebuilds exactly that day, output equal
    mpath = base + "/_manifest_1h.jsonl"
    lines = open(mpath).read().strip().split("\n")
    open(mpath, "w").write("\n".join(lines[:-1]) + "\n")
    before = ckpt.read_tier(spark, base, "1h").orderBy(
        "conv_id", "bucket_ts"
    ).toPandas()
    built3 = ckpt.refresh_tier(spark, inp, _compute, base, "1h")
    assert len(built3) == 1
    after = ckpt.read_tier(spark, base, "1h").orderBy(
        "conv_id", "bucket_ts"
    ).toPandas()
    assert before.equals(after)


def test_backfill_builds_days_concurrently(spark, tmp_path):
    """A 10-stale-day backfill must overlap its per-day Spark jobs (round-2
    review: the sequential driver loop serialized thousands-of-day backfills
    on job-submission latency). compute_fn tracks its own concurrent
    invocations; with a thread pool the observed peak must exceed 1."""
    import threading
    import time as _time

    base = str(tmp_path / "tiers3")
    os.makedirs(base, exist_ok=True)
    inp = spark.range(200).select(
        "id",
        F.concat(
            F.lit("2024-01-"),
            F.lpad(((F.col("id") % 10) + 1).cast("string"), 2, "0"),
        ).alias("day"),
    )
    lock = threading.Lock()
    state = {"active": 0, "peak": 0}

    def compute(day_slice):
        with lock:
            state["active"] += 1
            state["peak"] = max(state["peak"], state["active"])
        _time.sleep(0.4)  # hold so overlap is observable deterministically
        with lock:
            state["active"] -= 1
        return day_slice.drop("day").agg(F.count(F.lit(1)).alias("n"))

    built = ckpt.refresh_tier(spark, inp, compute, base, "cnt")
    assert sorted(built) == [f"2024-01-{d:02d}" for d in range(1, 11)]
    assert state["peak"] >= 2, "backfill ran sequentially"
    # all 10 days landed with correct content and the manifest is complete
    tier = ckpt.read_tier(spark, base, "cnt")
    assert tier.count() == 10
    assert tier.filter(F.col("n") != 20).count() == 0
    # resume: nothing stale
    assert ckpt.refresh_tier(spark, inp, compute, base, "cnt") == []


def test_expire_tier_retention(spark, tmp_path):
    """Retention expiry: dropping a day == dropping its partition directory
    (metadata-only); the manifest is rewritten without the expired days and
    a horizon-filtered refresh is a no-op afterwards."""
    base = str(tmp_path / "tiers4")
    os.makedirs(base, exist_ok=True)
    inp = spark.range(200).select(
        "id",
        F.concat(
            F.lit("2024-01-"),
            F.lpad(((F.col("id") % 10) + 1).cast("string"), 2, "0"),
        ).alias("day"),
    )

    def compute(day_slice):
        return day_slice.drop("day").agg(F.count(F.lit(1)).alias("n"))

    assert len(ckpt.refresh_tier(spark, inp, compute, base, "cnt")) == 10
    dropped = ckpt.expire_tier(base, "cnt", "2024-01-06")
    assert dropped == [f"2024-01-{d:02d}" for d in range(1, 6)]
    assert ckpt.read_tier(spark, base, "cnt").count() == 5
    assert sorted(ckpt.read_manifest(base, "cnt")) == [
        f"2024-01-{d:02d}" for d in range(6, 11)
    ]
    # horizon-filtered refresh: nothing stale
    horizon = inp.filter(F.col("day") >= "2024-01-06")
    assert ckpt.refresh_tier(spark, horizon, compute, base, "cnt") == []
    # idempotent: expiring again drops nothing
    assert ckpt.expire_tier(base, "cnt", "2024-01-06") == []
    # apply_retention sweep form: keep 2 days back from the 10th
    out = ckpt.apply_retention(base, {"cnt": 2}, "2024-01-10")
    assert out["cnt"] == [f"2024-01-{d:02d}" for d in range(6, 8)]
    assert ckpt.read_tier(spark, base, "cnt").count() == 3


def test_changed_input_invalidates_partition(spark, tmp_path):
    base = str(tmp_path / "tiers2")
    os.makedirs(base, exist_ok=True)
    inp = _input_with_day(spark, n=20, seed=3)
    ckpt.refresh_tier(spark, inp, _compute, base, "1h")
    # late data: bump one day's counts
    some_day = inp.select("day").distinct().orderBy("day").collect()[0].day
    changed = inp.withColumn(
        "turns",
        F.when(F.col("day") == F.lit(some_day), F.col("turns") + 1).otherwise(
            F.col("turns")
        ),
    )
    rebuilt = ckpt.refresh_tier(spark, changed, _compute, base, "1h")
    assert rebuilt == [str(some_day)]


def test_tier_content_hashes_match_manifest(spark, tmp_path):
    """One grouped pass over a stored tier reproduces the content hash
    refresh_tier recorded for every day; a day rewritten with other rows
    gets another hash."""
    base = str(tmp_path / "tiers5")
    os.makedirs(base, exist_ok=True)
    inp = _input_with_day(spark, n=20, seed=5)
    ckpt.refresh_tier(spark, inp, _compute, base, "1h")
    manifest = ckpt.read_manifest(base, "1h")
    hashes = ckpt.tier_content_hashes(spark, base, "1h")
    assert len(hashes) > 1
    assert hashes == {d: r["content_hash"] for d, r in manifest.items()}

    day = min(hashes)
    changed = inp.withColumn(
        "turns",
        F.when(F.col("day") == F.lit(day), F.col("turns") + 1).otherwise(
            F.col("turns")
        ),
    )
    assert ckpt.refresh_tier(spark, changed, _compute, base, "1h") == [day]
    rehashed = ckpt.tier_content_hashes(spark, base, "1h")
    assert rehashed[day] != hashes[day]
    assert rehashed == {
        d: r["content_hash"] for d, r in ckpt.read_manifest(base, "1h").items()
    }
