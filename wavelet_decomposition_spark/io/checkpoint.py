"""Per-partition lineage manifest + idempotent tier rebuild.

The reference memoizes whole artifacts with ad-hoc flags and pickles
(`import_matrix`, /root/reference/wavelet_decomposition.py:30-35;
calc_translations.py:136-144). The engine generalizes that to a
*partition-level* manifest so a killed tier refresh resumes exactly where it
stopped and re-runs are no-ops:

- every (tier, day) partition written gets a manifest row
  ``(tier, day, input_fingerprint, n_rows, content_hash)``;
- a rebuild anti-joins the work list against the manifest — only missing or
  fingerprint-changed partitions are recomputed;
- fingerprints derive from the *input* partition's content, so late data
  (a changed input day) automatically invalidates and rebuilds exactly the
  affected partitions (deterministic re-aggregation, no watermarks needed).
- one content hash, ``_content_hash`` (the sum of per-row xxhash64 as
  decimal(38,0)), is both an input day's fingerprint and a written
  partition's ``content_hash``; ``tier_content_hashes`` recomputes it for
  every stored day of a tier in one grouped pass, so checking a tier against
  its manifest is one job.

The manifest is a small JSON-lines table on the same filesystem. Writes are
atomic-per-partition (parquet dir replace, then manifest append) — crash
between the two leaves a partition that is simply rewritten on resume
(identical bytes, content-hash verified in tests).
"""

from __future__ import annotations

import json
import os
import threading
from concurrent.futures import ThreadPoolExecutor, as_completed

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _manifest_path(base_path: str, tier: str) -> str:
    return os.path.join(base_path, f"_manifest_{tier}.jsonl")


def read_manifest(base_path: str, tier: str) -> dict[str, dict]:
    """{day: row} of completed partitions."""
    path = _manifest_path(base_path, tier)
    out: dict[str, dict] = {}
    if os.path.exists(path):
        with open(path) as fh:
            for line in fh:
                if line.strip():
                    row = json.loads(line)
                    out[row["day"]] = row  # later rows win (idempotent rewrite)
    return out


def _append_manifest(base_path: str, tier: str, row: dict) -> None:
    with open(_manifest_path(base_path, tier), "a") as fh:
        fh.write(json.dumps(row, sort_keys=True) + "\n")


def _content_hash(cols: list[str]):
    """The order-insensitive content hash of a set of rows: the sum of
    per-row xxhash64 over ``cols``, accumulated as decimal(38,0)
    (commutative -> partition-order independent; wide enough that ANSI-mode
    long overflow cannot occur)."""
    return F.sum(F.xxhash64(*cols).cast("decimal(38,0)"))


def partition_fingerprints(df: DataFrame, day_col: str = "day") -> dict[str, dict]:
    """Per-day content fingerprint (``_content_hash`` over all columns) +
    row count of an input DataFrame."""
    rows = (
        df.groupBy(day_col)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            _content_hash(df.columns).alias("fp"),
        )
        .collect()
    )
    return {
        str(r[day_col]): {"n_rows": r["n_rows"], "fp": str(r["fp"])} for r in rows
    }


def refresh_tier(
    spark: SparkSession,
    input_df: DataFrame,
    compute_fn,
    base_path: str,
    tier: str,
    day_col: str = "day",
    max_concurrency: int = 8,
) -> list[str]:
    """Incremental, resumable tier refresh.

    ``input_df`` must carry ``day_col``; ``compute_fn(day_slice) -> DataFrame``
    produces the tier rows for one day's input. Returns the list of days
    (re)built. Days whose input fingerprint matches the manifest are skipped.

    Stale days are (re)built CONCURRENTLY: each day is an independent Spark
    job (filter -> compute -> atomic partition write -> manifest append), and
    up to ``max_concurrency`` of them are in flight at once via driver
    threads — Spark schedules concurrent jobs' tasks onto free executors, so
    a backfill of thousands of stale days no longer serializes on per-job
    submission latency (round-2 review finding). Manifest appends are
    serialized under a lock; per-day atomicity semantics are unchanged (a
    crash between partition write and manifest append just rewrites that
    day on resume, byte-identical). Concurrency + resume are pinned by
    tests/test_checkpoint.py.

    CONTRACT: ``compute_fn`` is called from up to ``max_concurrency`` driver
    threads at once and must be thread-safe — build the day's plan from the
    passed slice only (pure DataFrame composition is safe; mutating shared
    driver state, a shared numpy scratch buffer, or ``spark.conf`` is not).
    Pass ``max_concurrency=1`` for a legacy compute_fn that cannot promise
    this. On the first failed day, not-yet-started days are CANCELLED (a
    systematic failure does not burn the whole backfill) and the first
    exception is re-raised; days already completed keep their manifest rows,
    so the resume point is exact."""
    fps = partition_fingerprints(input_df, day_col)
    manifest = read_manifest(base_path, tier)
    todo = [
        day
        for day, meta in sorted(fps.items())
        if day not in manifest or manifest[day]["input_fp"] != meta["fp"]
    ]
    if not todo:
        return []
    lock = threading.Lock()

    def _build(day: str) -> None:
        day_slice = input_df.filter(F.col(day_col) == F.lit(day))
        out = compute_fn(day_slice)
        part_path = os.path.join(base_path, f"tier={tier}", f"day={day}")
        out.write.mode("overwrite").parquet(part_path)
        written = spark.read.parquet(part_path)
        content = written.agg(
            F.count(F.lit(1)).alias("n"),
            _content_hash(written.columns).alias("h"),
        ).collect()[0]
        with lock:
            _append_manifest(
                base_path,
                tier,
                {
                    "tier": tier,
                    "day": day,
                    "input_fp": fps[day]["fp"],
                    "input_rows": fps[day]["n_rows"],
                    "n_rows": content["n"],
                    "content_hash": str(content["h"]),
                },
            )

    pool = ThreadPoolExecutor(max_workers=max(1, min(max_concurrency, len(todo))))
    try:
        futures = {pool.submit(_build, day): day for day in todo}
        failed: Exception | None = None
        for fut in as_completed(futures):
            exc = fut.exception()
            if exc is not None and failed is None:
                failed = exc
                # stop queuing: days not yet started are cancelled; in-flight
                # days run to completion (their manifest rows stay valid)
                pool.shutdown(wait=False, cancel_futures=True)
        if failed is not None:
            raise failed
    finally:
        pool.shutdown(wait=True)
    return todo


def read_tier(spark: SparkSession, base_path: str, tier: str) -> DataFrame:
    return spark.read.parquet(os.path.join(base_path, f"tier={tier}"))


def tier_content_hashes(spark: SparkSession, base_path: str, tier: str) -> dict[str, str]:
    """{day: content hash} of every day stored in a tier, in one grouped
    aggregate over its ``day=`` partitions; a day whose data is unchanged
    since ``refresh_tier`` wrote it gets its manifest ``content_hash``."""
    stored = read_tier(spark, base_path, tier)
    cols = [c for c in stored.columns if c != "day"]
    rows = stored.groupBy(stored.day.cast("string")).agg(_content_hash(cols)).collect()
    return {day: str(h) for day, h in rows}


def expire_tier(base_path: str, tier: str, cutoff_day: str) -> list[str]:
    """Retention expiry: drop every ``day < cutoff_day`` partition of a tier.

    Dropping a day IS dropping its partition directory — an O(#expired-days)
    metadata operation, no data rewrite (days are lexicographic ISO dates,
    so string comparison == date comparison). The manifest is rewritten
    atomically (tmp + rename) without the expired days so a subsequent
    ``refresh_tier`` does not consider them built; callers refreshing after
    expiry must filter their input to the retention horizon
    (``input_df.filter(col(day_col) >= cutoff)``), otherwise the expired
    days are simply rebuilt — expiry is a policy, the manifest only records
    state. Returns the list of days dropped."""
    import shutil

    tier_dir = os.path.join(base_path, f"tier={tier}")
    dropped = []
    if os.path.isdir(tier_dir):
        for entry in sorted(os.listdir(tier_dir)):
            if entry.startswith("day=") and entry[4:] < cutoff_day:
                shutil.rmtree(os.path.join(tier_dir, entry))
                dropped.append(entry[4:])
    manifest = read_manifest(base_path, tier)
    keep = {d: r for d, r in manifest.items() if d >= cutoff_day}
    if len(keep) != len(manifest):
        tmp = _manifest_path(base_path, tier) + ".tmp"
        with open(tmp, "w") as fh:
            for d in sorted(keep):
                fh.write(json.dumps(keep[d], sort_keys=True) + "\n")
        os.replace(tmp, _manifest_path(base_path, tier))
    return dropped


def apply_retention(
    base_path: str, policies: dict[str, int], today: str
) -> dict[str, list[str]]:
    """Per-tier retention sweep: ``policies`` maps tier -> keep_days
    (e.g. {"raw": 7, "1m": 90, "1h": 730}; omit a tier to keep it forever).
    ``today`` is an ISO date string. Returns {tier: [dropped days]}."""
    import datetime as _dt

    t = _dt.date.fromisoformat(today)
    out = {}
    for tier, keep_days in policies.items():
        cutoff = (t - _dt.timedelta(days=int(keep_days))).isoformat()
        out[tier] = expire_tier(base_path, tier, cutoff)
    return out
