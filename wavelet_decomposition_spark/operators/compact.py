"""Small-file compaction for day-partitioned tier stores.

The write side of the retention engine accumulates small files: every
incremental refresh (io/checkpoint.py) appends a few files per day
partition, and at 100 TB the file count — not the byte count — becomes the
scan bottleneck (driver-side listing, task-per-file scheduling, row-group
fragmentation killing parquet stat pruning). This is the maintenance
operation Iceberg calls rewriteDataFiles (bin-pack strategy) expressed over
plain day-partitioned parquet: rewrite each day's rows into
ceil(rows/target) files and verify the rewrite from the data itself before
the caller swaps directories.

Scale shape: one hash exchange on `day` (each day lands in exactly one
writer task, so files-per-day = ceil(rows/target) via maxRecordsPerFile),
and the verification is two aggregate scans producing one bounded row per
day — file identity comes from input_file_name() at execution time, and
content identity from an order-free per-day checksum (bit_xor of xxhash64
over all value columns — exact for the tier stores' unique-keyed rows, and
overflow-free where a sum of hashes would trip ANSI arithmetic). Nothing
is collected beyond the per-day summary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _day_stats(spark: SparkSession, path: str) -> DataFrame:
    """Per-day (files, rows, checksum) measured from the files actually
    read — one aggregate scan."""
    df = spark.read.parquet(path)
    value_cols = sorted(c for c in df.columns if c != "day")
    return (
        df.withColumn("_file", F.input_file_name())
        .groupBy("day")
        .agg(
            F.countDistinct("_file").alias("files"),
            F.count(F.lit(1)).alias("rows"),
            F.expr(
                "bit_xor(xxhash64(" + ", ".join(value_cols) + "))"
            ).alias("checksum"),
        )
    )


def compact_partitioned(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    target_rows_per_file: int = 1_000_000,
) -> DataFrame:
    """Bin-pack rewrite of ``src_path`` into ``dst_path`` and verify it.

    Returns one row per ``day`` partition:
    (day, files_before, files_after, rows, files_ok, rows_ok, checksum_ok)
    — files_ok: the rewrite produced exactly ceil(rows/target) files;
    rows_ok / checksum_ok: row counts and order-free content checksums
    match pre/post. The caller swaps directories only on all-true.
    """
    src = spark.read.parquet(src_path)
    (
        src.repartition(F.col("day"))
        .write.mode("overwrite")
        .option("maxRecordsPerFile", target_rows_per_file)
        .partitionBy("day")
        .parquet(dst_path)
    )
    before = _day_stats(spark, src_path)
    after = _day_stats(spark, dst_path)
    b, a = before.alias("b"), after.alias("a")
    expected_files = F.ceil(F.col("b.rows") / F.lit(target_rows_per_file))
    # full outer + null-safe comparisons: a partition that vanished (or
    # appeared) in the rewrite must surface as a false row, not be dropped
    return b.join(a, F.col("b.day") == F.col("a.day"), "fullouter").select(
        F.coalesce(F.col("b.day"), F.col("a.day")).alias("day"),
        F.col("b.files").alias("files_before"),
        F.col("a.files").alias("files_after"),
        F.col("b.rows").alias("rows"),
        F.col("a.files").eqNullSafe(expected_files).alias("files_ok"),
        F.col("a.rows").eqNullSafe(F.col("b.rows")).alias("rows_ok"),
        F.col("a.checksum").eqNullSafe(F.col("b.checksum")).alias(
            "checksum_ok"
        ),
    )
