"""Streaming facade: the 1m activity tier as a Structured Streaming job.

The reference is pure batch and the north rule's rollups are scheduled
batch; this facade exists for deployments that want the 1m tier maintained
continuously. Tumbling window() + watermark on the event time; coarser tiers
keep rebuilding from the 1m tier in batch (idempotent manifest refresh),
which sidesteps multi-level streaming aggregation (unsupported) exactly the
way the retention design already works.

Usage (every operator starts an availableNow drain):
    from wavelet_decomposition_spark.streaming import await_drain
    q = stream_rollup_1m(spark, in_path, out_path, ckpt)
    await_drain(q, 300)  # stops q and raises TimeoutError past 300 s
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..io.transcripts import TRANSCRIPT_SCHEMA
from ..operators.activity import activity_aggs
from . import parquet_source, start_drain


def stream_rollup_1m(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
):
    """File-source stream of transcript parquet -> 1m tier parquet sink
    (10-minute watermark)."""
    stream = parquet_source(
        spark, TRANSCRIPT_SCHEMA, input_path, "ts", "10 minutes"
    )
    tier = (
        stream.groupBy(
            "conv_id", F.window("ts", "1 minute").alias("w")
        )
        .agg(*activity_aggs())
        .select(
            "conv_id",
            F.col("w.start").alias("bucket_ts"),
            "turns",
            "chars",
            "tool_calls",
        )
    )
    return start_drain(tier, output_path, checkpoint_path)


def stream_distinct_1m(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
):
    """Streaming windowed cardinality: per 1-minute tumbling window, the
    approximate number of distinct conversations (HLL++ at 2% relative
    standard deviation, 10-minute watermark) plus the exact
    turn count — the streaming twin of the batch `sketch_distinct` family.

    Why a sketch and not countDistinct: streaming distinct-per-window
    needs per-window per-key state (unbounded in the key); the HLL++
    register array is FIXED-size state per window and merges by per-
    register max — order-insensitive, so the streaming result is
    bit-identical to the batch aggregate over the same rows, which the
    driver drain asserts exactly. Watermark bounds how long a window's
    registers live; at 10^12 turns/day state is windows-in-horizon x
    sketch size, independent of conversation count."""
    stream = parquet_source(
        spark, TRANSCRIPT_SCHEMA, input_path, "ts", "10 minutes"
    )
    agg = (
        stream.groupBy(F.window("ts", "1 minute").alias("w"))
        .agg(
            F.approx_count_distinct("conv_id", 0.02).alias("approx_convs"),
            F.count(F.lit(1)).alias("turns"),
        )
        .select(
            F.col("w.start").alias("bucket_ts"), "approx_convs", "turns"
        )
    )
    return start_drain(agg, output_path, checkpoint_path)


def stream_dedup(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    schema: str,
):
    """Streaming exact dedup on ``event_id`` via
    ``dropDuplicatesWithinWatermark`` — the incremental twin of the batch
    ``operators.dedup.exact_dedup``/``dropDuplicates``: only the FIRST
    arrival of each key within the watermark horizon is emitted, and the
    dedup state is bounded by the watermark (plain streaming
    dropDuplicates keeps state forever — unusable at 10^12 events).

    The watermark delay, 90 days, is the dedup guarantee window: a
    duplicate arriving more than 90 days of event-time after its first
    copy MAY be re-emitted
    (its state has been reclaimed). That is the honest contract at scale
    — pick the window the pipeline actually needs (dedup of replayed
    batches needs hours, not forever) and let the batch tier repair
    beyond it, exactly like the late-data contract of the other
    streaming operators."""
    stream = parquet_source(spark, schema, input_path, "ts", "90 days")
    return start_drain(
        stream.dropDuplicatesWithinWatermark(["event_id"]), output_path,
        checkpoint_path,
    )


def stream_ohlc_1h(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    schema: str,
):
    """File-source stream -> per-(series, hour) OHLC candle sink: the
    streaming twin of ``operators/temporal.py ohlc_bars`` with the SAME
    deterministic struct tie-breaks. ``min_by``/``max_by`` are
    declarative aggregates with a merge, so the state store composes
    incremental partials exactly like the batch map-side partials — any
    emitted candle is bit-identical to the batch candle over the same
    rows (exact when the caller feeds integer values), which the driver
    drain asserts. The 2-hour watermark bounds candle state lifetime; append
    mode emits a candle once its window can no longer change, so a
    restart continues from checkpointed state without re-emitting."""
    stream = parquet_source(spark, schema, input_path, "ts", "2 hours")
    pre = stream.select(
        "series_id",
        "ts",
        F.unix_micros(F.col("ts")).alias("_t"),
        F.col("v").alias("_v"),
    )
    agg = (
        pre.groupBy("series_id", F.window("ts", "1 hour").alias("w"))
        .agg(
            F.min_by("_v", F.struct(F.col("_t"), F.col("_v"))).alias("open"),
            F.max("_v").alias("high"),
            F.min("_v").alias("low"),
            F.max_by("_v", F.struct(F.col("_t"), F.col("_v"))).alias(
                "close"
            ),
            F.count(F.lit(1)).alias("n_samples"),
            F.sum("_v").alias("volume"),
        )
        .select(
            "series_id",
            F.col("w.start").alias("bucket_ts"),
            "open",
            "high",
            "low",
            "close",
            "n_samples",
            "volume",
        )
    )
    return start_drain(agg, output_path, checkpoint_path)
