"""Transcript -> per-conversation activity series (north-star operator;
SURVEY.md §2.8). Pure relational: tumbling time buckets via date_trunc,
counts/sums with map-side partial aggregation — no Python anywhere.

Raw tier = 1-second buckets keyed by (conv_id, bucket_ts):
    turns       — turn arrivals in the bucket        (turns/sec series)
    chars       — total text length                   (text-length series)
    tool_calls  — turns that invoked a tool           (tool-call-rate series)

Also provides conversation-level stats with *salted two-phase aggregation*:
a single groupBy(conv_id) on heavy-tailed conversation lengths puts a whole
long conversation in one reducer; salting splits the partial aggregation
across S reducers and merges — the groupBy-UDF-skew pattern AQE does not
cover (SURVEY.md §4.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ACTIVITY_COUNT_COLS = ["turns", "chars", "tool_calls"]


def activity_aggs() -> list:
    """The ``ACTIVITY_COUNT_COLS`` aggregates over transcript rows, shared by
    the batch raw tier and the streaming 1m tier."""
    return [
        F.count(F.lit(1)).alias("turns"),
        F.sum(F.length("text")).alias("chars"),
        F.count("tool").alias("tool_calls"),  # count() skips nulls
    ]


def activity_raw(transcripts: DataFrame) -> DataFrame:
    """1-second activity buckets. date_trunc keeps the key a plain timestamp
    (no window struct) so every rollup tier and the DuckDB oracle share the
    same key expression."""
    return transcripts.groupBy(
        "conv_id", F.date_trunc("second", F.col("ts")).alias("bucket_ts")
    ).agg(*activity_aggs())


def conversation_stats(transcripts: DataFrame, n_salts: int = 16) -> DataFrame:
    """Per-conversation totals via salted two-phase aggregation.

    Phase 1 groups on (conv_id, salt) — salt = hash(turn_idx) mod S spreads a
    long conversation over S partial reducers; phase 2 merges the partials.
    Counts/sums/min/max compose exactly."""
    salted = transcripts.withColumn(
        "_salt", F.pmod(F.hash("turn_idx"), F.lit(n_salts))
    )
    partial = salted.groupBy("conv_id", "_salt").agg(
        F.count(F.lit(1)).alias("p_turns"),
        F.sum(F.length("text")).alias("p_chars"),
        F.count("tool").alias("p_tool_calls"),
        F.min("ts").alias("p_min_ts"),
        F.max("ts").alias("p_max_ts"),
    )
    return partial.groupBy("conv_id").agg(
        F.sum("p_turns").alias("n_turns"),
        F.sum("p_chars").alias("n_chars"),
        F.sum("p_tool_calls").alias("n_tool_calls"),
        F.min("p_min_ts").alias("first_ts"),
        F.max("p_max_ts").alias("last_ts"),
    )

