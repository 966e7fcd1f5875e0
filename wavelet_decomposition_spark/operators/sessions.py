"""Gap-based sessionization of event streams.

The reference engine has no session concept (its series are fixed annual
grids), but the north-star transcript/event workload needs it: a
conversation or user activity stream splits into sessions wherever the gap
between consecutive events exceeds a threshold. Two forms, equivalence-
tested against each other:

- :func:`sessionize` — batch relational form: ``lag`` + cumulative-sum
  session index over a per-group window, then one hash aggregate. Pure JVM
  window functions (whole-stage codegen), one shuffle on the group key plus
  the aggregation exchange with map-side partial aggregation.
- ``streaming.stateful.stream_sessionize`` — incremental form over
  Structured Streaming with ``applyInPandasWithState`` (checkpointed
  per-group state, sessions emitted as they close).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def sessionize(
    df: DataFrame,
    gap: str = "30 minutes",
    group_col: str = "user_id",
    order_col: str | None = "event_id",
    value_col: str | None = "value",
) -> DataFrame:
    """One row per (group, session) over the ``ts`` column: start/end,
    event count, value sum.

    A session index is the running count of "gap exceeded" markers per
    group — the standard relational sessionization (identical SQL runs on
    any warehouse; the driver's DuckDB oracle uses the same shape).
    ``order_col`` breaks timestamp ties deterministically; tie order cannot
    change session membership (a 0 gap never exceeds the threshold).
    """
    gap_us = int(pd.Timedelta(gap).total_seconds() * 1_000_000)
    order = [F.col("ts")] + ([F.col(order_col)] if order_col else [])
    w = Window.partitionBy(group_col).orderBy(*order)
    # cast covers TIMESTAMP_NTZ inputs (exact under the engine's fixed UTC
    # session timezone); unix_micros accepts only TIMESTAMP
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    prev_us = F.lag(ts_us).over(w)
    new_s = (
        prev_us.isNull() | (ts_us - prev_us > F.lit(gap_us))
    ).cast("int")
    # two steps: a window function cannot nest inside another window
    # aggregate in one expression
    df = df.withColumn("_new_s", new_s)
    s_idx = F.sum("_new_s").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    aggs = [
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
    ]
    if value_col is not None:
        aggs.append(F.round(F.sum(value_col), 6).alias("total_value"))
    return (
        df.withColumn("session_idx", s_idx.cast("int"))
        .groupBy(group_col, "session_idx")
        .agg(*aggs)
    )
