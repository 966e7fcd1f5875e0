"""Structured Streaming facade over the 1m activity tier.

Every streaming operator here reads its input through :func:`parquet_source`
and ends in :func:`start_drain`; callers wait for the drain with
:func:`await_drain`."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery


def parquet_source(spark: SparkSession, schema, path: str,
                   ts_col: str | None = None,
                   watermark: str | None = None) -> DataFrame:
    """File-source stream of the parquet files under ``path``; given a
    ``watermark`` delay, event time ``ts_col`` is watermarked by it."""
    stream = spark.readStream.schema(schema).parquet(path)
    if watermark is not None:
        stream = stream.withWatermark(ts_col, watermark)
    return stream


def start_drain(df: DataFrame, out: str, ckpt: str) -> StreamingQuery:
    """Start the append-mode parquet sink of ``df`` at ``out``.

    ``trigger(availableNow=True)`` drains whatever input exists and stops;
    re-starting on the same checkpoint ``ckpt`` resumes the source offsets
    and the state store, so a drain can run as a scheduled incremental job
    as well as a continuous one."""
    return (
        df.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def await_drain(q: StreamingQuery, timeout_s: float) -> None:
    """Wait for the drain ``q`` to finish. A drain still running after
    ``timeout_s`` seconds is stopped and raises ``TimeoutError``, so no
    caller reads its partial output or leaves it running; a failed drain
    raises its ``StreamingQueryException``."""
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError(
            f"streaming drain did not finish within {timeout_s} s"
        )
