from pyspark.sql import functions as F

from wavelet_decomposition_spark.io.transcripts import transcripts_df
from wavelet_decomposition_spark.operators import activity, rollup
from wavelet_decomposition_spark.streaming import await_drain
from wavelet_decomposition_spark.streaming.facade import stream_rollup_1m


def test_streaming_1m_tier_matches_batch(spark, tmp_path):
    tx = transcripts_df(spark, 20, seed=17).cache()
    in_path = str(tmp_path / "stream_in")
    out_path = str(tmp_path / "stream_out")
    ckpt = str(tmp_path / "ckpt")
    tx.write.mode("overwrite").parquet(in_path)
    # sentinel conversation far in the future closes every real window
    max_ts = tx.agg(F.max("ts")).collect()[0][0]
    sentinel = spark.createDataFrame(
        [("sentinel", 0, "user", "x", None, max_ts)],
        tx.schema,
    ).withColumn("ts", F.col("ts") + F.expr("interval 2 hours"))
    sentinel.write.mode("append").parquet(in_path)

    q = stream_rollup_1m(spark, in_path, out_path, ckpt)
    await_drain(q, 120)

    got = spark.read.parquet(out_path).filter(F.col("conv_id") != "sentinel")
    batch = rollup.rollup_once(
        activity.activity_raw(tx), "1m"
    )
    assert got.count() == batch.count()
    assert got.exceptAll(batch).count() == 0


def test_watermark_drops_late_data_across_restarts(spark, tmp_path):
    """Append-mode watermark semantics pinned end to end: a row arriving
    LATER than the watermark horizon must be dropped (its window never
    appears and closed windows are never revised), while data inside the
    horizon lands normally — the bounded-state contract that makes the
    streaming tier viable on an unbounded 10^12-turn feed. Also proves the
    watermark PERSISTS in the checkpoint across a stop/restart (run 2
    resumes at run 1's horizon rather than re-admitting old data)."""
    from datetime import datetime

    in_path = str(tmp_path / "in")
    out_path = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def tx_rows(rows):
        return spark.createDataFrame(
            [("c", i, "user", "hello", None, ts) for i, ts in enumerate(rows)],
            "conv_id string, turn_idx int, role string, text string, "
            "tool string, ts timestamp",
        )

    t = lambda m, s=0: datetime(2024, 1, 1, 12, m, s)  # noqa: E731
    # run 1: two turns in the 12:00 window + a clock turn at 12:30 that
    # advances the watermark to 12:20 (10-minute delay)
    tx_rows([t(0, 10), t(0, 20), t(30)]).write.mode("append").parquet(in_path)
    q = stream_rollup_1m(spark, in_path, out_path, ckpt)
    await_drain(q, 120)

    # run 2 (same checkpoint): one LATE turn at 12:05 — beyond the 12:20
    # horizon restored from the checkpoint, must be dropped — one fresh
    # turn at 12:25, and a 13:00 clock turn that flushes everything open
    tx_rows([t(5), t(25), datetime(2024, 1, 1, 13, 0)]).write.mode(
        "append"
    ).parquet(in_path)
    q = stream_rollup_1m(spark, in_path, out_path, ckpt)
    await_drain(q, 120)

    got = {
        r["bucket_ts"]: r["turns"]
        for r in spark.read.parquet(out_path).collect()
    }
    assert got[t(0)] == 2        # closed with run-1 data only, never revised
    assert t(5) not in got       # late beyond the horizon: dropped
    assert got[t(25)] == 1       # inside the horizon: lands normally
