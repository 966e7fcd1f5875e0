"""Streaming counter rate: incremental multi-run drain must emit the
identical delta set to one batch pass over the union (state continuation
across restarts via checkpoint), including a reset straddling the
micro-batch boundary — the case that breaks any restart whose carried
state forgets the last VALUE."""

import shutil

import numpy as np
import pandas as pd

from wavelet_decomposition_spark.operators.temporal import counter_rate
from wavelet_decomposition_spark.streaming import await_drain
from wavelet_decomposition_spark.streaming.stateful import (
    stream_counter_rate,
)

SCHEMA = "series_id string, ts timestamp, v double"


def _counter(rng, start, n, seed_val=0.0):
    ts = pd.date_range(start, periods=n, freq="7min")
    steps = rng.integers(1, 50, n).astype(float)
    vals = seed_val + np.cumsum(steps)
    return pd.DataFrame({"ts": ts, "v": vals % 1000.0})  # resets via mod


def test_incremental_drains_equal_batch(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("stream_rate"))
    shutil.rmtree(base, ignore_errors=True)
    in_p, out_p, ck = f"{base}/in", f"{base}/out", f"{base}/ck"
    rng = np.random.default_rng(11)

    frames = []
    for g in ("a", "b"):
        c1 = _counter(rng, "2024-05-01", 60)
        # part 2 continues the counter where part 1 left off, and "b"
        # gets a forced reset exactly at the restart boundary
        seed = c1.v.iloc[-1] if g == "a" else 3.0
        c2 = _counter(rng, "2024-05-01 07:00", 40, seed_val=seed)
        c1["series_id"], c2["series_id"] = g, g
        frames.append((c1, c2))
    cols = ["series_id", "ts", "v"]
    part1 = spark.createDataFrame(
        pd.concat([f[0] for f in frames])[cols], SCHEMA
    )
    part2 = spark.createDataFrame(
        pd.concat([f[1] for f in frames])[cols], SCHEMA
    )

    part1.write.mode("append").parquet(in_p)
    await_drain(stream_counter_rate(spark, in_p, out_p, ck, SCHEMA), 120)
    assert spark.read.parquet(out_p).count() == 2 * 59  # first sample seeds

    part2.write.mode("append").parquet(in_p)
    await_drain(stream_counter_rate(spark, in_p, out_p, ck, SCHEMA), 120)

    emitted = spark.read.parquet(out_p)
    assert emitted.count() == 2 * 99  # every non-first sample exactly once

    full = part1.unionByName(part2)
    from pyspark.sql import functions as F

    got = (
        emitted.groupBy(
            "series_id",
            F.timestamp_micros(
                (F.unix_micros("ts") / 3_600_000_000).cast("long")
                * 3_600_000_000
            ).alias("bucket_ts"),
        )
        .agg(
            F.sum("inc").alias("increase"),
            F.count(F.lit(1)).alias("n_deltas"),
            F.sum("is_reset").cast("bigint").alias("n_resets"),
        )
        .toPandas()
        .sort_values(["series_id", "bucket_ts"])
        .reset_index(drop=True)
    )
    want = (
        counter_rate(full)
        .drop("rate_per_s")
        .toPandas()
        .sort_values(["series_id", "bucket_ts"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        got[["series_id", "bucket_ts", "increase", "n_deltas", "n_resets"]],
        want[["series_id", "bucket_ts", "increase", "n_deltas", "n_resets"]],
        check_dtype=False,
    )
    # the boundary-straddling reset on "b" was actually exercised
    assert want[want.series_id == "b"].n_resets.sum() >= 1


def test_replayed_equal_timestamp_not_double_applied(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("stream_rate_replay"))
    in_p, out_p, ck = f"{base}/in", f"{base}/out", f"{base}/ck"
    pdf = pd.DataFrame(
        {
            "series_id": "a",
            "ts": pd.to_datetime([1_700_000_000, 1_700_000_060], unit="s"),
            "v": [10.0, 25.0],
        }
    )
    spark.createDataFrame(pdf, SCHEMA).write.mode("append").parquet(in_p)
    await_drain(stream_counter_rate(spark, in_p, out_p, ck, SCHEMA), 120)
    # replay the SAME newest sample in a later file: strict guard drops it
    spark.createDataFrame(pdf.iloc[[1]], SCHEMA).write.mode(
        "append"
    ).parquet(in_p)
    await_drain(stream_counter_rate(spark, in_p, out_p, ck, SCHEMA), 120)
    out = spark.read.parquet(out_p).toPandas()
    assert len(out) == 1 and out.inc.iloc[0] == 15.0


def test_stream_dedup_cross_restart(spark, tmp_path_factory):
    """dropDuplicatesWithinWatermark facade: a duplicate arriving only in
    a SECOND availableNow run over the same checkpoint must be dropped
    (state carried across restarts); distinct keys all emitted once."""
    from wavelet_decomposition_spark.streaming.facade import stream_dedup

    base = str(tmp_path_factory.mktemp("stream_dedup"))
    in_p, out_p, ck = f"{base}/in", f"{base}/out", f"{base}/ck"
    schema = "event_id bigint, ts timestamp, v double"
    pdf = pd.DataFrame(
        {
            "event_id": np.int64([1, 2, 3, 2]),  # in-batch dup of 2
            "ts": pd.to_datetime([1_700_000_000] * 4, unit="s"),
            "v": [1.0, 2.0, 3.0, 2.0],
        }
    )
    spark.createDataFrame(pdf, schema).write.mode("append").parquet(in_p)
    await_drain(
        stream_dedup(spark, in_p, out_p, ck, schema), 120
    )
    # restart with dups of 1 and 3 plus a new key 4
    pdf2 = pd.DataFrame(
        {
            "event_id": np.int64([1, 3, 4]),
            "ts": pd.to_datetime([1_700_000_100] * 3, unit="s"),
            "v": [1.0, 3.0, 4.0],
        }
    )
    spark.createDataFrame(pdf2, schema).write.mode("append").parquet(in_p)
    await_drain(
        stream_dedup(spark, in_p, out_p, ck, schema), 120
    )
    out = spark.read.parquet(out_p).toPandas()
    assert sorted(out.event_id) == [1, 2, 3, 4]
