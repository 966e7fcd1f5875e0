"""Streaming EWMA: incremental multi-run drain must equal the batch
operator exactly (state continuation across restarts via checkpoint)."""

import shutil

import numpy as np
import pandas as pd

from wavelet_decomposition_spark.operators.tsfeatures import ewma
from wavelet_decomposition_spark.streaming import await_drain
from wavelet_decomposition_spark.streaming.stateful import stream_ewma

SCHEMA = "series_id string, bucket_ts timestamp, v double"


def _mk(spark, rng, start, n):
    ts = pd.date_range(start, periods=n, freq="h")
    frames = []
    for g in ("a", "b"):
        frames.append(
            pd.DataFrame(
                {
                    "series_id": g,
                    "bucket_ts": ts,
                    "v": rng.normal(10, 2, n),
                }
            )
        )
    return spark.createDataFrame(pd.concat(frames, ignore_index=True), SCHEMA)


def test_incremental_drains_equal_batch(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("stream_ewma"))
    shutil.rmtree(base, ignore_errors=True)
    in_p, out_p, ck = f"{base}/in", f"{base}/out", f"{base}/ck"
    rng = np.random.default_rng(3)

    part1 = _mk(spark, rng, "2024-05-01", 40)
    part2 = _mk(spark, rng, "2024-05-02 16:00", 25)  # continues the grid

    part1.write.mode("append").parquet(in_p)
    await_drain(stream_ewma(spark, in_p, out_p, ck, SCHEMA, alpha=0.25), 120)
    n1 = spark.read.parquet(out_p).count()
    assert n1 == 80

    part2.write.mode("append").parquet(in_p)
    await_drain(stream_ewma(spark, in_p, out_p, ck, SCHEMA, alpha=0.25), 120)

    streamed = (
        spark.read.parquet(out_p)
        .toPandas()
        .sort_values(["series_id", "bucket_ts"])
        .reset_index(drop=True)
    )
    assert len(streamed) == 130  # each bucket exactly once

    full = part1.unionByName(part2)
    batch = (
        ewma(full, alpha=0.25)
        .toPandas()
        .sort_values(["series_id", "bucket_ts"])
        .reset_index(drop=True)
    )
    np.testing.assert_allclose(
        streamed["ewma"], batch["ewma"], rtol=0, atol=0
    )  # bit-identical: same pandas kernel, seeded continuation


def test_replayed_bucket_is_dropped(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("stream_ewma_replay"))
    in_p, out_p, ck = f"{base}/in", f"{base}/out", f"{base}/ck"
    rng = np.random.default_rng(4)
    part1 = _mk(spark, rng, "2024-05-01", 10)
    part1.write.mode("append").parquet(in_p)
    await_drain(stream_ewma(spark, in_p, out_p, ck, SCHEMA, alpha=0.5), 120)
    # replay the SAME buckets (duplicate delivery) -> no new output rows
    part1.write.mode("append").parquet(in_p)
    await_drain(stream_ewma(spark, in_p, out_p, ck, SCHEMA, alpha=0.5), 120)
    assert spark.read.parquet(out_p).count() == 20
