"""Streaming OHLC candles: every candle emitted across an incremental
two-drain run (checkpointed restart) must equal the batch ohlc_bars
candle over the union bit-for-bit — min_by/max_by state-store partials
compose like batch map-side partials, and the struct tie-breaks make
first/last deterministic regardless of micro-batch arrival order."""

import shutil

import numpy as np
import pandas as pd

from wavelet_decomposition_spark.operators.temporal import ohlc_bars
from wavelet_decomposition_spark.streaming import await_drain
from wavelet_decomposition_spark.streaming.facade import stream_ohlc_1h

SCHEMA = "series_id string, ts timestamp, v long"


def _ticks(rng, start, n):
    ts = pd.to_datetime(start) + pd.to_timedelta(
        np.sort(rng.integers(0, 6 * 3600, n)), unit="s"
    )
    return pd.DataFrame(
        {"ts": ts, "v": rng.integers(-500, 500, n).astype(np.int64)}
    )


def test_stream_ohlc_restart_equals_batch(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("stream_ohlc"))
    shutil.rmtree(base, ignore_errors=True)
    in_p, out_p, ck = f"{base}/in", f"{base}/out", f"{base}/ck"
    rng = np.random.default_rng(17)

    cols = ["series_id", "ts", "v"]
    parts = []
    for i, start in enumerate(("2024-05-01", "2024-05-01 06:00")):
        frames = []
        for g in ("a", "b"):
            f = _ticks(rng, start, 400)
            f["series_id"] = g
            frames.append(f)
        parts.append(
            spark.createDataFrame(pd.concat(frames)[cols], SCHEMA)
        )

    parts[0].write.mode("append").parquet(in_p)
    await_drain(stream_ohlc_1h(spark, in_p, out_p, ck, SCHEMA), 120)
    n1 = spark.read.parquet(out_p).count()
    assert n1 > 0  # watermark passed several part-1 windows

    parts[1].write.mode("append").parquet(in_p)
    await_drain(stream_ohlc_1h(spark, in_p, out_p, ck, SCHEMA), 120)

    emitted = spark.read.parquet(out_p).toPandas()
    # nothing emitted twice across the restart
    assert not emitted.duplicated(["series_id", "bucket_ts"]).any()
    assert len(emitted) > n1

    batch = (
        ohlc_bars(
            parts[0].unionByName(parts[1]),
            volume_col="v",
        )
        .toPandas()
        .set_index(["series_id", "bucket_ts"])
    )
    for _, r in emitted.iterrows():
        b = batch.loc[(r.series_id, r.bucket_ts)]
        assert (
            r.open,
            r.high,
            r.low,
            r.close,
            r.n_samples,
            r.volume,
        ) == (
            b.open,
            b.high,
            b.low,
            b.close,
            b.n_samples,
            b.volume,
        )
