"""Sessionization: relational batch form vs stateful streaming form.

The two implementations share no code (window+agg vs applyInPandasWithState
accumulator), so their agreement on every closed session is a strong
correctness check for both.
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from wavelet_decomposition_spark.operators.sessions import sessionize
from wavelet_decomposition_spark.streaming import await_drain


def _events_df(spark, n_users=7, n_events=400, seed=11):
    rng = np.random.default_rng(seed)
    users = rng.integers(0, n_users, n_events)
    # bursty gaps: mostly minutes, occasionally hours -> real session breaks
    gaps = np.where(
        rng.random(n_events) < 0.15,
        rng.integers(3600, 4 * 3600, n_events),
        rng.integers(1, 600, n_events),
    )
    ts = np.zeros(n_events, dtype=np.int64)
    for u in range(n_users):
        m = users == u
        ts[m] = 1_700_000_000 + np.cumsum(gaps[m])
    pdf = pd.DataFrame(
        {
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": pd.to_datetime(ts, unit="s"),
            "user_id": users.astype(np.int64),
            "value": rng.random(n_events).round(3),
        }
    )
    return spark.createDataFrame(pdf)


def _pandas_oracle(pdf: pd.DataFrame, gap_s: int) -> pd.DataFrame:
    out = []
    for uid, g in pdf.sort_values(["user_id", "ts", "event_id"]).groupby(
        "user_id"
    ):
        t = g["ts"].to_numpy(dtype="datetime64[s]").view(np.int64)
        new = np.concatenate(([True], np.diff(t) > gap_s))
        sidx = np.cumsum(new)
        for s in np.unique(sidx):
            seg = g[sidx == s]
            out.append(
                (
                    uid,
                    int(s),
                    seg["ts"].min(),
                    seg["ts"].max(),
                    len(seg),
                    round(float(seg["value"].sum()), 6),
                )
            )
    return pd.DataFrame(
        out,
        columns=[
            "user_id", "session_idx", "session_start", "session_end",
            "n_events", "total_value",
        ],
    )


def test_sessionize_batch_matches_numpy_oracle(spark):
    df = _events_df(spark)
    got = (
        sessionize(df, gap="30 minutes")
        .toPandas()
        .sort_values(["user_id", "session_idx"])
        .reset_index(drop=True)
    )
    want = (
        _pandas_oracle(df.toPandas(), 1800)
        .sort_values(["user_id", "session_idx"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        got[want.columns].astype(want.dtypes.to_dict()), want
    )


def test_stream_sessionize_drops_cross_batch_late_events(spark, tmp_path):
    """An event arriving in a LATER micro-batch strictly before the open
    session's newest event is dropped (round-2 advisory): emitted sessions
    are append-only, so state must never regress — without the guard a late
    batch computed a negative gap (never a break) and rewound last_us,
    corrupting every later session. An event at EXACTLY the newest
    timestamp is a distinct event and is accepted (gap-0 extension,
    round-3 advisory — the batch form counts both). Closed sessions must
    equal the batch form over the ACCEPTED events only."""
    import glob
    import os
    import shutil

    from wavelet_decomposition_spark.streaming.stateful import stream_sessionize

    in_path, out_path = str(tmp_path / "in"), str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    schema = "event_id long, ts timestamp, user_id long, value double"

    def _append(rows, tag):
        stage = str(tmp_path / f"stage_{tag}")
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(stage)
        os.makedirs(in_path, exist_ok=True)
        for i, f in enumerate(sorted(glob.glob(f"{stage}/part-*.parquet"))):
            shutil.move(f, f"{in_path}/{tag}_{i}.parquet")

    t = pd.Timestamp("2024-03-01 10:00:00")

    def _ts(sec):
        return (t + pd.Timedelta(seconds=sec)).to_pydatetime()

    _append([(1, _ts(0), 1, 1.0), (2, _ts(60), 1, 2.0)], "a")
    await_drain(stream_sessionize(spark, in_path, out_path, ckpt, schema), 120)

    _append(
        [
            (3, _ts(30), 1, 100.0),      # LATE: before last_us -> dropped
            (7, _ts(60), 1, 0.5),        # EQUAL ts to last_us: a distinct
            #   event straddling the micro-batch boundary — ACCEPTED with
            #   gap 0, matching the batch form's count (round-3 advisory)
            (4, _ts(120), 1, 4.0),       # extends the open session
            (5, _ts(3600 * 3), 1, 8.0),  # gap > 30min -> closes session 1
            (6, _ts(86400 * 30), 1, 0.0),  # sentinel closes session 2
        ],
        "b",
    )
    await_drain(stream_sessionize(spark, in_path, out_path, ckpt, schema), 120)

    got = (
        spark.read.parquet(out_path)
        .toPandas()
        .sort_values("session_start")
        .reset_index(drop=True)
    )
    assert len(got) == 2
    # session 1: the four accepted events (incl. the equal-ts straddler);
    # the late 100.0 never counted
    assert got.loc[0, "session_start"] == t
    assert got.loc[0, "session_end"] == t + pd.Timedelta(seconds=120)
    assert got.loc[0, "n_events"] == 4
    assert got.loc[0, "total_value"] == 7.5
    # session 2: the 13:00 singleton
    assert got.loc[1, "n_events"] == 1
    assert got.loc[1, "total_value"] == 8.0


def test_stream_sessionize_matches_batch_across_restarts(spark, tmp_path):
    """Closed sessions from the stateful streaming operator equal the batch
    relational sessions — with the input split across two availableNow
    drains (separate query starts on one checkpoint), so open-session state
    must survive both micro-batch boundaries and a query restart."""
    from wavelet_decomposition_spark.streaming.stateful import stream_sessionize

    df = _events_df(spark).cache()
    in_path, out_path = str(tmp_path / "in"), str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def _append(part_df, tag):
        # the file stream source lists plain files under in_path; stage the
        # write elsewhere and move the part files in
        import glob
        import os
        import shutil

        stage = str(tmp_path / f"stage_{tag}")
        part_df.coalesce(1).write.mode("overwrite").parquet(stage)
        os.makedirs(in_path, exist_ok=True)
        for i, f in enumerate(sorted(glob.glob(f"{stage}/part-*.parquet"))):
            shutil.move(f, f"{in_path}/{tag}_{i}.parquet")

    # split mid-stream by time so many sessions straddle the two files
    cut = df.approxQuantile("event_id", [0.5], 0.0)[0]
    _append(df.filter(F.col("event_id") <= cut), "a")
    await_drain(
        stream_sessionize(spark, in_path, out_path, ckpt, df.schema), 120
    )

    _append(df.filter(F.col("event_id") > cut), "b")
    # sentinel events far beyond every gap close each user's tail session
    sentinel = (
        df.groupBy("user_id")
        .agg(F.max("ts").alias("ts"))
        .select(
            F.lit(10**9).cast("long").alias("event_id"),
            (F.col("ts") + F.expr("interval 30 days")).alias("ts"),
            "user_id",
            F.lit(0.0).alias("value"),
        )
    )
    _append(sentinel, "z")
    await_drain(
        stream_sessionize(spark, in_path, out_path, ckpt, df.schema), 120
    )

    got = (
        spark.read.parquet(out_path)
        .toPandas()
        .sort_values(["user_id", "session_start"])
        .reset_index(drop=True)
    )
    want = (
        sessionize(df, gap="30 minutes")
        .toPandas()
        .sort_values(["user_id", "session_idx"])
        .reset_index(drop=True)[
            ["user_id", "session_start", "session_end", "n_events",
             "total_value"]
        ]
    )
    pd.testing.assert_frame_equal(
        got[want.columns].astype(want.dtypes.to_dict()), want
    )
