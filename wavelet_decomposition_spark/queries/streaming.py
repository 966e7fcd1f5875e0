"""Streaming queries: each drains a structured-streaming
pipeline over a file source and checks it against the batch twin.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from wavelet_decomposition_spark.io.transcripts import transcripts_df
from wavelet_decomposition_spark.operators import activity, rollup
from wavelet_decomposition_spark.operators.sessions import sessionize
from wavelet_decomposition_spark.operators.temporal import (
    counter_rate,
    ohlc_bars,
)
from wavelet_decomposition_spark.operators.tsfeatures import ewma
from wavelet_decomposition_spark.streaming import await_drain
from wavelet_decomposition_spark.streaming.facade import (
    stream_dedup,
    stream_distinct_1m,
    stream_ohlc_1h,
    stream_rollup_1m,
)
from wavelet_decomposition_spark.streaming.stateful import (
    stream_counter_rate,
    stream_ewma,
    stream_sessionize,
)
from wavelet_decomposition_spark.queries import (
    _cents,
    _cents_counter,
    _events,
    _hourly_series,
    query,
    scratch_dir,
)


def _drain_paths(name):
    """Fresh ``(in, out, ckpt)`` scratch paths for the drain ``name``."""
    base = scratch_dir(name)
    return f"{base}/in", f"{base}/out", f"{base}/ckpt"


def _drain_in_halves(frame, ts_col, in_path, start):
    """Append ``frame``'s rows up to the median ``ts_col`` to ``in_path``
    and drain ``start()``, then append the rest and drain again: two
    availableNow runs over one checkpoint, so the second really exercises
    cross-restart state continuation."""
    mid = frame.agg(
        F.expr(f"percentile(unix_micros({ts_col}), 0.5)")
    ).collect()[0][0]
    t = F.unix_micros(F.col(ts_col))
    for half in (t <= mid, t > mid):
        frame.filter(half).write.mode("append").parquet(in_path)
        await_drain(start(), 300)


def _mismatch_summary(j, n_col, bad):
    """The one summary row over the comparison join ``j``: its row count
    as ``n_col``, ``n_mismatch`` = rows where ``bad`` holds, and
    ``invariant_ok`` = no mismatch over a non-empty join."""
    ok = (F.col("n_mismatch") == 0) & (F.col(n_col) > 0)
    return j.agg(
        F.count(F.lit(1)).alias(n_col),
        F.sum(bad.cast("long")).alias("n_mismatch"),
    ).select(n_col, "n_mismatch", ok.alias("invariant_ok"))


@query(side_effect=True)
def _q_stream_sessionize_drain(spark, sf_dir):
    """Streaming surface, driver-exposed: drain the event table through the
    applyInPandasWithState sessionizer (availableNow) and compare the closed
    sessions against the batch relational form — ``invariant_ok`` on the
    single summary row = (every closed streaming session equals a batch
    session) AND (the only batch sessions missing are each user's open
    tail). Restart-safety of the same operator is pinned in
    tests/test_sessions.py."""
    ev = _events(spark, sf_dir).select("event_id", "ts", "user_id", "value")
    in_path, out_path, ckpt = _drain_paths("stream_sessionize_drain")
    ev.write.mode("overwrite").parquet(in_path)
    q = stream_sessionize(
        spark, in_path, out_path, ckpt,
        "event_id long, ts timestamp, user_id long, value double",
    )
    await_drain(q, 300)

    streamed = spark.read.parquet(out_path).select(
        "user_id", "session_start", "session_end", "n_events",
        F.round("total_value", 6).alias("total_value"),
    )
    batch = sessionize(
        ev, gap="30 minutes", group_col="user_id",
        order_col="event_id", value_col="value",
    )
    w = Window.partitionBy("user_id")
    closed_batch = batch.withColumn(
        "_last", F.max("session_idx").over(w)
    ).filter(F.col("session_idx") != F.col("_last")).select(
        "user_id", "session_start", "session_end", "n_events",
        F.round("total_value", 6).alias("total_value"),
    )
    j = streamed.alias("s").join(
        closed_batch.alias("b"),
        ["user_id", "session_start", "session_end", "n_events",
         "total_value"],
        "full_outer",
    )
    return _mismatch_summary(
        j, "n_sessions",
        F.col("s.user_id").isNull() | F.col("b.user_id").isNull(),
    )


@query(side_effect=True)
def _q_stream_ewma_drain(spark, sf_dir):
    """Streaming EWMA, driver-exposed: the hourly series is split into two
    time halves, drained through the stateful recurrence in TWO sequential
    availableNow runs sharing one checkpoint (so the second run really
    exercises cross-restart state continuation), then compared bit-exactly
    against the batch ewma operator over the full series — ``invariant_ok``
    on the summary row = every bucket emitted exactly once with an ewma
    equal to the batch kernel's."""
    hr = _hourly_series(spark, sf_dir).select(
        "series_id", "bucket_ts", F.col("v").cast("double").alias("v")
    )
    in_p, out_p, ck = _drain_paths("stream_ewma_drain")
    schema = "series_id string, bucket_ts timestamp, v double"
    _drain_in_halves(
        hr, "bucket_ts", in_p,
        lambda: stream_ewma(spark, in_p, out_p, ck, schema, alpha=0.25),
    )

    streamed = spark.read.parquet(out_p).select(
        "series_id", "bucket_ts", "ewma"
    )
    batch = ewma(hr, alpha=0.25).select(
        "series_id", "bucket_ts", F.col("ewma").alias("ewma_b")
    )
    j = streamed.join(batch, ["series_id", "bucket_ts"], "full_outer")
    return _mismatch_summary(
        j, "n_buckets",
        F.col("ewma").isNull()
        | F.col("ewma_b").isNull()
        | (F.col("ewma") != F.col("ewma_b")),
    )


@query(side_effect=True)
def _q_stream_counter_rate_drain(spark, sf_dir):
    """Streaming counter-rate, driver-exposed: the integer-exact modulo
    counter from `counter_rate` is split into two time halves and drained
    through the stateful delta operator in TWO sequential availableNow
    runs over one checkpoint (cross-restart state continuation), the
    emitted per-sample deltas are re-aggregated per hour, and every
    (series, bucket) row must match the batch operator over the union
    input EXACTLY (integer arithmetic end to end) — n_mismatch == 0 and
    full coverage is ``invariant_ok``."""
    counter = _cents_counter(spark, sf_dir).select(
        "series_id", F.col("ts").cast("timestamp").alias("ts"), "v"
    )
    in_p, out_p, ck = _drain_paths("stream_counter_rate_drain")
    schema = "series_id string, ts timestamp, v double"
    _drain_in_halves(
        counter, "ts", in_p,
        lambda: stream_counter_rate(spark, in_p, out_p, ck, schema),
    )

    streamed = (
        spark.read.parquet(out_p)
        .groupBy(
            "series_id",
            F.timestamp_micros(
                (F.unix_micros(F.col("ts")) / 3_600_000_000).cast("long")
                * 3_600_000_000
            ).alias("bucket_ts"),
        )
        .agg(
            F.sum("inc").alias("increase_s"),
            F.count(F.lit(1)).alias("n_deltas_s"),
            F.sum("is_reset").cast("bigint").alias("n_resets_s"),
        )
    )
    batch = counter_rate(counter).select(
        "series_id", "bucket_ts", "increase", "n_deltas", "n_resets"
    )
    j = streamed.join(batch, ["series_id", "bucket_ts"], "full_outer")
    bad = (
        F.col("increase_s").isNull()
        | F.col("increase").isNull()
        | (F.col("increase_s") != F.col("increase"))
        | (F.col("n_deltas_s") != F.col("n_deltas"))
        | (F.col("n_resets_s") != F.col("n_resets"))
    )
    return _mismatch_summary(j, "n_buckets", bad)


@query(side_effect=True, designed_bnl=True)
def _q_stream_dedup_drain(spark, sf_dir):
    """Streaming exact dedup, driver-exposed: the event stream is
    planted with duplicates (a deterministic 1-in-3 sample re-appended,
    some in the same drain, some only in a SECOND availableNow run over
    the same checkpoint — so cross-restart dedup state is exercised),
    deduped on event_id within a 90-day watermark, and compared against
    batch DISTINCT over the union: ``invariant_ok`` = every distinct
    event emitted exactly once, nothing twice, nothing missing."""
    ev = _events(spark, sf_dir).select("event_id", "ts", "user_id", "value")
    dups = ev.where(F.col("event_id") % 3 == 0)
    in_p, out_p, ck = _drain_paths("stream_dedup_drain")
    schema = "event_id bigint, ts timestamp, user_id bigint, value double"
    # run 1: all originals + duplicates of even sample rows
    ev.unionByName(dups.where(F.col("event_id") % 2 == 0)).write.mode(
        "append"
    ).parquet(in_p)
    await_drain(
        stream_dedup(spark, in_p, out_p, ck, schema), 300
    )
    # run 2 (same checkpoint): odd-sample duplicates — only state carried
    # from run 1 can identify them as duplicates
    dups.where(F.col("event_id") % 2 == 1).write.mode("append").parquet(
        in_p
    )
    await_drain(
        stream_dedup(spark, in_p, out_p, ck, schema), 300
    )

    emitted = spark.read.parquet(out_p)
    per_key = emitted.groupBy("event_id").agg(
        F.count(F.lit(1)).alias("_k")
    )
    return (
        per_key.agg(
            F.count(F.lit(1)).alias("n_distinct_emitted"),
            F.max("_k").alias("max_emits_per_key"),
        )
        .crossJoin(
            F.broadcast(ev.agg(F.countDistinct("event_id").alias("n_expected")))
        )
        .select(
            "n_distinct_emitted",
            "n_expected",
            "max_emits_per_key",
            (
                (F.col("n_distinct_emitted") == F.col("n_expected"))
                & (F.col("max_emits_per_key") == 1)
            ).alias("invariant_ok"),
        )
    )


@query()
def _q_stream_distinct_drain(spark, sf_dir):
    """Streaming windowed cardinality (streaming/facade.py
    stream_distinct_1m): per 1-minute window, HLL++ approx distinct
    conversations under a watermark — fixed-size register state per
    window where an exact streaming countDistinct would hold per-key
    state unbounded in the conversation count. Invariants ride per
    emitted window: ``sketch_exact_ok`` = the streamed HLL value equals
    the BATCH approx_count_distinct over the same rows bit-for-bit (HLL
    merge is per-register max — order-insensitive, so streaming
    incremental merge and batch one-shot must agree exactly), and
    ``band_ok`` = the sketch lands within 5*rsd of the exact distinct
    count. Append-mode emission subset semantics as in the other drains
    (emitted ⊆ batch; >0 windows)."""
    in_path, out_path, ckpt = _drain_paths("stream_distinct_drain")
    tx = transcripts_df(spark, 200, seed=42)
    tx.write.mode("overwrite").parquet(in_path)
    await_drain(stream_distinct_1m(spark, in_path, out_path, ckpt), 300)

    streamed = spark.read.parquet(out_path)
    batch = (
        spark.read.parquet(in_path)
        .groupBy(F.window("ts", "1 minute").alias("w"))
        .agg(
            F.approx_count_distinct("conv_id", 0.02).alias("b_approx"),
            F.countDistinct("conv_id").alias("b_exact"),
        )
        .select(F.col("w.start").alias("bucket_ts"), "b_approx", "b_exact")
    )
    j = streamed.join(batch, "bucket_ts", "left")
    return j.select(
        "bucket_ts",
        "approx_convs",
        "b_approx",
        "b_exact",
        (F.col("approx_convs") == F.col("b_approx")).alias(
            "sketch_exact_ok"
        ),
        (
            # 5*rsd relative band with an absolute floor of 2: the rsd
            # guarantee is asymptotic — a 3-conversation window can read 2
            # (one register collision) while being exactly what the batch
            # sketch says (sketch_exact_ok pins that equality separately)
            F.abs(F.col("approx_convs") - F.col("b_exact"))
            <= F.greatest(5 * 0.02 * F.col("b_exact"), F.lit(2.0))
        ).alias("band_ok"),
    )


@query()
def _q_stream_ohlc_drain(spark, sf_dir):
    """Streaming OHLC candles (streaming/facade.py stream_ohlc_1h),
    driver-exposed: availableNow drain of the event table through the
    watermarked hourly candle aggregate, then an EXACT comparison of
    every emitted candle against batch ohlc_bars over the same parquet.
    min_by/max_by partials merge in the state store exactly like batch
    map-side partials and every value is integer cents, so equality is
    bit-for-bit, not approximate: ``exact_ok`` = all six candle fields
    equal the batch candle; ``emitted_n_ok`` = a real fraction of the
    month's candles actually emitted (append-mode withholds only windows
    still inside the 2 h watermark horizon, so a vacuous 0-row pass is
    impossible)."""
    in_path, out_path, ckpt = _drain_paths("stream_ohlc_drain")
    schema = "series_id string, ts timestamp, v long"
    samples = _events(spark, sf_dir).select(
        F.col("event_type").alias("series_id"),
        "ts",
        _cents().alias("v"),
    )
    samples.write.mode("overwrite").parquet(in_path)
    await_drain(stream_ohlc_1h(spark, in_path, out_path, ckpt, schema), 300)

    streamed = spark.read.parquet(out_path)
    batch = ohlc_bars(
        spark.read.parquet(in_path), volume_col="v"
    ).select(
        "series_id",
        "bucket_ts",
        F.col("open").alias("b_open"),
        F.col("high").alias("b_high"),
        F.col("low").alias("b_low"),
        F.col("close").alias("b_close"),
        F.col("n_samples").alias("b_n"),
        F.col("volume").alias("b_volume"),
    )
    n_batch = Window.partitionBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    j = streamed.join(batch, ["series_id", "bucket_ts"], "left")
    return j.select(
        "series_id",
        "bucket_ts",
        "open",
        "high",
        "low",
        "close",
        "n_samples",
        "volume",
        (
            (F.col("open") == F.col("b_open"))
            & (F.col("high") == F.col("b_high"))
            & (F.col("low") == F.col("b_low"))
            & (F.col("close") == F.col("b_close"))
            & (F.col("n_samples") == F.col("b_n"))
            & (F.col("volume") == F.col("b_volume"))
        ).alias("exact_ok"),
        (
            F.count(F.lit(1)).over(n_batch) >= 100
        ).alias("emitted_n_ok"),
    ).orderBy("series_id", "bucket_ts")


@query(side_effect=True)
def _q_stream_rollup_drain(spark, sf_dir):
    """Streaming 1m-tier facade, driver-exposed: availableNow drain of a
    transcript snapshot through stream_rollup_1m, then an exact comparison
    of every EMITTED window against the batch 1m tier. Append mode +
    watermark means windows still inside the watermark horizon at
    end-of-input are withheld (they stay in state for the next drain), so
    the invariant is: emitted ⊆ batch with exact equality on every emitted
    key, nothing emitted twice, and >0 windows emitted."""
    in_path, out_path, ckpt = _drain_paths("stream_rollup_drain")
    tx = transcripts_df(spark, 200, seed=42)
    tx.write.mode("overwrite").parquet(in_path)
    await_drain(stream_rollup_1m(spark, in_path, out_path, ckpt), 300)

    streamed = spark.read.parquet(out_path)
    batch = rollup.rollup_once(
        activity.activity_raw(spark.read.parquet(in_path)), "1m"
    ).select("conv_id", "bucket_ts", "turns", "chars", "tool_calls")
    j = streamed.alias("s").join(
        batch.alias("b"), ["conv_id", "bucket_ts"], "left"
    )
    return _mismatch_summary(
        j, "n_windows",
        F.col("b.turns").isNull()
        | (F.col("s.turns") != F.col("b.turns"))
        | (F.col("s.chars") != F.col("b.chars"))
        | (F.col("s.tool_calls") != F.col("b.tool_calls")),
    )
