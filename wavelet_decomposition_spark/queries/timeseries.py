"""Time-series queries: gap-fill, as-of and interval joins,
temporal aggregates, rolling/seasonal/forecast features, symbolic
(SAX) words, matrix profile, changepoints and series resampling.
"""

from __future__ import annotations

import math

from pyspark.sql import Window
from pyspark.sql import functions as F

from wavelet_decomposition_spark.io.transcripts import transcripts_df
from wavelet_decomposition_spark.operators import motif
from wavelet_decomposition_spark.operators.asof import asof_join
from wavelet_decomposition_spark.operators.changepoint import pelt_changepoints
from wavelet_decomposition_spark.operators.dtw import dtw_allpairs
from wavelet_decomposition_spark.operators.gapfill import (
    gapfill_interp,
    gapfill_locf,
)
from wavelet_decomposition_spark.operators.hurst import rs_ladder
from wavelet_decomposition_spark.operators.interval import interval_join
from wavelet_decomposition_spark.operators.resample import (
    resample_linear_relational,
)
from wavelet_decomposition_spark.operators.sax import sax_rare_words, sax_words
from wavelet_decomposition_spark.operators.spectrum import spectral_features
from wavelet_decomposition_spark.operators.temporal import (
    counter_rate,
    interval_union,
    ohlc_bars,
    state_durations,
    time_weighted_avg,
)
from wavelet_decomposition_spark.operators.tsfeatures import (
    acf,
    brown_les,
    cross_corr,
    cusum_changepoint,
    ewma,
    holt_winters,
    lttb_downsample,
    m4_downsample,
    robust_anomalies,
    rolling_median,
    rolling_stats,
    seasonal_decompose,
    theil_sen,
)
from wavelet_decomposition_spark.queries import (
    _cents,
    _cents_counter,
    _events,
    _hourly_series,
    query,
)


@query()
def _q_circular_shift(spark, sf_dir):
    """P5 — circular index translation within each group."""
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    cnt = Window.partitionBy("event_type")
    return _events(spark, sf_dir).select(
        "event_type",
        "event_id",
        F.pmod(
            F.row_number().over(w) - 1 + F.lit(7), F.count(F.lit(1)).over(cnt)
        ).alias("shifted_idx"),
    )


@query()
def _q_series_diff(spark, sf_dir):
    """P6/J1 — aligned series subtraction via equi-join (click minus view
    counts per minute)."""
    ev = _events(spark, sf_dir)
    minute = F.date_trunc("minute", F.col("ts")).alias("bucket_ts")
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy(minute).agg(F.count(F.lit(1)).alias("n_click"))
    )
    views = (
        ev.filter(F.col("event_type") == "view")
        .groupBy(minute).agg(F.count(F.lit(1)).alias("n_view"))
    )
    return clicks.join(views, "bucket_ts").select(
        "bucket_ts", (F.col("n_click") - F.col("n_view")).alias("diff")
    )


@query(bench=True)
def _q_response_latency(spark, sf_dir):
    """Turn-taking latency over the transcript table (the payload axis):
    per conversation, the assistant's response delay on every user ->
    assistant transition (stable turn_idx ordering, exact integer
    microseconds) aggregated to count / mean / max. Rows-only (transcripts
    aren't a DuckDB view), SELF-VERIFYING by full computation-path
    redundancy: the same latencies are derived through one lag WINDOW and
    independently through a turn_idx self-JOIN (cur.turn_idx ==
    prev.turn_idx + 1), and ``dual_ok`` asserts (n, sum, max) agree
    integer-exactly per conversation — a mis-ordered window or a dropped
    join row cannot balance all three books. ``nonneg_ok`` pins the
    within-conversation timestamp monotonicity invariant."""
    tx = transcripts_df(spark, 400, seed=42).select(
        "conv_id", "turn_idx", "role", F.unix_micros("ts").alias("_us")
    )
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    path_a = (
        tx.withColumn("_pus", F.lag("_us").over(w))
        .withColumn("_prole", F.lag("role").over(w))
        .where(
            (F.col("role") == "assistant") & (F.col("_prole") == "user")
        )
        .select("conv_id", (F.col("_us") - F.col("_pus")).alias("lat_us"))
        .groupBy("conv_id")
        .agg(
            F.count(F.lit(1)).alias("n_responses"),
            F.sum("lat_us").alias("sum_lat_us"),
            F.max("lat_us").alias("max_lat_us"),
            F.min("lat_us").alias("_min_lat"),
        )
    )
    cur = tx.where(F.col("role") == "assistant").select(
        "conv_id", "turn_idx", F.col("_us").alias("_cus")
    )
    prev = tx.where(F.col("role") == "user").select(
        "conv_id",
        (F.col("turn_idx") + 1).alias("turn_idx"),
        F.col("_us").alias("_pus"),
    )
    path_b = (
        cur.join(prev, ["conv_id", "turn_idx"])
        .select("conv_id", (F.col("_cus") - F.col("_pus")).alias("lat_us"))
        .groupBy("conv_id")
        .agg(
            F.count(F.lit(1)).alias("_n_b"),
            F.sum("lat_us").alias("_sum_b"),
            F.max("lat_us").alias("_max_b"),
        )
    )
    return (
        path_a.join(path_b, "conv_id")
        .select(
            "conv_id",
            "n_responses",
            (
                F.col("sum_lat_us").cast("double")
                / F.col("n_responses")
                / 1e6
            ).alias("mean_lat_s"),
            "max_lat_us",
            (
                (F.col("n_responses") == F.col("_n_b"))
                & (F.col("sum_lat_us") == F.col("_sum_b"))
                & (F.col("max_lat_us") == F.col("_max_b"))
            ).alias("dual_ok"),
            (F.col("_min_lat") >= 0).alias("nonneg_ok"),
        )
        .orderBy("conv_id")
    )


def _hourly_counts_filled(spark, sf_dir):
    """``(filled, counts)``: ``counts`` is every event type's hourly event
    count ``(series_id, bucket_ts, n)``; ``filled`` is the same counts as
    ``(series_id, bucket_ts, v)``, zero-filled onto one shared hourly grid
    from the first to the last hour with any event, so every type's series
    has the same length. The grid endpoints are global window aggregates,
    so building it runs no job."""
    counts = (
        _events(spark, sf_dir)
        .groupBy(
            F.col("event_type").alias("series_id"),
            F.date_trunc("hour", F.col("ts")).alias("bucket_ts"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    every = Window.partitionBy()
    grid = (
        counts.select(
            "series_id",
            F.min("bucket_ts").over(every).alias("lo"),
            F.max("bucket_ts").over(every).alias("hi"),
        )
        .distinct()
        .select(
            "series_id",
            F.explode(F.sequence("lo", "hi", F.expr("interval 1 hour")))
            .alias("bucket_ts"),
        )
    )
    filled = grid.join(counts, ["series_id", "bucket_ts"], "left").select(
        "series_id",
        "bucket_ts",
        F.coalesce(F.col("n"), F.lit(0)).cast("double").alias("v"),
    )
    return filled, counts


@query(bench=True)
def _q_dtw_pairs(spark, sf_dir):
    """Banded dynamic-time-warping distances between the per-type hourly
    activity series (operators/dtw.py) — phase-robust series similarity
    next to the Pearson corr_matrix (a burst an hour late is 'near' under
    DTW, 'far' under Euclid). Series are zero-filled onto one shared
    hourly grid (equal lengths by construction), packed to arrays in one
    hash aggregate, pairs enumerated JVM-side (transform/flatten/explode —
    no join, no nested-loop plan), scored by an anti-diagonal-vectorized
    Arrow kernel at Sakoe-Chiba radius 24 h and 72 h in one pass.
    Rows-only, SELF-VERIFYING with DTW's provable properties computed
    in-query: ``self_ok`` = dtw(x,x) == 0 on the identity pairs;
    ``bound_ok`` = dtw <= Euclid (the diagonal path is admissible inside
    any band); ``band_ok`` = the 72 h-band distance <= the 24 h-band
    distance (wider band = superset of warping paths). A kernel that
    mis-scores or mis-aligns cannot satisfy all three."""
    filled, _ = _hourly_counts_filled(spark, sf_dir)
    out = dtw_allpairs(
        filled, "series_id", "bucket_ts",
        radius=24, wide_radius=72, include_self=True,
    )
    return out.select(
        "key_a",
        "key_b",
        "n_a",
        F.round("dtw", 6).alias("dtw"),
        F.round("dtw_wide", 6).alias("dtw_wide"),
        F.round("euclid", 6).alias("euclid"),
        F.when(F.col("key_a") == F.col("key_b"), F.col("dtw") == 0.0)
        .otherwise(F.lit(True))
        .alias("self_ok"),
        (F.col("dtw") <= F.col("euclid") + 1e-9).alias("bound_ok"),
        (F.col("dtw_wide") <= F.col("dtw") + 1e-9).alias("band_ok"),
    ).orderBy("key_a", "key_b")


@query(bench=True)
def _q_gapfill_locf(spark, sf_dir):
    """Gap-fill to a 1-minute grid with last-observation-carried-forward."""
    per_min = (
        _events(spark, sf_dir)
        .groupBy(
            "event_type", F.date_trunc("minute", F.col("ts")).alias("bucket_ts")
        )
        .agg(F.avg("value").alias("avg_value"))
    )
    filled = gapfill_locf(
        per_min, ["avg_value"], step="1 minute", group_col="event_type"
    )
    return filled.select(
        "event_type", "bucket_ts", F.round("avg_value", 6).alias("avg_value")
    )


@query(bench=True)
def _q_gapfill_interp(spark, sf_dir):
    """Gap-fill to a 1-minute grid with linear interpolation between the
    surrounding observations (the continuous-gauge policy; LOCF's
    step-function twin is `gapfill_locf`). Grid edges are observed by
    construction (the grid spans each group's [min, max]), so every output
    value is defined.

    The gauge is min(value) — an exact selection, bit-reproducible across
    engines — and the output is deliberately UNROUNDED: the ratio-first
    interp formula then yields bit-identical doubles in Spark and DuckDB,
    whereas a round(6) of avg()-based midpoints systematically lands on
    .5e-6 ties where the two engines' round() tie-breaking differs."""
    per_min = (
        _events(spark, sf_dir)
        .groupBy(
            "event_type", F.date_trunc("minute", F.col("ts")).alias("bucket_ts")
        )
        .agg(F.min("value").alias("min_value"))
    )
    filled = gapfill_interp(
        per_min, ["min_value"], step="1 minute", group_col="event_type"
    )
    return filled.select("event_type", "bucket_ts", "min_value")


@query(bench=True)
def _q_asof_join(spark, sf_dir):
    """As-of join: attach to every click the user's most recent purchase at
    or before it (inclusive ties, deterministic max_by tie-break on the
    right, left-outer with -1 sentinels so the hash gate never sees NaN).
    Union-window form — ONE shuffle, no join explosion; oracle is DuckDB's
    native ASOF LEFT JOIN."""
    ev = _events(spark, sf_dir)
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", "value"
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value", "event_id"
    )
    out = asof_join(
        clicks, purchases, on="user_id", right_cols=["value"],
        tie_break="event_id", suffix="_p",
    )
    age_s = (
        F.unix_micros(F.col("ts").cast("timestamp"))
        - F.unix_micros(F.col("ts_p").cast("timestamp"))
    ) / F.lit(1_000_000.0)
    return out.select(
        "event_id",
        "user_id",
        F.round("value", 6).alias("click_value"),
        F.round(F.coalesce("value_p", F.lit(-1.0)), 6).alias(
            "last_purchase_value"
        ),
        F.coalesce(F.round(age_s, 6), F.lit(-1.0)).alias("purchase_age_s"),
    )


@query(bench=True)
def _q_interval_join(spark, sf_dir):
    """Point-in-interval join (operators/interval.py): attach each click to
    every 30-minute post-purchase window (same user) containing it, then
    aggregate per click — window count and earliest containing window id
    (-1 sentinel when none). Bucketized to a (user_id, 15-min bucket)
    equi-join; the oracle is DuckDB's native range join over the identical
    BETWEEN predicate."""
    ev = _events(spark, sf_dir)
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    windows = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("interval 30 minutes")).alias("end_ts"),
        F.col("event_id").alias("window_id"),
    )
    joined = interval_join(
        clicks,
        windows,
        on="user_id",
        granularity="15 minutes",
        how="left",
    )
    return joined.groupBy("event_id", "user_id").agg(
        F.count("window_id").alias("n_windows"),
        F.coalesce(F.min("window_id"), F.lit(-1).cast("bigint")).alias(
            "first_window_id"
        ),
    )


@query(bench=True)
def _q_time_weighted_avg(spark, sf_dir):
    """Time-weighted hourly mean of the LOCF step function over irregular
    event samples (operators/temporal.py time_weighted_avg): a plain avg()
    over-weights bursts of fast samples; this integrates value*dt, with
    segments split across the buckets they span.

    Cross-engine exactness by construction: values quantized to integer
    cents (the data's native granularity), weights are integer
    microseconds, and every per-bucket sum is bounded by max_cents *
    bucket_us = 1.8e14 < 2^53 — so both engines sum exactly-representable
    integers in any order and the final double divisions are
    bit-identical. Samples deduped to one per (series, ts) via MAX (LOCF
    over a timestamp tie is order-ambiguous in any engine) — max, not
    sum, so the per-sample magnitude bound above survives arbitrarily
    many colliding events."""
    samples = (
        _events(spark, sf_dir)
        .groupBy(F.col("event_type").alias("series_id"), "ts")
        .agg(F.max(_cents()).cast("double").alias("v"))
    )
    out = time_weighted_avg(samples)
    return out.select(
        "series_id",
        "bucket_ts",
        (F.col("twa") / F.lit(100.0)).alias("twa"),
        "covered_us",
    )


@query(bench=True)
def _q_counter_rate(spark, sf_dir):
    """PromQL-style increase/rate over a cumulative counter with restart
    detection (operators/temporal.py counter_rate): the counter is the
    exact integer running total of event cents modulo 1e6 — the modulus
    manufactures genuine resets (~every 55 samples), so the
    negative-delta branch (contribute v_t, not v_t - v_{t-1}) is
    exercised on real data. All arithmetic is integer-exact in both
    engines; only the final rate division is floating (one deterministic
    op)."""
    out = counter_rate(_cents_counter(spark, sf_dir))
    return out.select(
        "series_id",
        "bucket_ts",
        F.col("increase").cast("bigint").alias("increase"),
        "n_deltas",
        "n_resets",
        F.round("rate_per_s", 6).alias("rate_per_s"),
    )


@query(bench=True)
def _q_interval_union(spark, sf_dir):
    """Gaps-and-islands union of per-user 30-minute post-purchase windows
    (operators/temporal.py interval_union): overlapping/abutting windows
    merge into maximal spans — the uptime/coverage primitive. Pure
    integer/timestamp output, no float risk. Oracle: the standard
    running-max island construction in DuckDB SQL."""
    windows = (
        _events(spark, sf_dir)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("series_id"),
            F.col("ts").alias("start_ts"),
            (F.col("ts") + F.expr("interval 30 minutes")).alias("end_ts"),
        )
    )
    out = interval_union(windows)
    return out.select(
        F.col("series_id").alias("user_id"),
        "island_start",
        "island_end",
        "n_intervals",
    )


@query(bench=True)
def _q_ohlc_bars(spark, sf_dir):
    """Hourly OHLC candles per event type (operators/temporal.py
    ohlc_bars — the TimescaleDB candlestick_agg / kdb bar primitive):
    open/close picked by deterministic struct-ordered first/last
    tie-breaks (earliest ts then smallest value; latest ts then largest),
    ONE hash aggregate, no window sort. Cross-engine exactness: values
    are integer cents end to end (min/max/arg-extremes move exact
    integers; the volume sum is bounded far below 2^53), and the oracle
    replays the identical (ts, v) tie-break via row_number."""
    samples = _events(spark, sf_dir).select(
        F.col("event_type").alias("series_id"),
        "ts",
        _cents().alias("v"),
    )
    out = ohlc_bars(samples, volume_col="v")
    return out.select(
        "series_id",
        "bucket_ts",
        F.col("open").alias("open_cents"),
        F.col("high").alias("high_cents"),
        F.col("low").alias("low_cents"),
        F.col("close").alias("close_cents"),
        "n_samples",
        F.col("volume").alias("volume_cents"),
    )


@query(bench=True)
def _q_state_durations(spark, sf_dir):
    """Time-in-state per user (operators/temporal.py state_durations —
    the TimescaleDB state_agg primitive): each event's type is the user's
    state until their next event (LOCF; the trailing event's holding time
    is unknown and excluded, the time_weighted_avg convention). Durations
    are exact integer microseconds; ``frac`` is ONE division of the same
    two exact integers in both engines (the denominator telescopes to the
    user's last ts minus first ts). Equal-timestamp ties order by
    (ts, state) in both engines — binary-comparable ASCII states."""
    samples = _events(spark, sf_dir).select(
        F.col("user_id").alias("series_id"), "ts",
        F.col("event_type").alias("state"),
    )
    out = state_durations(samples)
    return out.select(
        F.col("series_id").alias("user_id"),
        "state",
        "total_us",
        "n_segments",
        "frac",
    )


# designed nested-loop join: 1-row broadcast split/planted-separation invariant
# joins
@query(bench=True, designed_bnl=True)
def _q_forecast_backtest(spark, sf_dir):
    """Rolling-origin forecast backtest — the evaluation harness that
    makes a forecaster a product feature: hold out the last 24 hours of
    every hourly series, fit additive Holt-Winters on the train split
    (operators/tsfeatures.py holt_winters), forecast h=1..24, and score
    MAE/sMAPE against the held-out actuals NEXT TO the seasonal-naive
    baseline (actual from 24h earlier — the no-model control every
    forecast must beat to justify itself).

    A planted noiseless series (linear trend + daily sine) rides along:
    Holt-Winters tracks trend+season so its test MAE must be tiny,
    while seasonal-naive structurally misses the trend by a constant
    slope*24 = 12.0 per point — ``planted_ok`` asserts mae_hw < 2 and
    mae_naive > 5 there (observed: 0.69 vs 12.0 — the HW residue is
    the gamma-rate decay of trend contamination in the classical
    seasonal seeds s_i = x_i - l_0, which absorb the within-season
    ramp), and
    ``split_ok`` pins every series' test window to exactly 24 points.
    Rows-only (the HW recurrence is the Arrow kernel; its own dual_ok
    scalar-replay invariant is asserted upstream in the operator).
    """
    i = F.col("id")
    planted = spark.range(720).select(
        F.lit("planted").alias("series_id"),
        F.timestamp_seconds(F.lit(1767225600) + i * 3600).alias(
            "bucket_ts"
        ),
        (
            100.0
            + 0.5 * i.cast("double")
            + 20.0
            * F.sin(i.cast("double") * F.lit(2.0 * math.pi / 24.0))
        ).alias("v"),
    )
    base = _hourly_series(spark, sf_dir).unionByName(planted)
    pos = F.row_number().over(
        Window.partitionBy("series_id").orderBy("bucket_ts")
    ) - 1
    h_test = 24
    idx = base.select("series_id", "bucket_ts", "v", pos.alias("p"))
    n_by = idx.groupBy("series_id").agg(F.max("p").alias("_pmax"))
    # materialize the indexed split frame ONCE (r6): it feeds the train
    # split, the test split, AND the seasonal-naive side — Catalyst
    # otherwise clones the events-scan + window + broadcast-join subtree
    # per consumer (24 parquet scans in the before-plan); the frame is
    # the tiny hourly tier, so the checkpoint is bounded at any sf
    idx = (
        idx.join(F.broadcast(n_by), "series_id")
        .withColumn("_split", F.col("_pmax") - h_test)
        .localCheckpoint()
    )
    train = idx.where(F.col("p") <= F.col("_split"))
    test = idx.where(F.col("p") > F.col("_split")).select(
        "series_id",
        (F.col("p") - F.col("_split")).cast("int").alias("h"),
        F.col("v").alias("actual"),
    )
    fc = holt_winters(
        train.select("series_id", "bucket_ts", "v"),
        horizon=h_test,
        verify=False,
    ).select("series_id", "h", "forecast")
    joined = (
        test.join(fc, ["series_id", "h"])
        .join(
            train.select(
                "series_id",
                (F.col("p") - F.col("_split") + h_test).alias("h"),
                F.col("v").alias("naive_fc"),
            ).where(F.col("h") >= 1),
            ["series_id", "h"],
        )
    )
    per = joined.groupBy("series_id").agg(
        F.count(F.lit(1)).alias("n_test"),
        F.avg(F.abs(F.col("forecast") - F.col("actual"))).alias(
            "mae_hw"
        ),
        F.avg(F.abs(F.col("naive_fc") - F.col("actual"))).alias(
            "mae_naive"
        ),
        F.avg(
            2.0
            * F.abs(F.col("forecast") - F.col("actual"))
            / (F.abs("forecast") + F.abs("actual"))
        ).alias("smape_hw"),
    ).localCheckpoint()  # per-series scores feed the gate aggregate AND
    # the returned rows — one run of the HW kernel + join tree, not two
    checks = per.agg(
        F.min(F.col("n_test") == h_test).alias("split_ok"),
        F.max(
            F.when(
                F.col("series_id") == "planted",
                (F.col("mae_hw") < 2.0) & (F.col("mae_naive") > 5.0),
            )
        ).alias("planted_ok"),
    )
    return (
        per.crossJoin(F.broadcast(checks))
        .select(
            "series_id", "n_test",
            F.round("mae_hw", 6).alias("mae_hw"),
            F.round("mae_naive", 6).alias("mae_naive"),
            F.round("smape_hw", 6).alias("smape_hw"),
            "split_ok", "planted_ok",
        )
        .orderBy("series_id")
    )


def _hourly_scaled_mean(spark, sf_dir, scale):
    """Per-(event_type, hour) mean value as the exact integer
    ``vm = floor(sum of cents * scale / events)``, as
    ``(series_id, bucket_ts, vm)``."""
    return (
        _events(spark, sf_dir)
        .groupBy(
            F.col("event_type").alias("series_id"),
            F.date_trunc("hour", F.col("ts")).alias("bucket_ts"),
        )
        .agg(
            F.sum(_cents()).alias("_cents"),
            F.count(F.lit(1)).alias("_nev"),
        )
        .select(
            "series_id",
            "bucket_ts",
            F.floor(
                F.col("_cents").cast("double") * scale / F.col("_nev")
            ).alias("vm"),
        )
    )


@query(bench=True)
def _q_sax_words(spark, sf_dir):
    """PAA + SAX symbolic downsampling (operators/sax.py — Lin et al.
    2003): each per-type hourly series is cut into tumbling 64-bucket
    windows, PAA-reduced to 8 segment means, z-normalized against the
    whole series' moments, and discretized onto a 5-letter alphabet via
    equiprobable N(0,1) breakpoints — one 8-letter word per window, the
    discrete index key for motif counting / rare-word anomaly detection.

    Cross-engine exactness (fully DuckDB-oracle-checked): the series is
    quantized to exact integer MILLI-units first (sum of integer cents
    scaled by 10, floored — values <= 5.7e5, so sums-of-squares stay
    under 2^53 and are exact BIGINTs in both engines). Every downstream
    float op — mu = S/n, sd = sqrt(max(SS/n - mu^2, 0)), z =
    (paa - mu)/sd — is the identical IEEE sequence on exact integer
    inputs, so the z-scores and therefore the DISCRETE SYMBOLS are
    bit-identical cross-engine; the breakpoints are irrational N(0,1)
    quantiles a quotient of integers never lands on exactly.
    """
    hr = _hourly_scaled_mean(spark, sf_dir, 10.0)
    return sax_words(
        hr, alphabet=5
    ).orderBy("series_id", "window_id")


@query(bench=True)
def _q_sax_anomaly(spark, sf_dir):
    """HOT-SAX-style anomaly candidates (operators/sax.py
    sax_rare_words): the 2 windows per series whose SAX word is rarest
    within that series — Keogh's discord heuristic as an exact
    deterministic rank ((freq, window_id) tie-break), so unlike classic
    HOT-SAX search this is fully DuckDB-oracle-checked, discrete
    symbols, frequencies, and ranks alike. Same exact integer
    milli-unit pipeline as `sax_words`.
    """
    hr = _hourly_scaled_mean(spark, sf_dir, 10.0)
    return sax_rare_words(
        hr, k=2
    ).orderBy("series_id", "window_id")


@query(bench=True)
def _q_holt_winters(spark, sf_dir):
    """Additive Holt-Winters fit + 24-step forecast over the per-type
    hourly activity series (operators/tsfeatures.py holt_winters) — the
    trend+seasonality forecaster brown_les deliberately stops short of;
    here the coupled recurrences run vectorized ACROSS hash-bucketed
    series with the Python loop over time steps only. Rows-only,
    SELF-VERIFYING three ways: ``dual_ok`` = an independent scalar-loop
    reference (shifting seasonal list vs ring buffer) agrees with the
    matrix path on level/trend/sse/every forecast to 1e-9; ``planted_ok``
    = a PLANTED exactly-periodic trend-free series (v[i] = (i%24)*37 %
    101 on the same grid) must fit with sse <= 1e-6 and forecast its own
    next cycle to <= 1e-6 — the classical seeding makes that an exact
    identity up to float round-trip; ``planted_n_ok`` = all 24 planted
    forecast rows actually exist (a dropped planted series cannot pass
    vacuously). ``finite_ok`` pins NaN/inf out of every output."""
    filled, counts = _hourly_counts_filled(spark, sf_dir)
    hours = F.sequence("lo", "hi", F.expr("interval 1 hour"))
    planted = counts.agg(
        F.min("bucket_ts").alias("lo"), F.max("bucket_ts").alias("hi")
    ).select(F.posexplode(hours).alias("i", "bucket_ts")).select(
        F.lit("__planted_periodic__").alias("series_id"),
        "bucket_ts",
        ((F.col("i") % 24) * 37 % 101).cast("double").alias("v"),
    )
    out = holt_winters(
        filled.unionByName(planted),
        horizon=24,
        n_buckets=4,
    )
    is_planted = F.col("series_id") == "__planted_periodic__"
    expected = (
        ((F.col("n") + F.col("h") - 1) % 24) * 37 % 101
    ).cast("double")
    wall = Window.partitionBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return out.select(
        "series_id",
        "h",
        "forecast",
        "level",
        "trend",
        "sse",
        "n",
        "dual_ok",
        (
            ~is_planted
            | (
                (F.abs(F.col("forecast") - expected) <= 1e-6)
                & (F.col("sse") <= 1e-6)
            )
        ).alias("planted_ok"),
        (
            F.sum(is_planted.cast("int")).over(wall) == 24
        ).alias("planted_n_ok"),
        (
            ~F.isnan("forecast") & ~F.isnan("level") & ~F.isnan("trend")
            & ~F.isnan("sse")
            & (F.abs("forecast") < F.lit(float("inf")))
            & (F.abs("trend") < F.lit(float("inf")))
        ).alias("finite_ok"),
    ).orderBy("series_id", "h")


@query(bench=True)
def _q_ts_rolling(spark, sf_dir):
    """Trailing 24-bucket rolling mean/std/min/max over the hourly series
    (operators/tsfeatures.py rolling_stats): one exchange, one sort,
    whole-stage-codegen frame."""
    # The hourly means here are terminating decimals (2-dp cents / event
    # counts), so rounded stats land EXACTLY on decimal half-boundaries
    # where Spark's BigDecimal HALF_UP and DuckDB's scaled-double round()
    # legitimately disagree. Fix at the root: quantize the series to exact
    # integer micro-units, then every windowed statistic is derived from
    # exact integer window sums via the SAME double operations in both
    # engines — bit-identical outputs, no rounding anywhere.
    hr = _hourly_scaled_mean(spark, sf_dir, 10000.0)
    out = rolling_stats(hr, value_col="vm")
    # sample std from exact integer window sums (the operator's Welford
    # stddev is association-order-dependent across engines); Catalyst
    # merges these into the operator's existing Window node
    w = (
        Window.partitionBy("series_id")
        .orderBy("bucket_ts")
        .rowsBetween(-23, 0)
    )
    s = F.sum("vm").over(w).cast("double")
    ssq = F.sum(F.col("vm") * F.col("vm")).over(w).cast("double")
    n = F.col("roll_n")
    var = F.greatest(
        (ssq - s * s / n) / (n - F.lit(1)), F.lit(0.0)
    )
    scale = F.lit(1_000_000.0)
    return out.withColumn("_std_exact", F.when(n > 1, F.sqrt(var))).select(
        "series_id",
        "bucket_ts",
        (F.col("vm") / scale).alias("v"),
        (F.col("roll_mean") / scale).alias("roll_mean"),
        F.coalesce(F.col("_std_exact") / scale, F.lit(-1.0)).alias(
            "roll_std"
        ),
        (F.col("roll_min") / scale).alias("roll_min"),
        (F.col("roll_max") / scale).alias("roll_max"),
        "roll_n",
    )


@query(bench=True)
def _q_ts_ewma(spark, sf_dir):
    """EWMA smoothing, adjust=False recurrence, alpha=0.25 (dyadic, so
    alpha and 1-alpha are exact doubles in BOTH engines); Spark side is
    the vectorized pandas kernel, oracle side a DuckDB recursive CTE
    replaying the identical recurrence."""
    out = ewma(_hourly_series(spark, sf_dir), alpha=0.25)
    return out.select(
        "series_id", "bucket_ts", "v", F.round("ewma", 6).alias("ewma")
    )


@query(bench=True)
def _q_ts_acf(spark, sf_dir):
    """Sample autocorrelation at lags 1..12 per series: one explode of
    forward offsets + one equi-join (no per-lag window sorts), partial-
    aggregated corr."""
    out = acf(_hourly_series(spark, sf_dir), max_lag=12)
    return out.select(
        "series_id",
        F.col("lag").cast("int").alias("lag"),
        F.round("acf", 6).alias("acf"),
        "n_pairs",
    )


@query(bench=True)
def _q_m4_downsample(spark, sf_dir):
    """M4 visualization downsampling (first/last/min/max per bucket —
    Jugel et al. VLDB'14) of the per-(type, timestamp) event series into
    hourly pixels; ONE hash aggregate with map-side combine."""
    # dedupe exact-timestamp collisions first so first/last are
    # well-defined (and the arg_min/arg_max oracle cannot go flaky)
    base = (
        _events(spark, sf_dir)
        .groupBy(
            F.col("event_type").alias("series_id"),
            F.col("ts").alias("bucket_ts"),
        )
        .agg(F.round(F.avg("value"), 6).alias("v"))
    )
    out = m4_downsample(base, bucket="1 hour")
    return out.select(
        "series_id", "bucket_start",
        "first_v", "last_v", "min_v", "max_v", "n_points",
    )


@query(bench=True)
def _q_ts_anomaly(spark, sf_dir):
    """Median/MAD modified-z outlier flags (Iglewicz–Hoaglin 3.5 cut) on
    the hourly series; exact percentile aggregates, broadcast stats join."""
    out = robust_anomalies(_hourly_series(spark, sf_dir))
    return out.select(
        "series_id", "bucket_ts", "v",
        F.round("robust_z", 6).alias("robust_z"),
        "is_anomaly",
    )


@query(bench=True)
def _q_ts_cusum(spark, sf_dir):
    """CUSUM mean-shift change-point per series: argmax |cumsum(x-mean)|
    plus the normalized max statistic; per-group output is one scalar row
    so the final shuffle is one row per series."""
    out = cusum_changepoint(_hourly_series(spark, sf_dir))
    return out.select(
        "series_id", "cp_ts", F.round("cusum_stat", 6).alias("cusum_stat"),
        "n",
    )


@query(bench=True)
def _q_ts_seasonal(spark, sf_dir):
    """Classical additive seasonal decomposition (period 24 h): centered
    moving-average trend (honest nulls at edges), zero-mean per-phase
    seasonal, residual."""
    # integer micro-unit inputs: the 2x24 MA divides frame sums by 48,
    # whose decimal expansion lands ~1/48 of 6-dp-rounded inputs exactly
    # on .5e-6 half-boundaries where Spark HALF_UP and DuckDB disagree —
    # so the sums are made EXACT (ints < 2^53) and every output ships
    # UNROUNDED: identical doubles in both engines, no rounding at all
    vi = _hourly_series(spark, sf_dir).select(
        "series_id",
        "bucket_ts",
        F.round(F.col("v") * 1_000_000).cast("bigint").cast("double")
        .alias("v"),
    )
    out = seasonal_decompose(vi, period=24)
    m = F.lit(1_000_000.0)
    # edge buckets (incomplete centered window) have null trend/residual;
    # sentinel them — NaN ties in the gate's row sort scramble row order
    # between engines even when every value agrees
    return out.select(
        "series_id", "bucket_ts",
        (F.col("v") / m).alias("v"),
        F.col("phase").cast("int").alias("phase"),
        F.coalesce(F.col("trend") / m, F.lit(-999999.0)).alias("trend"),
        (F.col("seasonal") / m).alias("seasonal"),
        F.coalesce(F.col("residual") / m, F.lit(-999999.0)).alias(
            "residual"
        ),
    )


@query(bench=True)
def _q_ts_rolling_median(spark, sf_dir):
    """Trailing 24-bucket rolling MEDIAN over the hourly series
    (operators/tsfeatures.py rolling_median) — the robust twin of
    ts_rolling. Output deliberately UNROUNDED: both engines take the
    mean of the same two middle order statistics on identical inputs, so
    the doubles are bit-identical; a 6-dp round would land even-count
    midpoints of 6-dp inputs exactly on half-boundaries where the two
    engines' round() tie-breaking differs."""
    out = rolling_median(_hourly_series(spark, sf_dir))
    return out.select(
        "series_id", "bucket_ts", "v", "roll_median", "roll_n"
    )


@query(bench=True)
def _q_ts_theil_sen(spark, sf_dir):
    """Theil–Sen robust trend per hourly series (operators/tsfeatures.py
    theil_sen): median of all pairwise slopes, value-units per hour.
    Hour indices are exact (bucket micros are exact multiples of the
    unit), every slope is one identical IEEE division in both engines,
    and the median is the same two-middle-order-statistics formula —
    unrounded output, bit-identical cross-engine."""
    out = theil_sen(_hourly_series(spark, sf_dir))
    return out.select("series_id", "slope_per_unit", "n_pairs")


@query(bench=True)
def _q_ts_strengths(spark, sf_dir):
    """Wang–Hyndman decomposition-based feature scalars per series:
    trend strength = max(0, 1 - Var(R)/Var(v - seasonal)) and seasonal
    strength = max(0, 1 - Var(R)/Var(v - trend)), computed over the
    decomposition's interior (rows with a full centered-MA trend window).
    The canonical "is this series trendy / seasonal" classifier features
    (tsfeatures/feasts). Both engines aggregate the identical doubles;
    variance is the one op where their summation algebra can differ at
    ~1e-12 relative, far inside the 6-dp round."""
    dec = seasonal_decompose(_hourly_series(spark, sf_dir), period=24)
    v, t, s = F.col("v"), F.col("trend"), F.col("seasonal")
    out = (
        dec.where(t.isNotNull())
        .groupBy("series_id")
        .agg(
            F.var_samp(v - t - s).alias("_vr"),
            F.var_samp(v - s).alias("_vdeseas"),
            F.var_samp(v - t).alias("_vdetrend"),
            F.count(F.lit(1)).alias("n_interior"),
        )
    )
    return out.select(
        "series_id",
        F.round(
            F.greatest(F.lit(0.0), 1 - F.col("_vr") / F.col("_vdeseas")), 6
        ).alias("trend_strength"),
        F.round(
            F.greatest(F.lit(0.0), 1 - F.col("_vr") / F.col("_vdetrend")), 6
        ).alias("seasonal_strength"),
        "n_interior",
    )


@query(bench=True)
def _q_ts_period(spark, sf_dir):
    """Dominant-period detection over the ACF (lags 2..48): a plain
    argmax is WRONG for periodic signals — a sine's ACF is a cosine with
    equal peaks at every multiple of the period, so noise freely tips
    lag 2p above p. The detector therefore takes the SMALLEST lag whose
    autocorrelation reaches 95% of the series' max (the fundamental
    beats its harmonics; pinned by a planted 17-bucket sine pytest where
    acf(34) actually measured above acf(17)). 6-dp-rounded acf so both
    engines compare identical values; negative-max series fall back to
    the exact max (a 0.95 factor on a negative max would exclude
    everything)."""
    a = acf(_hourly_series(spark, sf_dir), max_lag=48).where(
        F.col("lag") >= 2
    )
    a = a.select(
        "series_id",
        F.col("lag").cast("int").alias("lag"),
        F.round("acf", 6).alias("acf_r"),
    )
    ws = Window.partitionBy("series_id")
    mx = F.max("acf_r").over(ws)
    thr = F.when(mx > 0, mx * 0.95).otherwise(mx)
    cand = a.withColumn("_thr", thr).where(F.col("acf_r") >= F.col("_thr"))
    w = Window.partitionBy("series_id").orderBy(F.col("lag").asc())
    return (
        cand.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(
            "series_id",
            F.col("lag").alias("period"),
            F.col("acf_r").alias("acf_at_period"),
        )
    )


@query(bench=True)
def _q_spectral_features(spark, sf_dir):
    """Frequency-domain scalar features per hourly series
    (operators/spectrum.py spectral_features): normalized spectral
    entropy, dominant frequency + its power share. Rows-only (FFT is not
    SQL-expressible) but SELF-VERIFYING: ``invariant_ok`` asserts the
    Parseval identity |energy_time - energy_spec| <= 1e-6·energy_time,
    entropy in [0,1], and peak_share in (0,1] — a kernel emitting
    garbage spectra cannot satisfy time-vs-frequency energy equality."""
    out = spectral_features(
        _hourly_series(spark, sf_dir), group_cols=("series_id",)
    )
    rel = F.abs(F.col("energy_time") - F.col("energy_spec")) / F.greatest(
        F.col("energy_time"), F.lit(1e-30)
    )
    # peak_share >= 0 (not > 0): the operator's degenerate branch
    # (constant series / n < 4) legitimately emits share 0.0 — the
    # Parseval equality is the load-bearing check
    inv = (
        (rel <= 1e-6)
        & (F.col("spectral_entropy") >= 0)
        & (F.col("spectral_entropy") <= 1)
        & (F.col("peak_share") >= 0)
        & (F.col("peak_share") <= 1)
    )
    return out.select(
        "series_id",
        "n",
        F.round("spectral_entropy", 6).alias("spectral_entropy"),
        "peak_freq_idx",
        F.round("peak_share", 6).alias("peak_share"),
        inv.alias("invariant_ok"),
    )


@query(bench=True)
def _q_series_corr_matrix(spark, sf_dir):
    """Pairwise Pearson correlation matrix of the five hourly series
    (upper triangle, positional row alignment like ts_xcorr's lag 0):
    which metrics move together. One row_number window + one self
    equi-join on the index + a partial-aggregated corr per pair."""
    w = Window.partitionBy("series_id").orderBy("bucket_ts")
    idx = _hourly_series(spark, sf_dir).select(
        "series_id",
        F.col("v").alias("_x"),
        (F.row_number().over(w) - 1).alias("_i"),
    )
    a = idx.select(
        F.col("series_id").alias("series_a"), F.col("_x").alias("_xa"), "_i"
    )
    b = idx.select(
        F.col("series_id").alias("series_b"), F.col("_x").alias("_xb"), "_i"
    )
    return (
        a.join(b, "_i")
        .where(F.col("series_a") < F.col("series_b"))
        .groupBy("series_a", "series_b")
        .agg(
            F.round(F.corr("_xa", "_xb"), 6).alias("corr"),
            F.count(F.lit(1)).alias("n_pairs"),
        )
    )


@query(bench=True)
def _q_ts_brown_les(spark, sf_dir):
    """Brown's linear exponential smoothing over the hourly series
    (operators/tsfeatures.py brown_les): trend-aware forecasting one
    notch up from EWMA, computed as two chained adjust=False EWMA passes
    in pandas' C kernel. Dyadic alpha=0.25 so the recurrence constants
    are exact; the oracle replays both recurrences as stacked recursive
    CTEs with identical IEEE op order, making the 6-dp rounds
    tie-free."""
    out = brown_les(_hourly_series(spark, sf_dir), alpha=0.25)
    return out.select(
        "series_id",
        "bucket_ts",
        "v",
        F.round("level", 6).alias("level"),
        F.round("trend", 6).alias("trend"),
        F.round("forecast", 6).alias("forecast"),
    )


@query(bench=True)
def _q_ts_xcorr(spark, sf_dir):
    """Cross-correlation between the click and view hourly series at lags
    -6..6 (operators/tsfeatures.py cross_corr): positional alignment by
    row index within each series' time order, one equi-join on the
    shifted index, partial-aggregated corr per lag — the two-series
    extension of ts_acf."""
    out = cross_corr(
        _hourly_series(spark, sf_dir), id_a="click", id_b="view", max_lag=6
    )
    return out.select(
        F.col("lag").cast("int").alias("lag"),
        F.round("xcorr", 6).alias("xcorr"),
        "n_pairs",
    )


@query(bench=True)
def _q_lttb_downsample(spark, sf_dir):
    """LTTB line-chart downsampling to 100 points per hourly series
    (operators/tsfeatures.py lttb_downsample) — rows-only (the greedy is
    not SQL-expressible) but SELF-VERIFYING in the single-lineage window
    form: every output row is left-joined back to the input series and
    per-series window aggregates assert (a) each point is a REAL input
    point with its exact value, (b) the point count is exactly
    min(100, n_series), (c) both endpoints are preserved. A kernel
    returning invented, mis-valued, miscounted, or endpoint-dropping rows
    fails the gate's invariant assertion. The greedy's per-step argmax
    optimality is pinned in pytest (tests/test_tsfeatures.py)."""
    base = _hourly_series(spark, sf_dir)
    out = lttb_downsample(base, n_out=100)
    binfo = base.groupBy("series_id").agg(
        F.count(F.lit(1)).alias("_n_in"),
        F.min("bucket_ts").alias("_ts_min"),
        F.max("bucket_ts").alias("_ts_max"),
    )
    joined = (
        out.join(
            base.withColumnRenamed("v", "_v_in"),
            ["series_id", "bucket_ts"],
            "left",
        )
        .join(F.broadcast(binfo), "series_id")
    )
    w = Window.partitionBy("series_id")
    bad = F.when(
        F.col("_v_in").isNull() | (F.col("_v_in") != F.col("v")), 1
    ).otherwise(0)
    inv = (
        (F.sum(bad).over(w) == 0)
        & (F.count(F.lit(1)).over(w) == F.least(F.lit(100), F.col("_n_in")))
        & (F.min("bucket_ts").over(w) == F.col("_ts_min"))
        & (F.max("bucket_ts").over(w) == F.col("_ts_max"))
    )
    return joined.select(
        "series_id", "bucket_ts", F.round("v", 6).alias("v"),
        inv.alias("invariant_ok"),
    )


@query()
def _q_resample_linear(spark, sf_dir):
    """P4 relational form — 1->4 linear upsample of the per-minute click
    series (positional grid via row_number; np.interp-equivalence pinned in
    tests/test_activity_rollup.py)."""
    w = Window.partitionBy("event_type").orderBy("bucket_ts")
    per_min = (
        _events(spark, sf_dir)
        .groupBy(
            "event_type", F.date_trunc("minute", F.col("ts")).alias("bucket_ts")
        )
        .agg(F.avg("value").alias("v"))
        .select(
            "event_type", (F.row_number().over(w) - 1).alias("idx"), "v"
        )
    )
    out = resample_linear_relational(per_min, "event_type", 1, 4)
    return out.select(
        "event_type", "idx", F.round("v", 6).alias("v")
    )


@query(bench=True)
def _q_hurst_rs(spark, sf_dir):
    """Rescaled-range ladder (operators/hurst.py rs_ladder) over the
    per-type hourly activity series — the long-memory sufficient
    statistics under the Hurst exponent: per (series, dyadic window
    size n), the number of full chunks and the exact BIGINT sum of
    floor(R/S * 1e6) over them. The series is quantized to integer
    whole cents (R/S is scale-invariant, so granularity only perturbs
    the hourly-mean rounding; cents — unlike the micro-units ts_rolling
    uses — keep every chunk moment inside the 2^53 exact-double
    envelope) so chunk sums, means (power-of-two divisors), cumulative
    deviations, and variances are all exact; R/S is one IEEE sqrt + one
    division — bit-identical cross-engine, floored to micro-units BEFORE
    the order-sensitive summation. One exchange on the (series, n, chunk)
    ladder, window ops + two hash aggregates, no Python stage.
    """
    hourly = (
        _events(spark, sf_dir)
        .select(
            "event_type",
            F.date_trunc("hour", F.col("ts")).alias("bucket_ts"),
            _cents().alias("cents"),
        )
        .groupBy("event_type", "bucket_ts")
        .agg(
            # whole cents (NOT micro-units): R/S is scale-invariant, and
            # cents keep every chunk moment (s1^2 <= ~4e11, s2 <= ~6e9)
            # exactly representable — micro-units would overflow BIGINT
            # and leave the 2^53 exactness envelope
            F.floor(
                F.sum("cents").cast("double") / F.count(F.lit(1))
            )
            .cast("bigint")
            .alias("vm")
        )
    )
    return (
        rs_ladder(
            hourly, value_col="vm", group_col="event_type",
            sizes=(8, 16, 32, 64),
        )
        .select(
            F.col("event_type").alias("series_id"),
            F.col("n").cast("bigint").alias("n"),
            F.col("n_chunks").cast("bigint").alias("n_chunks"),
            F.col("sum_rs_micro").cast("bigint").alias("sum_rs_micro"),
        )
        .orderBy("series_id", "n")
    )


@query(bench=True)
def _q_pelt_changepoints(spark, sf_dir):
    """PELT exact multi-changepoint segmentation per hourly series
    (operators/changepoint.py — Killick et al. 2012), completing the
    single-shift CUSUM: minimizes segment-cost + beta * k EXACTLY.
    Rows-only (penalized segmentation is not SQL-expressible);
    invariants riding every row:

    ``dp_equal_ok``       per group, PELT's pruned answer equals the
                          UNPRUNED O(n^2) dynamic program run side by
                          side in the same kernel — the PELT theorem
                          as an executable check;
    ``planted_exact_ok``  a noiseless 4-level step series (levels
                          0/1000/-500/300 at 60/50/70/60 points)
                          unioned into the input must segment at
                          EXACTLY [60, 110, 180] — recovered
                          boundaries, not just counts (a window
                          aggregate over the output rows).

    beta = 1e4 sized to the hourly series' noise floor (var ~1e3 per
    point: beta 10 chased noise into ~600 segments per series; 1e4
    yields 2-11 real shifts). Groups are bounded (hourly retention
    tier); the only exchange is the groupBy itself."""
    i = F.col("id")
    lens = [60, 50, 70, 60]
    levels = [0.0, 1000.0, -500.0, 300.0]
    bounds = [60, 110, 180]
    level = (
        F.when(i < lens[0], levels[0])
        .when(i < lens[0] + lens[1], levels[1])
        .when(i < lens[0] + lens[1] + lens[2], levels[2])
        .otherwise(levels[3])
    )
    planted = spark.range(sum(lens)).select(
        F.lit("planted").alias("series_id"),
        F.timestamp_seconds(F.lit(1767225600) + i * 3600).alias(
            "bucket_ts"
        ),
        level.alias("v"),
    )
    base = _hourly_series(spark, sf_dir).unionByName(planted)
    segs = pelt_changepoints(base, ["series_id"], "bucket_ts", beta=1e4)
    planted_starts = F.sort_array(
        F.collect_list(
            F.when(F.col("series_id") == "planted", F.col("start_pos"))
        ).over(Window.partitionBy())
    )
    return segs.select(
        "series_id",
        "seg_idx",
        "start_pos",
        "end_pos",
        "n_points",
        F.round("seg_mean", 6).alias("seg_mean"),
        "dp_equal_ok",
        (planted_starts == F.array(*map(F.lit, [0] + bounds))).alias(
            "planted_exact_ok"
        ),
    ).orderBy("series_id", "seg_idx")


@query(bench=True)
def _q_matrix_profile(spark, sf_dir):
    """Matrix-profile motif + discord discovery (operators/motif.py —
    Yeh et al. ICDM'16) over the hourly series, PLUS a planted series
    that makes the result falsifiable three ways.

    The planted series (480 hourly points) is a daily sine pattern with
    a deterministic jitter, an IDENTICAL uncommon 24-point segment
    planted at positions 72 and 336 (so the true top motif pair is
    exactly (72, 336) at z-distance 0), and a unique linear ramp at
    240..263 (so the true top discord must overlap it). Invariants on
    every row: ``planted_motif_ok`` (reported motif pair == {72, 336},
    dist <= 1e-6), ``planted_discord_ok`` (reported discord start within
    the ramp's overlap range), and ``recompute_ok`` — the reported motif
    AND discord distances are RECOMPUTED through a pure relational path
    (explode the window offsets, equi-join back to the points, one
    aggregate computing the z-normalized correlation distance) and must
    match the GEMM kernel to 1e-6, with a count gate so the planted rows
    cannot vanish vacuously. The recompute groups by the planted rows'
    own columns, so the planted profile is read once, and each invariant
    is a window aggregate over the planted rows."""
    m = 24
    # --- planted series ------------------------------------------------
    i = F.col("id")
    day = 10.0 + 3.0 * F.sin(
        (i % 24).cast("double") * F.lit(2.0 * math.pi / 24)
    )
    # non-affine deterministic jitter: an affine-in-i jitter (e.g. a
    # modular ramp) makes lag-24 day windows exact affine translates of
    # each other, which z-normalization maps to distance EXACTLY 0 —
    # stealing the motif from the plant. An incommensurate sine breaks
    # every translate: phase drifts 24*0.7919 mod 2pi ~ 0.156 rad per day
    jitter = 0.1 * F.sin(i.cast("double") * 0.7919)
    seg = lambda k: 30.0 + ((k * k * 7) % 17).cast("double") * 1.5  # noqa: E731
    ramp = lambda k: k.cast("double") * (80.0 / 23.0)  # noqa: E731
    planted = spark.range(480).select(
        F.lit("planted").alias("series_id"),
        i.cast("int").alias("pos"),
        F.timestamp_seconds(F.lit(1767225600) + i * 3600).alias(
            "bucket_ts"
        ),
        F.when(i.between(72, 95), seg(i - 72))
        .when(i.between(336, 359), seg(i - 336))
        .when(i.between(240, 263), ramp(i - 240))
        .otherwise(day + jitter)
        .alias("v"),
    )
    top_p = motif.top_motif_discord(motif.matrix_profile(planted, m=m))
    # --- relational recompute of both reported distances ---------------
    pairs = top_p.select(
        "*", F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("off")
    )
    pts = planted.select("pos", "v")
    j = (
        pairs.join(pts, pairs.idx + F.col("off") == pts.pos)
        .withColumnRenamed("v", "va")
        .drop("pos")
        .join(
            pts.withColumnRenamed("v", "vb").withColumnRenamed(
                "pos", "pb"
            ),
            F.col("nn_idx") + F.col("off") == F.col("pb"),
        )
    )
    zdot = (
        F.sum(F.col("va") * F.col("vb"))
        - F.count(F.lit(1)) * F.avg("va") * F.avg("vb")
    ) / (F.stddev_pop("va") * F.stddev_pop("vb"))
    rel = j.groupBy(*top_p.columns).agg(
        F.sqrt(
            F.greatest(F.lit(0.0), 2.0 * (F.lit(float(m)) - zdot))
        ).alias("rel_dist")
    )
    # --- real series alongside the plant -------------------------------
    top_r = motif.top_motif_discord(
        motif.matrix_profile(_hourly_series(spark, sf_dir), m=m)
    ).withColumn("rel_dist", F.lit(None).cast("double"))
    every = Window.partitionBy()
    is_p = F.col("series_id") == "planted"
    kind = F.col("kind")
    idx, nn = F.col("idx"), F.col("nn_idx")
    return (
        top_r.unionByName(rel)
        .select(
            "series_id", "kind", "idx", "nn_idx", "mp_dist", "start_ts",
            F.max(
                F.when(
                    is_p & (kind == "motif"),
                    (
                        ((idx == 72) & (nn == 336))
                        | ((idx == 336) & (nn == 72))
                    )
                    & (F.col("mp_dist") <= 1e-6),
                )
            ).over(every).alias("planted_motif_ok"),
            F.max(
                F.when(
                    is_p & (kind == "discord"),
                    idx.between(240 - (m - 1), 263),
                )
            ).over(every).alias("planted_discord_ok"),
            (
                (F.count(F.when(is_p, 1)).over(every) == 2)
                & (
                    F.max(F.abs(F.col("rel_dist") - F.col("mp_dist")))
                    .over(every) <= 1e-6
                )
            ).alias("recompute_ok"),
        )
        .orderBy("series_id", "kind")
    )
