"""Irregular-sampling temporal aggregation — the three classic monitoring
primitives a transcript/metrics workload needs that neither a fixed
bucket rollup (`operators/rollup.py`) nor a dense-grid window
(`operators/tsfeatures.py`) expresses:

- ``time_weighted_avg``: mean of the LOCF step function implied by
  irregular samples, per time bucket (TimescaleDB ``time_weight``, PI
  "time-weighted average"). A plain ``avg(value)`` over-weights bursts of
  fast samples; the time-weighted form integrates value*dt.
- ``counter_rate``: per-bucket increase/rate of a monotone counter with
  reset detection (PromQL ``increase``/``rate``): a drop is a restart,
  contributing the post-reset value, not a huge negative diff.
- ``interval_union``: per-key union of overlapping/adjacent intervals
  (gaps-and-islands): merged spans, their count, and total covered time —
  the standard uptime/coverage primitive over maintenance or session
  windows.
- ``ohlc_bars``: per-bucket open/high/low/close candles with
  deterministic first/last tie-breaks (TimescaleDB ``candlestick_agg``,
  kdb ``xbar`` bars) — a single hash aggregate, no window sort.
- ``state_durations``: time spent in each state per key under the same
  LOCF convention as ``time_weighted_avg`` (TimescaleDB ``state_agg``):
  a row's state holds until the key's next sample.

All three are pure JVM window/aggregate pipelines: ONE exchange on the
group key (segments, resets, and islands are all lag/running-max
constructions over that sort), then a hash aggregate whose partial runs
map-side. The only fan-out is ``time_weighted_avg``'s segment-to-bucket
explode, bounded by ceil(segment/bucket)+1 rows per sample — the same
declared-fan-out bucketization as `operators/interval.py`, and at 100 TB
the same argument holds: parallelism comes from the number of keys, a
key's series sorts within one task, and AQE splits skewed keys.

The reference engine has no irregular-sampling story at all (its grids
are dense by construction — `wavelet_decomposition.py` indexes 365*64
arrays); these are engine-native generalizations, not ports.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from wavelet_decomposition_spark.operators._time import gran_us as _gran_us
from wavelet_decomposition_spark.operators._time import us as _us


def time_weighted_avg(samples: DataFrame) -> DataFrame:
    """Per-(group, hourly bucket) time-weighted mean of the LOCF step function:
    each sample's value holds until the next sample of the same group; a
    segment spanning several buckets contributes to each in proportion to
    overlap. The trailing sample (no successor) contributes nothing — its
    holding time is unknown, and inventing one would bias the last bucket.

    Output: ``series_id, bucket_ts, twa, covered_us`` where ``covered_us``
    is the observed (segment-covered) microseconds in the bucket — the
    caller can null out buckets with partial coverage if the workload
    requires it. Buckets no segment touches simply don't appear (compose
    with ``gapfill_*`` for a dense grid).

    Shape: one window (lead) on the group sort, a bounded explode of each
    segment into the buckets it overlaps, one hash aggregate keyed
    (group, bucket). No Python anywhere.
    """
    gus = _gran_us("1 hour")
    seg = (
        samples.select(
            "series_id",
            _us("ts").alias("_s"),
            F.col("v").alias("_v"),
        )
        .withColumn(
            "_e",
            F.lead("_s").over(Window.partitionBy("series_id").orderBy("_s")),
        )
        .where(F.col("_e").isNotNull() & (F.col("_e") > F.col("_s")))
    )
    exploded = seg.select(
        "series_id",
        "_s",
        "_e",
        "_v",
        F.explode(
            F.sequence(
                F.floor(F.col("_s") / gus), F.floor((F.col("_e") - 1) / gus)
            )
        ).alias("_bucket"),
    )
    blo = F.col("_bucket") * gus
    bhi = blo + gus
    overlap = F.least(F.col("_e"), bhi) - F.greatest(F.col("_s"), blo)
    return (
        exploded.withColumn("_w", overlap)
        .groupBy(
            "series_id",
            F.timestamp_micros(F.col("_bucket") * gus).alias("bucket_ts"),
        )
        .agg(
            (F.sum(F.col("_v") * F.col("_w")) / F.sum("_w")).alias("twa"),
            F.sum("_w").alias("covered_us"),
        )
    )


def counter_rate(samples: DataFrame) -> DataFrame:
    """Per-(group, hourly bucket) increase and per-second rate of a cumulative
    counter with restart detection (PromQL ``increase`` over aligned
    buckets): each adjacent-sample delta contributes ``v_t - v_{t-1}``
    when nonnegative, else ``v_t`` (the counter restarted at 0 and climbed
    to ``v_t``). The delta is attributed to the bucket of the LATER
    sample; the first sample of a group seeds the lag and contributes no
    delta. ``rate_per_s`` divides by the bucket length — the fixed-window
    convention (monitoring systems divide by observed span; over a dense
    scrape the two agree).

    Shape: one window (lag) on the group sort, one hash aggregate.
    """
    gus = _gran_us("1 hour")
    w = Window.partitionBy("series_id").orderBy("_ts_us")
    d = (
        samples.select(
            "series_id",
            _us("ts").alias("_ts_us"),
            F.col("v").alias("_v"),
        )
        .withColumn("_prev", F.lag("_v").over(w))
        .where(F.col("_prev").isNotNull())
        .withColumn(
            "_inc",
            F.when(F.col("_v") >= F.col("_prev"), F.col("_v") - F.col("_prev"))
            .otherwise(F.col("_v")),
        )
    )
    return (
        d.groupBy(
            "series_id",
            F.timestamp_micros(
                F.floor(F.col("_ts_us") / gus).cast("long") * gus
            ).alias("bucket_ts"),
        )
        .agg(
            F.sum("_inc").alias("increase"),
            F.count("_inc").alias("n_deltas"),
            F.sum(F.when(F.col("_v") < F.col("_prev"), 1).otherwise(0)).alias(
                "n_resets"
            ),
        )
        .withColumn("rate_per_s", F.col("increase") / (gus / F.lit(1_000_000.0)))
    )


def ohlc_bars(
    samples: DataFrame,
    volume_col: str | None = None,
) -> DataFrame:
    """Per-(group, hourly bucket) OHLC candle: ``open`` = value at the bucket's
    earliest sample, ``high``/``low`` = extremes, ``close`` = value at the
    latest sample, plus ``n_samples`` (and ``volume`` = sum of
    ``volume_col`` when given). First/last are DETERMINISTIC under ties:
    ``min_by(v, struct(ts, v))`` breaks an equal-timestamp tie toward the
    smaller value and ``max_by(v, struct(ts, v))`` toward the larger — the
    same struct-ordered tie-break discipline as ``m4_downsample``, so the
    result is independent of partitioning and input order.

    Shape: ONE hash aggregate keyed (group, bucket) — no window, no sort.
    ``min_by``/``max_by`` are declarative aggregates with map-side
    partials, so at 100 TB each task reduces its split to one candle per
    live (group, bucket) before the single exchange.
    """
    gus = _gran_us("1 hour")
    pre = samples.select(
        "series_id",
        _us("ts").alias("_t"),
        F.col("v").alias("_v"),
        *([F.col(volume_col).alias("_vol")] if volume_col else []),
    )
    aggs = [
        F.min_by("_v", F.struct(F.col("_t"), F.col("_v"))).alias("open"),
        F.max("_v").alias("high"),
        F.min("_v").alias("low"),
        F.max_by("_v", F.struct(F.col("_t"), F.col("_v"))).alias("close"),
        F.count(F.lit(1)).alias("n_samples"),
    ]
    if volume_col:
        aggs.append(F.sum("_vol").alias("volume"))
    return pre.groupBy(
        "series_id",
        F.timestamp_micros(
            F.floor(F.col("_t") / gus).cast("long") * gus
        ).alias("bucket_ts"),
    ).agg(*aggs)


def state_durations(samples: DataFrame) -> DataFrame:
    """Time spent in each state per key under the LOCF convention: a row's
    state holds until the key's NEXT sample; the trailing sample
    contributes nothing (its holding time is unknown — the same convention
    as ``time_weighted_avg``). Output per (key, state): ``total_us``
    (exact integer microseconds), ``n_segments``, and ``frac`` — the share
    of the key's observed span, a single two-integer division (the
    denominator telescopes to last_ts - first_ts).

    Equal-timestamp ties order by (ts, state), so a doubled instant yields
    one zero-length segment deterministically in any engine.

    Shape: ONE exchange on the key — the lead window, the key-total
    window, and the (key, state) hash aggregate all run on the same
    hash(key) partitioning (``HashPartitioning([key])`` satisfies the
    aggregate's ``ClusteredDistribution([key, state])``, so Catalyst
    inserts no second exchange).
    """
    w = Window.partitionBy("series_id").orderBy("_t", "_st")
    seg = (
        samples.select(
            "series_id",
            _us("ts").alias("_t"),
            F.col("state").alias("_st"),
        )
        .withColumn("_e", F.lead("_t").over(w))
        .where(F.col("_e").isNotNull())
        .withColumn("_dur", F.col("_e") - F.col("_t"))
        .withColumn(
            "_key_total",
            F.sum("_dur").over(Window.partitionBy("series_id")),
        )
    )
    return (
        seg.groupBy("series_id", F.col("_st").alias("state"))
        .agg(
            F.sum("_dur").alias("total_us"),
            F.count(F.lit(1)).alias("n_segments"),
            F.max("_key_total").alias("_kt"),
        )
        .withColumn(
            "frac", F.col("total_us").cast("double") / F.col("_kt")
        )
        .drop("_kt")
    )


def interval_union(
    intervals: DataFrame,
    merge_adjacent: bool = True,
) -> DataFrame:
    """Merge each key's overlapping (and, by default, exactly-abutting)
    intervals into maximal disjoint spans — gaps-and-islands. A new island
    starts where an interval's start exceeds the running max of all
    previous ends (strictly exceeds when ``merge_adjacent``; >= merges
    only true overlaps otherwise, keeping [1,2][2,3] separate).

    Output: one row per island — ``series_id, island_start, island_end,
    n_intervals`` — from which coverage aggregates (sum of lengths, count)
    are one further groupBy for the caller.

    Shape: one exchange on the key, two stacked windows over the same sort
    (running max-of-end, then running sum of new-island flags — Catalyst
    fuses them into one Window node pair without re-sorting), one hash
    aggregate on (key, island).
    """
    w = Window.partitionBy("series_id").orderBy("_s", "_e")
    prev_max_end = F.max("_e").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    gap = (
        F.col("_s") > prev_max_end
        if merge_adjacent
        else F.col("_s") >= prev_max_end
    )
    flagged = (
        intervals.select(
            "series_id",
            _us("start_ts").alias("_s"),
            _us("end_ts").alias("_e"),
        )
        .withColumn(
            "_new_island",
            F.when(prev_max_end.isNull() | gap, F.lit(1)).otherwise(F.lit(0)),
        )
        .withColumn(
            "_island",
            F.sum("_new_island").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
    )
    return (
        flagged.groupBy("series_id", "_island")
        .agg(
            F.timestamp_micros(F.min("_s")).alias("island_start"),
            F.timestamp_micros(F.max("_e")).alias("island_end"),
            F.count(F.lit(1)).alias("n_intervals"),
        )
        .drop("_island")
    )
