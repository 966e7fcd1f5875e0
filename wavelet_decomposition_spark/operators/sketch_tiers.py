"""Mergeable sketch tiers: percentile + distinct-count rollups that compose
upward WITHOUT re-reading raw data.

The plain rollup cascade (rollup.py) composes counts and sums exactly, but
percentiles and distinct counts do not compose — the mean/max of hourly p95s
is not the daily p95, and summing hourly distinct counts double-counts users
active in several hours. At 100 TB the only viable design is the one
TimescaleDB continuous aggregates / Druid / Pinot use: store a MERGEABLE
SKETCH per (key, bucket) in the finer tier and merge sketches upward —
Datasketches KLL for quantiles (Karnin–Lang–Liberty, FOCS'16) and HLL for
cardinality, both exposed by Spark 4 as pure-JVM aggregate functions
(``kll_sketch_agg_double`` / ``kll_merge_agg_double`` /
``hll_sketch_agg`` / ``hll_union_agg``) — no Python stage anywhere, and the
daily refresh reads only the hourly sketch rows (24 per key-day), never raw.

What the tests / driver invariants pin, and why each is sound:

- **Exactly-once conservation.** A KLL sketch tracks the exact stream length
  ``n`` through any merge tree (``kll_sketch_get_n_double``); asserting
  merged ``get_n`` == exact raw row count proves every raw row passed through
  the two-level cascade exactly once — dropped or double-merged buckets
  cannot balance this book.
- **Rank guarantee survives merging.** KLL's merge preserves the epsilon
  normalized-rank error bound of its inputs (the KLL paper's merge theorem),
  so a quantile read from the merged daily sketch must land inside the exact
  order-statistics band around its target rank. The band is computed
  IN-QUERY from raw with exact ``percentile`` at rank ± eps — the exact path
  exists only to verify, the production read touches sketches alone.
  KLL compaction is randomized (the estimate legitimately varies run to
  run), so invariants are bands, never equality across independent builds.
- **HLL union is register-wise max** — associative, commutative,
  shape-insensitive — and the merged estimate obeys the same relative
  standard error as a direct sketch; checked against exact distinct within
  5*rsd (rsd = 1.04 / sqrt(2^lg_k)), absolute floor 2 for tiny groups.

No reference counterpart (the reference is batch numpy,
wavelet_decomposition.py); this is §2.8 engine surface for the north rule's
raw->1m->1h->1d retention tiers.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .rollup import TIERS

#: default sketch parameters — k=200 is the Datasketches KLL default
#: (~1.65% normalized rank error at one sigma); lg_k=12 gives HLL
#: rsd = 1.04/sqrt(4096) ~ 1.6% at 4 KB max sketch size.
KLL_K = 200
HLL_LG_K = 12


def hll_rsd(lg_k: int = HLL_LG_K) -> float:
    """Relative standard error of a Datasketches HLL at ``lg_k``."""
    return 1.04 / float(2 ** lg_k) ** 0.5


def sketch_tier(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    distinct_col: str,
    tier: str,
) -> DataFrame:
    """Build the finest sketch tier straight from raw rows bucketed on
    ``ts`` (KLL at ``KLL_K``, HLL at ``HLL_LG_K``).

    One hash aggregate (map-side partial sketches — each task folds its rows
    into local sketches, only sketch bytes ride the exchange, bounded by
    groups x sketch size regardless of input row count). Output per
    (keys..., bucket_ts): ``value_kll`` binary, ``distinct_hll`` binary, and
    the exact ``n_rows`` count (counts compose exactly; stored for the
    conservation cross-check against ``kll_sketch_get_n``).
    """
    unit = TIERS[tier][0]
    return df.groupBy(
        *keys, F.date_trunc(unit, F.col("ts")).alias("bucket_ts")
    ).agg(
        F.kll_sketch_agg_double(F.col(value_col).cast("double"), KLL_K).alias(
            "value_kll"
        ),
        F.hll_sketch_agg(distinct_col, HLL_LG_K).alias("distinct_hll"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def merge_sketch_tier(finer: DataFrame, keys: list[str]) -> DataFrame:
    """Roll a sketch tier up to the 1d tier by MERGING sketches — never
    re-reads raw. Input must carry ``bucket_ts`` / ``value_kll`` / ``distinct_hll`` /
    ``n_rows`` as produced by :func:`sketch_tier` (or a previous merge —
    merges compose)."""
    return finer.groupBy(
        *keys, F.date_trunc("day", F.col("bucket_ts")).alias("bucket_ts")
    ).agg(
        F.kll_merge_agg_double("value_kll").alias("value_kll"),
        F.hll_union_agg("distinct_hll").alias("distinct_hll"),
        F.sum("n_rows").alias("n_rows"),
    )


def read_sketch_tier(tier_df: DataFrame, probs: list[float]) -> DataFrame:
    """The production read path: extract quantile estimates, the sketch's own
    exact stream length, and the distinct estimate from a sketch tier row.
    Pure column expressions over the binary sketches — no aggregation, no
    shuffle."""
    qcols = [
        F.kll_sketch_get_quantile_double(
            "value_kll", F.lit(float(p))
        ).alias(f"p{int(round(p * 100)):02d}_est")
        for p in probs
    ]
    return tier_df.select(
        *[c for c in tier_df.columns if not c.endswith(("_kll", "_hll"))],
        *qcols,
        F.kll_sketch_get_n_double("value_kll").alias("kll_n"),
        F.hll_sketch_estimate("distinct_hll").alias("distinct_est"),
    )


def sliding_distinct_sketch(
    df: DataFrame,
    keys: list[str],
    distinct_col: str,
    window_hours: int = 24,
) -> DataFrame:
    """Trailing-window distinct-count estimate of events bucketed on
    ``ts``, with ZERO event fan-out.

    The exact form of 'distinct users in the trailing 24 h, per hour'
    replicates every event windowDuration/slide = 24 times before a
    countDistinct shuffle — at 100 TB that 24x fan-out of raw rows, then a
    distinct over them, is the query's whole cost. This path instead builds
    the hourly HLL tier once (one hash aggregate, sketch bytes only) and
    takes a RANGE-frame ``hll_union_agg`` over the trailing 24 tier rows —
    HLL union is register-wise max, so a window union of hourly sketches IS
    the sketch of the union of hours. Gap hours need no fill: the range
    frame is defined on the hour index values, so absent hours are simply
    absent from the union, exactly matching the exact trailing window.

    Output per (keys..., bucket_ts): ``distinct_est`` for the 24 h window
    ENDING at the end of bucket_ts's hour (i.e. covering
    (bucket_ts + 1h - window, bucket_ts + 1h]).
    """
    hourly = df.groupBy(
        *keys, F.date_trunc("hour", F.col("ts")).alias("bucket_ts")
    ).agg(F.hll_sketch_agg(distinct_col, HLL_LG_K).alias("_sk"))
    from pyspark.sql import Window

    hr = (F.unix_timestamp("bucket_ts") / 3600).cast("long")
    w = (
        Window.partitionBy(*keys)
        .orderBy(hr)
        .rangeBetween(-(window_hours - 1), 0)
    )
    return hourly.select(
        *keys,
        "bucket_ts",
        F.hll_sketch_estimate(F.hll_union_agg("_sk").over(w)).alias(
            "distinct_est"
        ),
    )


def rank_band_columns(probs: list[float], eps: float) -> list[Column]:
    """Exact order-statistics verification bands of the ``value`` column:
    for each target rank p, the exact values at ranks p-eps and p+eps
    (clamped to [0, 1]). Quantile values are monotone in rank, so
    ``lo <= estimate <= hi`` is the sound check for 'estimate's rank error
    <= eps'. Exact ``percentile`` — this is the VERIFICATION path only;
    never run it on the production cascade."""
    # ONE percentile buffer for all bands: percentile(value, array(...))
    # computes every requested rank from a single per-group value buffer,
    # and the identical aggregate child under each element_at dedupes in
    # planning — 2*len(probs) independent buffers of the whole group
    # otherwise (measured 0.85 s -> 0.5 s on the daily verification agg;
    # values bit-identical, same function)
    pcts: list[float] = []
    for p in probs:
        pcts.append(max(0.0, p - eps))
        pcts.append(min(1.0, p + eps))
    arr = F.percentile("value", F.array(*[F.lit(x) for x in pcts]))
    cols: list[Column] = []
    for i, p in enumerate(probs):
        tag = f"p{int(round(p * 100)):02d}"
        cols.append(F.element_at(arr, 2 * i + 1).alias(f"{tag}_lo"))
        cols.append(F.element_at(arr, 2 * i + 2).alias(f"{tag}_hi"))
    return cols
