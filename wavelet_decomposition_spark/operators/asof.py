"""As-of (most-recent-match) join for time-series alignment.

The reference engine aligns series by construction (fixed annual grids,
``wavelet_decomposition.py`` resamples everything to one index), so it never
needs a general as-of join — but any transcript/event workload does: "for
each probe row, attach the latest reference row at or before its timestamp,
per key" (price-at-trade, last-config-at-event, feature snapshot at label
time for training data).

Spark has no ASOF JOIN operator (DuckDB/Pandas do), and the naive
formulations are catastrophic at scale:

- ``left JOIN right ON key AND r.ts <= l.ts`` + ``max_by`` explodes to the
  full per-key cross product before aggregating (O(n*m) shuffle rows);
- a Pandas ``merge_asof`` inside ``applyInPandas`` works but moves both
  tables through Arrow and Python for what is pure ordering logic.

This implementation is the **union-window** form, entirely JVM-side:

1. tag right rows 0 and left rows 1, union them with a padded schema;
2. one window per key ordered by ``(ts, tag)`` — right rows sort before
   probe rows at equal timestamps, giving inclusive ``r.ts <= l.ts``;
3. ``last(<right cols>, ignorenulls=True)`` over
   ``rowsBetween(unboundedPreceding, currentRow)`` carries the most recent
   reference row forward onto every probe row;
4. keep tag-1 rows; optionally null out matches staler than ``tolerance``.

Cost: ONE shuffle of ``|left| + |right|`` rows on the key (no join
explosion), one sort, whole-stage-codegen window — the same shape as the
engine's sessionize/gap-fill operators, so the 147.8M-row N->4N scaling
evidence for the relational path (BENCH.md, 0.955) transfers. At 100 TB the
single exchange is the floor for any per-key ordered semantics; a key so hot
its timeline exceeds one executor's sort budget can be pre-split into time
ranges whose boundary rows carry over (not needed at any tested scale, and
spill-safe regardless: window sort spills to disk).

Right-side timestamp ties are resolved BEFORE the union (deterministic
``max_by`` on a caller-named tie-break column) so results never depend on
shuffle order — DuckDB's ASOF JOIN leaves equal-``ts`` right rows
implementation-defined, which would make an oracle comparison flaky.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_TS_US = "_asof_ts_us"
_TAG = "_asof_tag"
_RTS = "_asof_right_ts_us"


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str],
    right_cols: list[str] | None = None,
    tie_break: str | None = None,
    tolerance: str | None = None,
    suffix: str = "_asof",
) -> DataFrame:
    """For each left row, attach the latest right row with
    ``right.ts <= left.ts`` on the same key(s) (left outer: unmatched probe
    rows keep their payload with null right columns).

    ``right_cols``: right payload columns to carry (default: all except the
    key and timestamp). Each lands on the output as ``<name><suffix>``,
    alongside ``ts<suffix>`` (the matched row's timestamp, null if
    no match).

    ``tie_break``: column ordering equal-timestamp right rows; the row with
    the greatest value wins (required when (key, ts) is not unique on the
    right — otherwise results would be shuffle-order-dependent).

    ``tolerance``: pandas offset string (e.g. ``"2 hours"``); matches older
    than this are nulled out, exactly pandas ``merge_asof(tolerance=...)``.
    """
    keys = [on] if isinstance(on, str) else list(on)
    if right_cols is None:
        right_cols = [
            c for c in right.columns if c not in keys and c != "ts"
        ]

    extra = (
        [tie_break]
        if tie_break is not None and tie_break not in right_cols
        else []
    )
    # a null-timestamp reference row can never be "at or before" any probe:
    # drop it BEFORE the union. Without this, ASC NULLS FIRST would sort it
    # ahead of every row and last(ignorenulls=True) would carry its payload
    # onto every probe as a phantom match whose matched-ts stays null.
    # (Null-ts LEFT rows need no filter: they sort first, see no preceding
    # right row, and come out unmatched — plain left-outer semantics.)
    right = right.where(F.col("ts").isNotNull())
    r = right.select(
        *keys,
        F.unix_micros(F.col("ts").cast("timestamp")).alias(_TS_US),
        *[F.col(c) for c in right_cols + extra],
    )
    if tie_break is not None:
        r = r.groupBy(*keys, _TS_US).agg(
            *[
                F.max_by(c, tie_break).alias(c)
                for c in right_cols
            ]
        )
    out_right = [f"{c}{suffix}" for c in right_cols]
    r = r.select(
        *keys,
        F.col(_TS_US),
        F.lit(0).alias(_TAG),
        F.col(_TS_US).alias(_RTS),
        *[F.col(c).alias(o) for c, o in zip(right_cols, out_right)],
        *[F.lit(None).cast(left.schema[c].dataType).alias(c)
          for c in left.columns if c not in keys and c != "ts"],
    )
    l = left.select(
        *keys,
        F.unix_micros(F.col("ts").cast("timestamp")).alias(_TS_US),
        F.lit(1).alias(_TAG),
        F.lit(None).cast("bigint").alias(_RTS),
        *[F.lit(None).cast(r.schema[o].dataType).alias(o)
          for o in out_right],
        *[F.col(c) for c in left.columns if c not in keys and c != "ts"],
    )
    # unionByName keeps the two selects order-independent
    u = r.unionByName(l.select(*r.columns))

    w = (
        Window.partitionBy(*keys)
        .orderBy(_TS_US, _TAG)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = [F.last(F.col(o), ignorenulls=True).over(w).alias(o)
               for o in out_right]
    matched_ts = F.last(F.col(_RTS), ignorenulls=True).over(w)

    keep = [c for c in left.columns if c not in keys and c != "ts"]
    out = (
        u.select(
            *keys,
            F.col(_TS_US),
            F.col(_TAG),
            matched_ts.alias(_RTS),
            *carried,
            *keep,
        )
        .where(F.col(_TAG) == 1)
    )
    if tolerance is not None:
        tol_us = int(pd.Timedelta(tolerance).total_seconds() * 1_000_000)
        fresh = F.col(_TS_US) - F.col(_RTS) <= F.lit(tol_us)
        out = out.select(
            *keys,
            F.col(_TS_US),
            F.when(fresh, F.col(_RTS)).alias(_RTS),
            *[F.when(fresh, F.col(o)).alias(o) for o in out_right],
            *keep,
        )
    ts_out = F.timestamp_micros(F.col(_TS_US)).alias("ts")
    if dict(left.dtypes)["ts"] == "timestamp_ntz":
        ts_out = (
            F.timestamp_micros(F.col(_TS_US))
            .cast("timestamp_ntz").alias("ts")
        )
    return out.select(
        *keys,
        ts_out,
        F.when(
            F.col(_RTS).isNotNull(), F.timestamp_micros(F.col(_RTS))
        ).cast(dict(left.dtypes)["ts"]).alias(f"ts{suffix}"),
        *out_right,
        *keep,
    )
