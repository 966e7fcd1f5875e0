"""Point-in-interval join (events x validity windows / maintenance
windows / experiment enrollments) — the other classic temporal join next
to as-of (`operators/asof.py`).

Spark has no interval-join operator: ``l JOIN r ON l.key = r.key AND
l.ts BETWEEN r.start AND r.end`` plans as a per-key cross product (or a
BroadcastNestedLoopJoin without the equi-key) and dies at scale. The
standard fix — what Databricks' range-join hints and KDB's window joins
do under the hood — is BUCKETIZATION:

1. pick a bucket width ``granularity`` (ideally ~median interval length);
2. explode each interval into the buckets it covers (an interval of
   length L produces ceil(L/granularity)+1 rows — bounded fan-out,
   declared up front, and the reason granularity is a caller decision);
3. bucket each point (one row, no fan-out);
4. hash equi-join on (key, bucket) — co-partitioned, AQE-skew-splittable
   — then re-check the exact containment predicate.

Cost: ONE shuffle of |points| + |intervals| * avg_buckets rows on a
well-distributed key, versus the unbounded per-key cross product of the
naive form. Every candidate pair shares a bucket, so the exact predicate
only runs on near-misses (a point meets only the intervals overlapping
its bucket).

Interval containment is inclusive on both ends; a point matching k
overlapping intervals emits k rows (that is the join's semantics — use
``asof_join`` when "the one latest" is wanted instead).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def interval_join(
    points: DataFrame,
    intervals: DataFrame,
    on: str,
    granularity: str = "1 hour",
    how: str = "inner",
) -> DataFrame:
    """Join each point row to every interval row (same ``on`` key) whose
    ``[start_ts, end_ts]`` contains its ``ts``.

    ``how``: 'inner' or 'left' (left keeps unmatched points with null
    interval columns — implemented as a second anti-join pass over the
    same bucketed candidates, not a second scan of the intervals).
    """
    if how not in ("inner", "left"):
        raise ValueError(f"how must be 'inner' or 'left', got {how!r}")
    overlap = (set(points.columns) & set(intervals.columns)) - {on}
    if overlap:
        raise ValueError(
            f"point/interval column name collision: {sorted(overlap)}"
        )
    from wavelet_decomposition_spark.operators._time import gran_us as _g
    from wavelet_decomposition_spark.operators._time import us as _us

    gran_us = _g(granularity)
    p_bucket = F.floor(_us("ts") / gran_us)
    s_us = _us("start_ts")
    e_us = _us("end_ts")
    iv = intervals.select(
        F.col(on),
        "start_ts",
        "end_ts",
        *[c for c in intervals.columns if c not in (on, "start_ts", "end_ts")],
        F.explode(
            F.sequence(F.floor(s_us / gran_us), F.floor(e_us / gran_us))
        ).alias("_bucket"),
    )
    pt = points.withColumn("_bucket", p_bucket)
    contains = (F.col("ts") >= F.col("start_ts")) & (
        F.col("ts") <= F.col("end_ts")
    )
    matched = (
        pt.join(iv, [on, "_bucket"])
        .where(contains)
        .drop("_bucket")
    )
    if how == "inner":
        return matched
    iv_cols = [c for c in intervals.columns if c != on]
    # value-semantics anti join: identical point rows match identically,
    # so no row-identity tag is needed and duplicates are preserved.
    # NULL-SAFE equality (<=>) throughout: a plain column-equality anti
    # join never matches NULLs, so a matched point row carrying a NULL in
    # any column (key, ts, or payload) would survive the anti join and be
    # emitted a second time with null interval columns. <=> keys still
    # plan as a hash/sort-merge equi-join, not a nested loop.
    p = points.alias("_ij_p")
    m = matched.select(*points.columns).distinct().alias("_ij_m")
    cond = None
    for c in points.columns:
        e = p[c].eqNullSafe(m[c])
        cond = e if cond is None else cond & e
    unmatched = p.join(m, cond, "left_anti").select(*points.columns)
    for c, typ in zip(intervals.columns, intervals.schema.fields):
        if c != on:
            unmatched = unmatched.withColumn(
                c, F.lit(None).cast(typ.dataType)
            )
    return matched.select(*points.columns, *iv_cols).unionByName(
        unmatched.select(*points.columns, *iv_cols)
    )
