"""Cohort retention and ordered-funnel conversion — the two classic
event-analytics aggregations a transcript/event workload runs daily.
Neither exists in the reference engine (its grids are dense annual
series); both are engine-native generalizations in the same spirit as
`operators/sessions.py`.

Scale shapes:

- ``cohort_retention``: two hash aggregates — (user) for cohort
  assignment, then (cohort, period) for distinct-active — with the user
  aggregate's exchange reused by the join back. The join is on user_id
  (the high-cardinality key, well-distributed by construction); the final
  cohort matrix is tiny. No windows, no Python.
- ``funnel``: one aggregate per funnel step, every one partitioned on
  user_id so AQE plans co-located joins; each step's input is filtered to
  that step's event type BEFORE the join (predicate reaches the scan).
  Step count is small and fixed; the alternative single-pass
  sort+HOF-fold walk was rejected — Catalyst interprets lambda folds per
  element, and K chained hash joins beat an interpreted per-event walk at
  any K a real funnel has.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from wavelet_decomposition_spark.operators._time import gran_us as _gran_us
from wavelet_decomposition_spark.operators._time import us as _us


def cohort_retention(events: DataFrame) -> DataFrame:
    """Classic weekly retention triangle: users are cohorted by the week
    of their FIRST ``signup`` event; a cohort member is "active in period
    k" when they have any event in ``[cohort_start + k weeks,
    cohort_start + (k+1) weeks)`` — periods are relative to each cohort's
    own start, the standard product convention. Period 0 is the cohort
    period itself (retention 1.0 by construction: every member signed up
    in it).

    Output: ``cohort_ts, period_k, n_active, n_cohort, retention`` —
    one row per (cohort, observed period)."""
    gus = _gran_us("1 week")
    src = events.where(F.col("event_type") == "signup")
    # cohort start via integer modulo subtraction — exact for any epoch,
    # no float floor near period boundaries
    cohorts = src.groupBy("user_id").agg(
        F.min(_us("ts")).alias("_c0")
    ).withColumn("_cstart", F.col("_c0") - F.col("_c0") % gus)
    sizes = cohorts.groupBy("_cstart").agg(
        F.count(F.lit(1)).alias("n_cohort")
    )
    active = (
        events.select("user_id", _us("ts").alias("_t"))
        .join(cohorts, "user_id")
        .where(F.col("_t") >= F.col("_cstart"))
        .withColumn(
            # ((d - d%gus) / gus) is an exact-multiple division: IEEE
            # division is correctly rounded, so the integer quotient is
            # produced exactly — no boundary drift
            "period_k",
            (((F.col("_t") - F.col("_cstart"))
              - (F.col("_t") - F.col("_cstart")) % gus) / gus).cast("int"),
        )
        .groupBy("_cstart", "period_k")
        .agg(F.countDistinct("user_id").alias("n_active"))
    )
    return (
        active.join(F.broadcast(sizes), "_cstart")
        .select(
            F.timestamp_micros("_cstart").alias("cohort_ts"),
            "period_k",
            "n_active",
            "n_cohort",
            (F.col("n_active") / F.col("n_cohort")).alias("retention"),
        )
    )


def funnel(events: DataFrame, steps: list[str]) -> DataFrame:
    """Ordered funnel with a 7-day conversion window: a user completes
    step k when they have a ``steps[k]`` event AT OR AFTER their step-(k-1)
    completion time and within 7 days of their STEP-1 time (the
    whole-funnel window convention; each user's earliest valid
    completion is taken at every step, which is the standard greedy
    semantics — earliest-first maximizes downstream conversions under a
    whole-funnel deadline).

    Output: one row per step — ``step_idx, step, n_users,
    conversion_from_first, conversion_from_prev`` — with n_users
    monotonically non-increasing."""
    if len(steps) < 2:
        raise ValueError("funnel needs at least two steps")
    from pyspark.sql import Window

    spark = events.sparkSession
    wus = _gran_us("7 days")
    base = events.select(
        "user_id", F.col("event_type").alias("_ty"), _us("ts").alias("_t")
    )
    cur = (
        base.where(F.col("_ty") == steps[0])
        .groupBy("user_id")
        .agg(F.min("_t").alias("_t1"))
        .withColumn("_tk", F.col("_t1"))
    )
    reached = [cur.select("user_id", F.lit(1).alias("_stage"))]
    for i, step in enumerate(steps[1:], start=2):
        cur = (
            base.where(F.col("_ty") == step)
            .join(cur.select("user_id", "_t1", "_tk"), "user_id")
            .where(
                (F.col("_t") >= F.col("_tk"))
                & (F.col("_t") <= F.col("_t1") + wus)
            )
            .groupBy("user_id")
            .agg(F.min("_t").alias("_tk"), F.first("_t1").alias("_t1"))
        )
        reached.append(cur.select("user_id", F.lit(i).alias("_stage")))
    furthest = reached[0]
    for r in reached[1:]:
        furthest = furthest.unionByName(r)
    # one job end to end: per-user max stage, tiny per-stage histogram,
    # then cumulative counts over the K-row result (n_users at step k =
    # users whose furthest stage >= k)
    hist = (
        furthest.groupBy("user_id")
        .agg(F.max("_stage").alias("_stage"))
        .groupBy("_stage")
        .agg(F.count(F.lit(1)).alias("_n_at"))
    )
    labels = spark.createDataFrame(
        [(i + 1, s) for i, s in enumerate(steps)],
        "step_idx int, step string",
    )
    wdesc = Window.orderBy(F.col("step_idx").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    wasc = Window.orderBy("step_idx")
    out = (
        labels.join(hist, labels.step_idx == hist._stage, "left")
        .withColumn(
            "n_users", F.sum(F.coalesce("_n_at", F.lit(0))).over(wdesc)
        )
        .withColumn(
            "conversion_from_first",
            F.col("n_users") / F.first("n_users").over(wasc),
        )
        .withColumn(
            "conversion_from_prev",
            F.coalesce(
                F.col("n_users") / F.lag("n_users").over(wasc), F.lit(1.0)
            ),
        )
        .select(
            "step_idx", "step", "n_users",
            "conversion_from_first", "conversion_from_prev",
        )
    )
    return out
