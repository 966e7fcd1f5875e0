"""P4 — per-group linear resample onto a denser regular grid.

The reference interpolates each year from 48 to 64 samples/day with
``np.interp`` on grids ``arange(0,dpy,1/dpd) -> arange(0,dpy,1/ndpd)``
(/root/reference/import_excel.py:47-54). Bit-for-bit parity with that
requires the same np.interp evaluation, so the kernel is a grouped
vectorized Arrow UDF (`applyInPandas`) — one group = one (series_id, year),
a bounded 17,520-row batch. The surrounding plan stays relational: the
shuffle is on the same (series_id, year) key the solve stage needs, so
Catalyst reuses a single exchange for normalize -> resample -> solve.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.session import worker_kernel

RESAMPLE_SCHEMA = "series_id string, year int, idx int, value double"


def resample_per_year(
    df: DataFrame, dpd: int, ndpd: int, dpy: int = 365
) -> DataFrame:
    """(series_id, year, idx, value)@dpd -> same schema @ndpd per day."""
    oldx = np.arange(0, dpy, 1.0 / dpd)
    newx = np.arange(0, dpy, 1.0 / ndpd)

    def _interp(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("idx")
        y = pdf["value"].to_numpy(dtype=np.float64)
        newy = np.interp(newx, oldx[: y.size], y)
        return pd.DataFrame(
            {
                "series_id": pdf["series_id"].iloc[0],
                "year": pdf["year"].iloc[0],
                "idx": np.arange(newx.size, dtype=np.int32),
                "value": newy,
            }
        )

    return df.groupBy("series_id", "year").applyInPandas(
        worker_kernel(_interp), schema=RESAMPLE_SCHEMA
    )


def resample_linear_relational(
    df: DataFrame,
    group_col: str,
    dpd: int,
    ndpd: int,
) -> DataFrame:
    """P4 in its pure-relational form: linear interpolation of ``v`` over
    ``idx`` onto a denser
    positional grid via ``sequence``/``explode`` + two equi-joins — no
    Python, SQL-expressible (DuckDB-oracle-checked in __spark_entry__.py).

    Semantics match ``np.interp`` on the reference's grids
    ``arange(0,n/dpd,1/dpd) -> arange(0,n/dpd,1/ndpd)`` including the
    right-edge clamp (pinned by tests). Input must be a gap-free positional
    series (``idx`` = 0..n-1 per group). Prefer :func:`resample_per_year`
    when bit-for-bit reference parity matters; prefer this form when the
    plan must stay whole-stage-codegen JVM (both joins shuffle on
    (group, idx), the grid explode is ndpd/dpd x the source rows)."""
    n = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("_n"))
    # target grid length matches np.interp's arange(0, n/dpd, 1/ndpd):
    # ceil(n*ndpd/dpd) points (a truncating cast would drop the last point
    # whenever dpd does not divide n*ndpd; non-divisible parity is pinned
    # in tests/test_activity_rollup.py)
    grid = n.select(
        group_col,
        "_n",
        F.explode(
            F.sequence(
                F.lit(0),
                F.ceil(F.col("_n") * ndpd / F.lit(float(dpd))).cast("long") - 1,
            )
        ).alias("j"),
    )
    x = F.col("j") * dpd / F.lit(float(ndpd))
    lo = F.least(F.floor(x), F.col("_n") - 1).cast("long")
    hi = F.least(lo + 1, F.col("_n") - 1)
    pts = grid.select(
        group_col,
        "j",
        lo.alias("_lo"),
        hi.alias("_hi"),
        (x - F.floor(x)).alias("_frac"),
    )
    src_lo = df.select(
        F.col(group_col).alias("_gl"),
        F.col("idx").alias("_il"),
        F.col("v").alias("_v_lo"),
    )
    src_hi = df.select(
        F.col(group_col).alias("_gh"),
        F.col("idx").alias("_ih"),
        F.col("v").alias("_v_hi"),
    )
    return (
        pts.join(
            src_lo,
            (F.col(group_col) == F.col("_gl")) & (F.col("_lo") == F.col("_il")),
        )
        .join(
            src_hi,
            (F.col(group_col) == F.col("_gh")) & (F.col("_hi") == F.col("_ih")),
        )
        .select(
            group_col,
            F.col("j").alias("idx"),
            (
                F.col("_v_lo")
                + F.col("_frac") * (F.col("_v_hi") - F.col("_v_lo"))
            ).alias("v"),
        )
    )
