"""Per-point series transforms — reference operators P1/P2 (P7, the
scale mask, is ``decompose.reconstruct(keep_scales=...)``).

All pure column expressions / window aggregates (JVM-side, whole-stage
codegen); no Python in these paths.

Input convention: a *long-format* series table
``(series_id: string, year: int, idx: int, value: double)`` — one row per
sample, ``idx`` 0-based within (series_id, year). This is the Spark mapping
of the reference's ``dict[str, 1-D array]`` stacked-signal model
(/root/reference/import_excel.py:29-57).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

GROUP_KEYS = ["series_id", "year"]


def leap_trim(df: DataFrame, points_per_year: int) -> DataFrame:
    """P1 — truncate each (series_id, year) group to its first
    ``points_per_year`` samples (reference: ``one_yr[0:dpd*dpy]``,
    import_excel.py:39-40). A per-group limit expressed as a filter on the
    positional index — pushed into the scan when idx is a stored column."""
    return df.filter(F.col("idx") < F.lit(points_per_year))


def normalize_yearly_mean(df: DataFrame) -> DataFrame:
    """P2 — divide by the per-(series, year) mean (import_excel.py:43).

    Window aggregate over the group; Catalyst plans one exchange on the
    group key shared with downstream per-group stages."""
    w = Window.partitionBy(*GROUP_KEYS)
    return df.withColumn("value", F.col("value") / F.avg("value").over(w))
