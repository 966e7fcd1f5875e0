"""haar_dwt_relational == dwt_windows('haar') — two disjoint computation
paths (pure-JVM closed form vs applyInPandas numpy pyramid) must agree on
every coefficient, including zero-padded tail windows and grid gaps."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from wavelet_decomposition_spark.operators import wavelet_ops


STEP = "1 minute"
# conv c's grid positions with no row: a lone gap, a whole level-3 block
# (8..15) of window 0, and one point of its zero-padded tail window
C_GAPS = {2, *range(8, 16), 33}
C_POS = [p for p in range(40) if p not in C_GAPS]


@pytest.fixture(scope="module")
def series(spark):
    rng = np.random.default_rng(7)
    rows = []
    # conv a: two full windows; conv b: one full + a partial (zero-padded);
    # conv c: sparse — grid positions C_POS of three windows
    for conv, pos in (
        ("a", range(32)), ("b", range(21)), ("c", C_POS),
    ):
        ts = pd.Timestamp("2026-01-01") + pd.to_timedelta(
            np.asarray(pos), unit="min"
        )
        v = rng.integers(0, 50, size=len(ts))
        rows.append(
            pd.DataFrame({"conv_id": conv, "bucket_ts": ts, "turns": v})
        )
    return spark.createDataFrame(pd.concat(rows))


def test_relational_matches_kernel(series):
    levels, window_len = 3, 16
    kern = wavelet_ops.dwt_windows(
        series, "turns", "haar", levels=levels, window_len=window_len,
        sparse_fill_step=STEP,
    )
    rel = wavelet_ops.haar_dwt_relational(
        series, levels=levels, window_len=window_len,
        sparse_fill_step=STEP,
    )
    keys = ["conv_id", "window_id", "level", "k", "coef_type"]
    j = (
        kern.join(rel.withColumnRenamed("coef", "rel_coef"), keys, "left")
        .withColumn(
            "err", F.abs(F.col("coef") - F.coalesce("rel_coef", F.lit(0.0)))
        )
        .toPandas()
    )
    # every kernel coefficient covered: 32/16 + ceil(21/16) + ceil(40/16)
    # windows — conv c's windows follow its timestamps, not its row count
    n_win = 2 + 2 + 3
    assert len(j) == n_win * window_len
    assert j["err"].max() <= 1e-10
    # zero-padded tail really exercised: conv b window 1 has absent blocks
    tail = j[(j.conv_id == "b") & (j.window_id == 1)]
    assert tail["rel_coef"].isna().any()
    # and the grid gap: conv c's empty block 8..15 has no relational row
    gap = j[(j.conv_id == "c") & (j.window_id == 0) & (j.level == 3)]
    assert gap.set_index(["coef_type", "k"])["rel_coef"].isna().to_dict() == {
        ("detail", 0): False, ("detail", 1): True,
        ("approx", 0): False, ("approx", 1): True,
    }
    # and no relational row falls outside the kernel's coefficient grid
    assert rel.join(kern, keys, "left_anti").count() == 0


def test_closed_form_vs_numpy(series):
    """The relational closed form independently matches kernel.dwt on a
    hand-extracted window 0 of a full and a gapped conversation, gap-filled
    here by position (no Spark kernel in the loop)."""
    from wavelet_decomposition_spark.kernel import dwt as kdwt

    for conv, pos in (("a", range(16)), ("c", [p for p in C_POS if p < 16])):
        one = series.filter(f"conv_id = '{conv}'")
        x = np.zeros(16)
        x[list(pos)] = (
            one.orderBy("bucket_ts").toPandas()["turns"]
            .to_numpy(dtype=float)[: len(pos)]
        )
        details, approx = kdwt.dwt(x, "haar", levels=3)
        rel = (
            wavelet_ops.haar_dwt_relational(
                one, 3, 16, sparse_fill_step=STEP
            )
            .filter("window_id = 0")
            .toPandas()
            .set_index(["level", "coef_type", "k"])["coef"]
        )
        # a block with no rows emits no relational row: its coefficient is 0
        for lvl, d in enumerate(details, start=1):
            for k, v in enumerate(d):
                assert abs(rel.get((lvl, "detail", k), 0.0) - v) <= 1e-10
        for k, v in enumerate(approx):
            assert abs(rel.get((3, "approx", k), 0.0) - v) <= 1e-10
