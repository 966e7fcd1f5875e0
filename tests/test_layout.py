"""Clustered parquet layout: the writer's promises are verified from the
written files' own metadata (pyarrow, no scan) — bounded file sizes, file
key-ranges that actually prune, in-file row-group ordering — plus the
unclustered control showing pruning factor ~1.0 without the writer."""

import os
import shutil
import tempfile

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from wavelet_decomposition_spark.operators.layout import (
    layout_stats,
    pruning_factor,
    write_clustered,
)


@pytest.fixture(scope="module")
def table_pdf():
    rng = np.random.default_rng(7)
    n = 200_000
    return pd.DataFrame(
        {
            "user_id": rng.integers(0, 10_000, n).astype(np.int64),
            "ts": pd.to_datetime(
                1_700_000_000 + rng.integers(0, 10**6, n), unit="s"
            ),
            "v": rng.random(n),
        }
    )


@pytest.fixture(scope="module")
def clustered_path(spark, table_pdf):
    path = tempfile.mkdtemp(prefix="wds_layout_")
    shutil.rmtree(path)
    write_clustered(
        spark.createDataFrame(table_pdf).repartition(16),
        path,
        target_rows_per_file=30_000,
    )
    yield path
    shutil.rmtree(path, ignore_errors=True)


def test_files_bounded_and_ordered(clustered_path):
    stats = layout_stats(clustered_path, "user_id")
    assert stats, "no parquet files written"
    by_file: dict = {}
    for s in stats:
        assert s["rows"] <= 30_000
        by_file.setdefault(s["file"], []).append(s)
    # row groups inside a file are sorted: non-overlapping ascending ranges
    for rgs in by_file.values():
        rgs = sorted(rgs, key=lambda r: r["row_group"])
        for a, b in zip(rgs, rgs[1:]):
            assert a["max"] <= b["min"]


def test_point_scan_prunes(spark, clustered_path, table_pdf):
    stats = layout_stats(clustered_path, "user_id")
    n_files = len({s["file"] for s in stats})
    assert n_files >= 4
    probes = [17, 2500, 5000, 7500, 9990]
    pf = pruning_factor(stats, probes)
    # a point predicate must touch only a small fraction of files; the
    # range writer guarantees near-disjoint envelopes (allow boundary
    # overlap between adjacent ranges)
    assert pf <= 2.0 / n_files + 0.05, (pf, n_files)


def test_unclustered_control_does_not_prune(spark, table_pdf):
    path = tempfile.mkdtemp(prefix="wds_layout_ctrl_")
    shutil.rmtree(path)
    try:
        (
            spark.createDataFrame(table_pdf)
            .repartition(8)  # hash/random spread: every file sees all keys
            .write.mode("overwrite")
            .parquet(path)
        )
        stats = layout_stats(path, "user_id")
        pf = pruning_factor(stats, [17, 2500, 5000, 7500, 9990])
        assert pf > 0.9  # every probe hits essentially every file
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_spark_scan_respects_layout(spark, clustered_path):
    """End to end through Spark: a point filter on the cluster key reads
    the clustered table correctly (values intact after the range+sort
    rewrite) and the scan's pushed filter appears in the plan."""
    df = spark.read.parquet(clustered_path).where(F.col("user_id") == 2500)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(user_id), EqualTo(user_id,2500)" in plan
    assert df.count() > 0


def _py_spread(v, bits=21):
    v &= (1 << bits) - 1
    for sh, mask in [
        (16, 0x0000FFFF0000FFFF), (8, 0x00FF00FF00FF00FF),
        (4, 0x0F0F0F0F0F0F0F0F), (2, 0x3333333333333333),
        (1, 0x5555555555555555),
    ]:
        if sh < 2 * bits:
            v = (v | (v << sh)) & mask
    return v


def _py_z(x, y, bits=21):
    return _py_spread(x, bits) | (_py_spread(y, bits) << 1)


def test_zvalue_matches_bitwise_reference(spark):
    from pyspark.sql import functions as F

    from wavelet_decomposition_spark.operators.layout import zvalue

    cases = [(0, 0), (1, 0), (0, 1), (3, 5), (2**21 - 1, 0),
             (0, 2**21 - 1), (123456, 654321), (2**21 - 1, 2**21 - 1)]
    df = spark.createDataFrame(cases, "x long, y long").select(
        "x", "y", zvalue(F.col("x"), F.col("y")).alias("z")
    )
    for r in df.collect():
        assert r.z == _py_z(r.x, r.y), (r.x, r.y)
    # hand check: interleave(3=0b11, 5=0b101) = 0b100111 = 39
    assert _py_z(3, 5) == 39


def test_zvalue_bits_bounds(spark):
    import pytest
    from pyspark.sql import functions as F

    from wavelet_decomposition_spark.operators.layout import zvalue

    with pytest.raises(ValueError):
        zvalue(F.lit(1), F.lit(1), bits=0)
    with pytest.raises(ValueError):
        zvalue(F.lit(1), F.lit(1), bits=32)


def test_zorder_write_prunes_both_dims(spark, tmp_path):
    from wavelet_decomposition_spark.operators.layout import (
        layout_stats,
        pruning_factor,
        write_zorder,
    )

    # mismatched bit-widths on purpose: x in [10^6, 10^6+4096) varies
    # only in its low bits, y in [0, 64) — normalization must still
    # give 2-D pruning
    df = spark.range(65536).selectExpr(
        "id", "1000000 + CAST(id / 16 AS BIGINT) AS x", "id % 64 AS y"
    )
    path = str(tmp_path / "z")
    write_zorder(df, path, target_rows_per_file=3000)
    pfs = {}
    for dim in ("x", "y"):
        st = layout_stats(path, dim)
        gmin = min(s["min"] for s in st)
        gmax = max(s["max"] for s in st)
        probes = [gmin + (gmax - gmin) * i // 4 for i in range(5)]
        pfs[dim] = pruning_factor(st, probes)
    n_files = len({s["file"] for s in st})
    assert n_files >= 4
    # both dims must prune (arrival order / 1-D layouts give ~1.0 on
    # at least one of them)
    assert pfs["x"] <= 0.6 and pfs["y"] <= 0.6, pfs
    # row cap respected
    assert all(s["rows"] <= 3000 for s in st)
