"""worker_kernel: inside a Spark task it drops the cached zipimporters of
the Spark distribution's archives and keeps those of shipped includes,
stateful drains included; on the driver it is the kernel itself.
python_stage_partitions logs its decision."""

import inspect
import logging
import os
import sys
import tempfile
import zipfile
import zipimport
from datetime import datetime
from importlib.machinery import PathFinder

import pandas as pd
from pyspark import cloudpickle

from wavelet_decomposition_spark.operators import wavelet_ops
from wavelet_decomposition_spark.plans.session import (
    package_zip,
    worker_kernel,
)
from wavelet_decomposition_spark.streaming import await_drain, stateful


def _plant_zipimporter(tmp: str) -> str:
    """Cache a zipimporter on a fresh zip outside the SparkFiles root, as
    the worker's import of ``pyspark.zip`` does; returns its path key."""
    path = os.path.join(tmp, "static.zip")
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("static_mod.py", "")
    sys.path_importer_cache[path] = zipimport.zipimporter(path)
    return path


def test_worker_kernel_evicts_static_zipimporters_in_task(spark):
    zip_name = os.path.basename(package_zip())

    def probe(batches):
        from pyspark import SparkFiles

        root = os.path.join(SparkFiles.getRootDirectory(), "")
        shipped = os.path.join(root, zip_name)
        for _ in batches:
            pass
        with tempfile.TemporaryDirectory() as tmp:
            # as _plant_zipimporter, which the worker cannot import
            planted = os.path.join(tmp, "static.zip")
            with zipfile.ZipFile(planted, "w") as zf:
                zf.writestr("static_mod.py", "")
            sys.path_importer_cache[planted] = zipimport.zipimporter(planted)
            # cache the shipped zip's importer, as any import that reaches
            # it on sys.path does
            PathFinder.find_spec("wds_absent_module", [shipped])
            worker_kernel(lambda pdf: pdf)(pd.DataFrame({"x": [1]}))
            zips = [
                f.archive for f in sys.path_importer_cache.values()
                if isinstance(f, zipimport.zipimporter)
            ]
        yield pd.DataFrame({
            "planted_left": [planted in sys.path_importer_cache],
            "foreign": [sum(not a.startswith(root) for a in zips)],
            "shipped_kept": [shipped in zips],
        })

    row = (
        spark.range(1, numPartitions=1)
        .mapInPandas(
            probe, "planted_left boolean, foreign int, shipped_kept boolean"
        )
        .collect()[0]
    )
    assert not row.planted_left
    assert row.foreign == 0
    assert row.shipped_kept


def test_worker_kernel_is_the_kernel_on_the_driver():
    pdf = pd.DataFrame({"x": [1, 2]})
    batches = iter([pdf])

    def one(pdf):
        return pdf

    def two(key, pdf):
        return pdf

    def through(batches):
        return batches

    with tempfile.TemporaryDirectory() as tmp:
        planted = _plant_zipimporter(tmp)
        try:
            before = dict(sys.path_importer_cache)
            assert worker_kernel(one)(pdf) is pdf
            assert worker_kernel(two)(("k",), pdf) is pdf
            assert worker_kernel(through)(batches) is batches
            assert sys.path_importer_cache == before
        finally:
            sys.path_importer_cache.pop(planted, None)
    # pyspark reads a grouped-map kernel's arity without following
    # wrappers, on the worker's unpickled copy
    three = stateful._sessionize_group(1)
    for fn in (one, two, three):
        wrapped = cloudpickle.loads(cloudpickle.dumps(worker_kernel(fn)))
        assert wrapped.__name__ == fn.__name__
        assert (inspect.getfullargspec(wrapped).args
                == inspect.getfullargspec(fn).args)
    assert inspect.getfullargspec(worker_kernel(three)).args == [
        "key", "pdfs", "state"
    ]


def test_stateful_drain_evicts_static_zipimporters(spark, tmp_path):
    """Each call of a stateful group function first reports whether the
    zipimporter the previous call in its worker process planted is still
    cached, then plants it again. Wrapped by the drain, no call finds it."""
    planted = _plant_zipimporter(str(tmp_path))
    sys.path_importer_cache.pop(planted, None)
    token = f"_wds_probe_calls_{os.getpid()}"

    def probe(key, pdfs, state):
        for _ in pdfs:
            pass
        left = planted in sys.path_importer_cache
        calls = getattr(sys, token, 0)
        setattr(sys, token, calls + 1)
        sys.path_importer_cache[planted] = zipimport.zipimporter(planted)
        yield pd.DataFrame({
            "user_id": [key[0]],
            "prior_calls": [calls],
            "planted_left": [left],
        })

    src = str(tmp_path / "in")
    spark.range(40).selectExpr("id % 20 as user_id").write.parquet(src)
    q = stateful._drain_with_state(
        spark, "user_id long", src, str(tmp_path / "out"),
        str(tmp_path / "ckpt"), "user_id", probe,
        "user_id long, prior_calls long, planted_left boolean",
        "n long",
    )
    await_drain(q, 300)
    rows = spark.read.parquet(str(tmp_path / "out")).collect()
    assert len(rows) == 20
    # 20 groups over fewer shuffle partitions: some call follows another
    # in the same worker, so the check below is not vacuous
    assert max(r.prior_calls for r in rows) >= 1
    assert not any(r.planted_left for r in rows)


def test_two_argument_kernel_gets_its_key(spark):
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", 5.0)], "g string, v double"
    )

    def total(key, pdf):
        return pd.DataFrame({"g": [key[0]], "s": [pdf["v"].sum()]})

    out = df.groupBy("g").applyInPandas(
        worker_kernel(total), "g string, s double"
    )
    assert sorted(map(tuple, out.collect())) == [("a", 3.0), ("b", 5.0)]


def test_dwt_window_bands_plan_names_the_kernel(spark):
    df = spark.createDataFrame(
        [("c", datetime(2024, 1, 1, 0, i), float(i)) for i in range(8)],
        "conv_id string, bucket_ts timestamp, turns double",
    )
    bands = wavelet_ops.dwt_window_bands(
        df, "turns", levels=2, window_len=8, sparse_fill_step="1 minute"
    )
    plan = bands._jdf.queryExecution().executedPlan().toString()
    assert "_pyramid_bucket" in plan


def test_python_stage_partitions_logs_its_decision(spark, caplog):
    df = spark.range(1000).selectExpr("cast(id as string) as conv_id")
    dp = spark.sparkContext.defaultParallelism
    with caplog.at_level(logging.INFO, logger=wavelet_ops.__name__):
        n = wavelet_ops.python_stage_partitions(df)

        class NoEstimate:  # a frame whose plan cannot be reached
            sparkSession = spark

            @property
            def _jdf(self):
                raise AttributeError("_jdf")

        assert wavelet_ops.python_stage_partitions(NoEstimate()) == 2 * dp
    decided, fallback = (
        r.getMessage() for r in caplog.records
        if r.name == wavelet_ops.__name__
    )
    assert f"defaultParallelism={dp} -> {n} tasks" in decided
    assert "sizeInBytes=" in decided
    assert "AttributeError" in fallback and f"-> {2 * dp} tasks" in fallback
