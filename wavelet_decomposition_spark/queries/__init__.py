"""The driver contract's query bodies, one family module each.

Each body is a ``_q_<name>(spark, sf_dir)`` function with one ``@query``
line, which registers it as query ``<name>`` and carries the only
per-query facts that tools read:

- ``bench``: ``bench.py`` times it
- ``side_effect``: building it writes files or drains a stream, so the
  plan audit flags its returned frame as a summary
- ``designed_bnl``: its plan has a nested-loop join by design (a broadcast
  side of O(1)-O(k) rows with no equi-key); any other nested-loop join
  fails the plan audit and ``tests/test_plans.py``

``registry()`` imports the family modules and returns every query;
``__spark_entry__.queries()`` orders them for the driver.
"""

from __future__ import annotations

import functools
import importlib
import os
import shutil
import tempfile
from collections.abc import Callable
from contextlib import contextmanager

from pyspark.sql import Window
from pyspark.sql import functions as F

from wavelet_decomposition_spark.plans.session import ship_package

FAMILIES = (
    "wavelet", "timeseries", "text", "vector", "graph", "lakehouse",
    "streaming", "relational",
)
_REGISTRY: dict[str, Callable] = {}


def prep(spark) -> None:
    """Pin the session time zone to UTC and ship the package to the
    executors, once per SparkContext."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ship_package(spark.sparkContext)


def query(*, bench: bool = False, side_effect: bool = False,
          designed_bnl: bool = False):
    """Register ``_q_<name>`` as driver query ``<name>``; the registered
    callable runs ``prep(spark)`` first and carries the three flags as
    attributes."""

    def register(fn):
        @functools.wraps(fn)
        def run(spark, sf_dir):
            prep(spark)
            return fn(spark, sf_dir)

        run.bench = bench
        run.side_effect = side_effect
        run.designed_bnl = designed_bnl
        name = fn.__name__.removeprefix("_q_")
        if name in _REGISTRY:
            raise ValueError(f"query {name!r} registered twice")
        _REGISTRY[name] = run
        return run

    return register


def registry() -> dict[str, Callable]:
    """Every registered query by name, in family-module order."""
    for family in FAMILIES:
        importlib.import_module(f"{__name__}.{family}")
    return _REGISTRY


@contextmanager
def aqe_off(spark, when: bool = True):
    """Run the block with AQE off and one shuffle partition, restoring
    both confs on exit (also on an exception). With ``when`` false the
    block runs under the session's own confs."""
    if not when:
        yield
        return
    keys = ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    old = {k: spark.conf.get(k) for k in keys}
    spark.conf.set(keys[0], "false")
    spark.conf.set(keys[1], "1")
    try:
        yield
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def scratch_dir(name: str) -> str:
    """The scratch directory ``wds_<name>`` under the temp directory,
    emptied of what an earlier run left there (removed, not re-created)."""
    path = os.path.join(tempfile.gettempdir(), f"wds_{name}")
    shutil.rmtree(path, ignore_errors=True)
    return path


def _events(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _cents():
    """``value`` quantized to integer cents: sums of these are exact and
    order-free, so Spark and the DuckDB oracle add them bit-identically."""
    return F.round(F.col("value") * 100).cast("bigint")


def _events_1m(spark, sf_dir):
    """The 1m tier of the events: per-(event_type, minute) ``turns`` and
    unrounded ``sum_value``."""
    return (
        _events(spark, sf_dir)
        .groupBy(
            "event_type", F.date_trunc("minute", F.col("ts")).alias("bucket_ts")
        )
        .agg(F.count(F.lit(1)).alias("turns"), F.sum("value").alias("sum_value"))
    )


def _cents_counter(spark, sf_dir):
    """A cumulative counter with genuine resets, ``(series_id, ts, v)``:
    per event type, the running total of each timestamp's summed cents,
    modulo 1e6."""
    w = (
        Window.partitionBy("series_id")
        .orderBy("ts")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        _events(spark, sf_dir)
        .groupBy(F.col("event_type").alias("series_id"), "ts")
        .agg(F.sum(_cents()).alias("_c"))
        .withColumn("v", (F.sum("_c").over(w) % 1_000_000).cast("double"))
        .drop("_c")
    )


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _hourly_series(spark, sf_dir):
    """Shared base for the ts-analytics queries: per-(event_type, hour)
    mean value, ROUNDED to 6 dp so Spark and the DuckDB oracle feed
    bit-identical inputs into the downstream window/recurrence math
    (partial-aggregation order would otherwise leave ~1e-12 seeds that
    argmax/threshold operators could amplify into discrete flips)."""
    return (
        _events(spark, sf_dir)
        .groupBy(
            F.col("event_type").alias("series_id"),
            F.date_trunc("hour", F.col("ts")).alias("bucket_ts"),
        )
        .agg(F.round(F.avg("value"), 6).alias("v"))
    )
