"""SparkSession construction with the engine's scale-oriented defaults;
what the Python workers need: the shipped package zip, the malloc env and
:func:`worker_kernel`; and :func:`release_checkpoint`, which frees the
local checkpoints a frame reads once nothing reads them any more.

The sandbox runs ``local[N]`` single-JVM; the configs below are chosen to be
the right ones on a real multi-executor cluster too (AQE with skew-join
splitting, Arrow-batched Python exchange, partition coalescing), so the same
plan shapes carry from local tests to a 1000-executor deployment.

Each Python task's largest fixed cost was not the worker, Arrow or the
scheduler but pyspark's per-task ``importlib.invalidate_caches()``: under
CPython 3.11 it makes every cached ``zipimporter`` re-read its archive's
central directory, and a worker that imports pyspark from ``$SPARK_HOME``'s
``pyspark.zip`` caches more than a dozen of them on ``pyspark.zip`` and the
``spark-core`` jar. :func:`worker_kernel` drops those importers after each
kernel call.
"""

from __future__ import annotations

import functools
import inspect
import os
import sys
import tempfile
import zipfile
import zipimport
from collections.abc import Iterator

from pyspark import SparkFiles, TaskContext
from pyspark.sql import SparkSession


def _default_driver_mem() -> str:
    """Local mode hosts all task threads in one JVM, so a large heap helps —
    but only up to what the machine has. Default: ~40% of MemTotal, clamped
    to [2g, 48g]; override with WDS_DRIVER_MEM."""
    env = os.environ.get("WDS_DRIVER_MEM")
    if env:
        return env
    try:
        with open("/proc/meminfo") as f:
            kb = int(next(ln for ln in f if ln.startswith("MemTotal")).split()[1])
        gib = max(2, min(48, int(kb * 0.4 / 1024 / 1024)))
    except (OSError, StopIteration, ValueError):
        gib = 8
    return f"{gib}g"


@functools.cache
def package_zip() -> str:
    """Zip this package for shipping to executors (the local-mode analogue of
    ``spark-submit --py-files``; required whenever the driver script does not
    run from the repo root). Deterministic content, written once per
    process."""
    pkg_dir = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = os.path.join(
        tempfile.gettempdir(), "wavelet_decomposition_spark_pyfiles.zip"
    )
    with zipfile.ZipFile(out, "w", zipfile.ZIP_STORED) as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            if "__pycache__" in root:
                continue
            for f in sorted(files):
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                    zf.write(full, rel)
    return out


def ship_package(sc) -> None:
    """``addPyFile`` the package zip unless ``sc`` already ships it."""
    path = package_zip()
    if os.path.basename(path) not in sc._python_includes:
        sc.addPyFile(path)


def _evict_static_zipimporters() -> None:
    """Drop every cached ``zipimporter`` whose archive lies outside the
    SparkFiles root: the Spark distribution's ``pyspark.zip`` and jars,
    which never change while a worker lives. Importers of shipped includes
    (the package zip) stay, so pyspark's per-task refresh of re-shipped
    includes is unchanged; ``sys.path`` and ``sys.modules`` are untouched.
    An importer needed again is rebuilt from ``zipimport``'s directory
    cache without re-reading the archive."""
    root = os.path.join(SparkFiles.getRootDirectory(), "")
    for key, finder in list(sys.path_importer_cache.items()):
        if not isinstance(finder, zipimport.zipimporter):
            continue
        if not finder.archive.startswith(root):
            del sys.path_importer_cache[key]


def _then_evict(batches: Iterator) -> Iterator:
    yield from batches
    _evict_static_zipimporters()


def _after_call(out):
    if TaskContext.get() is None:  # driver-side call: leave it alone
        return out
    if isinstance(out, Iterator):  # mapInPandas: evict once drained
        return _then_evict(out)
    _evict_static_zipimporters()
    return out


def worker_kernel(fn):
    """Wrap the Python-stage kernel ``fn`` (an ``applyInPandas`` function of
    ``(pdf)`` or ``(key, pdf)``, a ``mapInPandas`` function of an iterator,
    or an ``applyInPandasWithState`` function of ``(key, pdfs, state)``) so
    that, inside a task, each call ends with
    :func:`_evict_static_zipimporters`. The next task's
    ``importlib.invalidate_caches()`` then no longer re-reads the Spark
    distribution's zip archives: on a 4-core x86 VM (CPython 3.11, one
    ``wavelet_scan`` benchmark run) it fell from a median of 311 ms to
    1.3 ms per task. Name, docstring and signature are ``fn``'s (pyspark
    reads a grouped-map function's arity through ``__signature__``, not
    ``__wrapped__``), so UDF names and plan text do not change. On the
    driver the wrapper only calls ``fn``. Every Python-stage kernel goes
    through this."""

    @functools.wraps(fn)
    def run(*args):
        return _after_call(fn(*args))

    run.__signature__ = inspect.signature(fn)
    return run


def release_checkpoint(frame) -> None:
    """Free the blocks of every ``localCheckpoint`` ``frame`` reads (the
    ``LogicalRDD`` leaves of its analyzed plan).
    ``DataFrame.unpersist()`` does not release a local checkpoint. A
    released checkpoint cannot be recomputed, so call this only when no
    frame still in use reads it."""
    leaves = frame._jdf.queryExecution().analyzed().collectLeaves()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() == "LogicalRDD":
            leaf.rdd().unpersist(False)


# glibc malloc tuning for the pandas-UDF workers (and the JVM they fork
# from). numpy temporaries in the pyramid/codec UDFs are tens-to-hundreds
# of MB; glibc's adaptive mmap threshold caps at 32 MiB, so every such
# temporary is served by mmap and returned by munmap — each UDF call then
# pays fresh page-zeroing plus cross-core TLB-shootdown IPIs, a cost that
# grows with BOTH batch size and the number of concurrently-running
# workers (measured on this box: the same bucket transform runs 43 s on a
# churning arena vs 2.9 s on a retained one). Raising the thresholds lets
# long-lived workers keep the arena at its high-watermark: bounded extra
# RSS per worker, 5-15x steadier UDF throughput. Exported both into this
# process' env (local mode: the JVM and its python workers inherit it)
# and as spark.executorEnv.* (real clusters).
_MALLOC_ENV = {
    "MALLOC_MMAP_THRESHOLD_": "268435456",  # 256 MiB
    "MALLOC_TRIM_THRESHOLD_": "268435456",
}


def build_session(
    app_name: str = "wavelet_decomposition_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """A ``local[cores]`` session with the defaults above, shipping the
    package. ``cores`` defaults to ``$SPARK_GRAFT_CPUS``, else the cores
    this process may run on."""
    if cores is None:
        cores = int(
            os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
        )
    if shuffle_partitions is None:
        # ~2x parallelism; AQE coalesces down when partitions are small
        shuffle_partitions = max(2 * cores, 8)

    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        # --- adaptive execution: runtime re-planning, skew-join splitting ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # keep post-shuffle parallelism for Python-bound (pandas UDF) stages:
        # default 64 MB advisory size would coalesce small-but-CPU-heavy
        # shuffles down to a handful of tasks
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
        # --- shuffle sizing ---
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # --- Arrow exchange for pandas UDFs (the engine's only Python) ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # solve groups are 23,360 rows; activity windows are bounded — large
        # batches keep the JVM<->Python round trips few
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # local-mode: the driver JVM hosts all task threads; size the heap
        # for the concurrent tasks' shuffle + Arrow buffers, bounded by the
        # machine's actual RAM (WDS_DRIVER_MEM overrides)
        .config("spark.driver.memory", _default_driver_mem())
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
    )
    for k, v in _MALLOC_ENV.items():
        os.environ.setdefault(k, v)
        builder = builder.config(f"spark.executorEnv.{k}", os.environ[k])
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # ship the engine to executor Python workers (--py-files analogue)
    ship_package(spark.sparkContext)
    return spark
