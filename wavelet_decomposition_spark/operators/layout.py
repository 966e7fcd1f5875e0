"""Scan-optimized parquet layout — the write-side half of the 100-TB
story. Predicate pushdown only pays off when the FILES are organized so
min/max statistics actually exclude data: a tier written in arrival order
has every file spanning the whole key domain, and a filtered scan still
opens all of them. This module writes tables so that

1. **files are few and bounded** (the small-files problem: a 1-minute
   streaming tier naively checkpointed produces millions of KB-sized
   files whose open/footer cost dwarfs the scan), and
2. **each file/row-group covers a narrow key range** (range partitioning
   + in-file sort), so parquet min/max stats prune both files and row
   groups for range or point predicates on the layout keys.

This is the same mechanism as Delta's OPTIMIZE ... ZORDER for the
single-key case — true multi-dimensional Z-ordering interleaves bits of
several keys; for one dominant filter key (the overwhelmingly common case
for a time-keyed tier: series, then time) lexicographic
range-sort-cluster IS the optimal curve, with none of the bit-twiddling.
A multi-key layout lists the keys most-selective-first.

Verifiability without a cluster: `layout_stats` reads back the written
files' parquet row-group metadata (pyarrow, driver-side, metadata-only)
and reports per-file/row-group key ranges — the tests assert that file
key-ranges are disjoint-ish (bounded overlap factor) and that a point
predicate's candidate file set is a small fraction of the total, which is
exactly the property that becomes I/O pruning at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_clustered(
    df: DataFrame,
    path: str,
    target_rows_per_file: int = 1_000_000,
) -> None:
    """Overwrite ``path`` with ``df`` as parquet clustered on ``user_id``:
    range-repartitioned so each output task owns a contiguous key range,
    sorted within partitions so row groups inside a file are themselves
    contiguous, and capped at ``target_rows_per_file`` so file size is
    bounded regardless of skew (Spark rolls to a new file within the same
    key range rather than producing one giant file for a hot key).

    The row-count cap (not a byte cap) is deliberate: bytes-per-row is
    stable within one table, the cap composes with AQE coalescing, and
    ``maxRecordsPerFile`` is enforced by the writer without a second
    pass. The range exchange samples the cluster key (one extra job over
    a sample, negligible vs the write) — skewed keys get MORE output
    tasks, which is the behavior a hot tenant needs.
    """
    n = max(1, df.sparkSession.sparkContext.defaultParallelism)
    (
        df.repartitionByRange(n, "user_id")
        .sortWithinPartitions("user_id")
        .write.mode("overwrite")
        .option("maxRecordsPerFile", target_rows_per_file)
        .parquet(path)
    )


_MORTON_MASKS = [
    (16, 0x0000FFFF0000FFFF),
    (8, 0x00FF00FF00FF00FF),
    (4, 0x0F0F0F0F0F0F0F0F),
    (2, 0x3333333333333333),
    (1, 0x5555555555555555),
]


def zvalue(x_col, y_col, bits: int = 21):
    """Morton/Z-order interleave of two non-negative integer columns
    (x gets the even bit positions, y the odd) — the multi-dimensional
    generalization of ``write_clustered``'s lexicographic curve, for
    tables filtered on EITHER key independently (no dominant key).
    A z-range-clustered file covers an ~square region of (x, y) space,
    so a point predicate on one dimension opens ~sqrt(n_files) files
    instead of all of them on the non-leading key.

    Precondition: ``0 <= value < 2**bits`` (bits <= 31; two 21-bit keys
    fill 42 of a BIGINT's 63 usable bits). Pure JVM shift/mask ops
    (the standard magic-mask bit-spread), so the same expression runs
    bit-identically in any engine with 64-bit integer ops — the DuckDB
    oracle replays it exactly.
    """
    from pyspark.sql import functions as F

    if not 1 <= bits <= 31:
        raise ValueError("bits must be in [1, 31]")

    def spread(c):
        c = c.cast("bigint").bitwiseAND(F.lit((1 << bits) - 1))
        for sh, mask in _MORTON_MASKS:
            if sh < 2 * bits:  # shifts >= the spread width are no-ops
                c = c.bitwiseOR(F.shiftleft(c, sh)).bitwiseAND(
                    F.lit(mask)
                )
        return c

    return spread(x_col).bitwiseOR(F.shiftleft(spread(y_col), 1))


def write_zorder(
    df: DataFrame,
    path: str,
    target_rows_per_file: int = 1_000_000,
) -> None:
    """Overwrite ``path`` with ``df`` as parquet clustered on the Z-order
    curve of its ``(x, y)`` columns: range-repartitioned and sorted by the morton
    value (Delta's OPTIMIZE ... ZORDER mechanism), files capped like
    ``write_clustered``. The z column itself is not persisted — the
    pruning payoff is in the per-file min/max envelopes of the ORIGINAL
    columns, which the curve keeps narrow in both dimensions at once.

    Each dimension is min-max scaled to the full 16-bit range first:
    raw interleaving is only meaningful when both keys span comparable
    bit widths — a key whose domain varies in its low 10 bits loses
    every interleave decision to a 16-bit neighbor and degenerates to
    1-D clustering (an epoch-hour column is the canonical victim: its
    HIGH bits are constant). Min-max is one cheap aggregate; swap in
    rank/quantile bucketing upstream for heavily skewed keys.
    """
    from pyspark.sql import functions as F

    n = max(1, df.sparkSession.sparkContext.defaultParallelism)
    bits = 16
    top = (1 << bits) - 1
    b = df.agg(
        F.min("x").alias("_xmin"), F.max("x").alias("_xmax"),
        F.min("y").alias("_ymin"), F.max("y").alias("_ymax"),
    )
    scale = lambda c, lo, hi: F.floor(  # noqa: E731
        (F.col(c) - F.col(lo)).cast("double")
        * top
        / F.greatest(
            (F.col(hi) - F.col(lo)).cast("double"), F.lit(1.0)
        )
    ).cast("bigint")
    keyed = df.crossJoin(F.broadcast(b)).withColumn(
        "_z",
        zvalue(
            scale("x", "_xmin", "_xmax"),
            scale("y", "_ymin", "_ymax"),
            bits,
        ),
    ).drop("_xmin", "_xmax", "_ymin", "_ymax")
    (
        keyed.repartitionByRange(n, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .option("maxRecordsPerFile", target_rows_per_file)
        .parquet(path)
    )


def layout_stats(path: str, key: str):
    """Read back per-row-group min/max statistics for ``key`` from every
    parquet file under ``path`` (pyarrow, metadata-only — no data pages
    touched). Returns a list of dicts:
    ``{"file", "row_group", "rows", "min", "max"}``.

    This is the ground truth a scan planner prunes with; tests turn it
    into an overlap factor (how many files a point predicate must open)
    to pin the clustering property the writer promises."""
    import os

    import pyarrow.parquet as pq

    out = []
    for name in sorted(os.listdir(path)):
        if not name.endswith(".parquet"):
            continue
        f = os.path.join(path, name)
        meta = pq.ParquetFile(f).metadata
        idx = {
            meta.row_group(0).column(i).path_in_schema: i
            for i in range(meta.num_columns)
        }
        ci = idx[key]
        for rg in range(meta.num_row_groups):
            col = meta.row_group(rg).column(ci)
            st = col.statistics
            out.append(
                {
                    "file": name,
                    "row_group": rg,
                    "rows": meta.row_group(rg).num_rows,
                    "min": st.min if st is not None else None,
                    "max": st.max if st is not None else None,
                }
            )
    return out


def pruning_factor(stats: list, probes: list) -> float:
    """Fraction of files a point-equality scan on the layout key must
    open, averaged over ``probes`` — 1.0 means no pruning (every file
    covers every key), 1/n_files is perfect clustering. Uses file-level
    [min, max] envelopes, the same coarse statistic a distributed scan
    planner prunes with before row-group elimination."""
    inf = float("inf")
    files: dict = {}
    for s in stats:
        # a row group without min/max statistics cannot be pruned: treat
        # its envelope as infinite rather than crashing on None
        smin = s["min"] if s["min"] is not None else -inf
        smax = s["max"] if s["max"] is not None else inf
        lo, hi = files.get(s["file"], (smin, smax))
        files[s["file"]] = (min(lo, smin), max(hi, smax))
    if not files or not probes:
        return 1.0
    total = 0
    for p in probes:
        total += sum(1 for lo, hi in files.values() if lo <= p <= hi)
    return total / (len(probes) * len(files))
