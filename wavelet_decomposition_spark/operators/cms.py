"""Count-min-sketch heavy hitters — the production-scale frequent-items
path (``DataFrame.freqItems`` stays as the driver's gate-checked sketch;
this operator is the one you run at 100 TB when the support must come
A PRIORI from the question, per the `freq_items` production contract).

Method (public literature): Cormode & Muthukrishnan 2005 ("An improved
data stream summary: the count-min sketch and its applications") merged
with per-partition exact top-k candidate generation — the classic
distributed heavy-hitters recipe (same shape as Misra-Gries/SpaceSaving
merges in Algebird / DataSketches).

Why this shape at 100 TB:
- ONE scan. Each input partition folds into a d x w int64 sketch plus an
  exact local top-k, all inside one Arrow ``mapInPandas`` pass; per-task
  state is bounded by d*w + local_k regardless of input size or key
  cardinality.
- The only shuffle is the sketch merge: <= partitions x (d*w nonzero
  cells + local_k candidate rows), INDEPENDENT of input rows. CMS is
  linear, so merging = summing cells — a plain ``groupBy(cell).sum()``.
- Estimation is relational: candidates explode into their d cells and
  equi-join the merged sketch; ``min`` over the d per-row counters is the
  CMS estimate. No driver-side state anywhere.

Provable guarantees (both gate-asserted by the driver query):
- *No undercount*: CMS counters only ever add collision mass, so
  estimate(k) >= true_count(k) for every key.
- *Superset of the true hot set*: a key with global share >= support has,
  by pigeonhole, share >= support in at least one partition; at most
  floor(1/support) keys can hold share >= support in that partition, so
  ``local_k >= ceil(1/support)`` (``local_k`` is 2x that) puts every
  truly-hot key in some partition's candidate list — under ANY
  partitioning. Combined with no-undercount, the output is always a
  superset of the true hot set.

Hash discipline: candidate cells must be recomputed later on the merged
candidate table, so row->cell hashing happens JVM-side (``xxhash64(key,
seed_j)``) BEFORE the Arrow boundary and the identical expression
re-derives candidate cells after the merge — the Python kernel never
hashes, it only scatters pre-computed positions (``np.add.at``).
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..plans.session import worker_kernel

_KIND_CELL = 0  # (cell, cnt): one nonzero CMS cell of this partition
_KIND_CAND = 1  # (key, cnt): local exact top-k candidate
_KIND_NROW = 2  # (cnt): partition row count

_PARTIAL_SCHEMA = "kind tinyint, cell bigint, key string, cnt bigint"
_DEPTH = 4  # independent hash rows of the sketch


def _cells_expr(key: Column, width: int) -> Column:
    """array<bigint> of the key's ``_DEPTH`` sketch cells, cell = j*width +
    pos — the ONE hashing definition shared by the scatter pass and candidate
    re-derivation (xxhash64 seeded per row via a literal column)."""
    return F.array(
        *[
            (
                F.pmod(F.xxhash64(key, F.lit(j)), F.lit(width))
                + F.lit(j * width)
            ).cast("bigint")
            for j in range(_DEPTH)
        ]
    )


def cms_heavy_hitters(
    df: DataFrame,
    key_col: str,
    support: float,
    width: int = 8192,
) -> DataFrame:
    """All keys whose frequency is >= ``support`` of the total row count,
    with CMS-estimated counts: columns (key string, estimate bigint,
    n_total bigint). Guaranteed a superset of the true hot set with
    estimate >= true count; false positives are bounded by the CMS
    overcount (expected collision mass ~ n_total/width per counter,
    minimized over ``_DEPTH`` independent rows).
    """
    if not (0.0 < support < 1.0):
        raise ValueError(f"support must be in (0,1), got {support}")
    local_k = 2 * math.ceil(1.0 / support)
    spark = df.sparkSession

    keyed = (
        df.select(F.col(key_col).cast("string").alias("_k"))
        .filter(F.col("_k").isNotNull())  # support is a share of non-null keys
        .withColumn("_cells", _cells_expr(F.col("_k"), width))
    )

    n_cells = _DEPTH * width

    def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        sketch = np.zeros(n_cells, dtype=np.int64)
        counts: dict[str, int] = {}
        n = 0
        for b in batches:
            if not len(b):
                continue
            n += len(b)
            cells = np.concatenate(b["_cells"].to_numpy())
            np.add.at(sketch, cells, 1)
            for k, c in b["_k"].value_counts().items():
                counts[k] = counts.get(k, 0) + int(c)
        nz = np.nonzero(sketch)[0]
        top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:local_k]
        yield pd.DataFrame(
            {
                "kind": np.concatenate(
                    [
                        np.full(len(nz), _KIND_CELL, dtype=np.int8),
                        np.full(len(top), _KIND_CAND, dtype=np.int8),
                        np.array([_KIND_NROW], dtype=np.int8),
                    ]
                ),
                "cell": np.concatenate(
                    [nz, np.full(len(top) + 1, -1, dtype=np.int64)]
                ),
                "key": [None] * len(nz)
                + [k for k, _ in top]
                + [None],
                "cnt": np.concatenate(
                    [
                        sketch[nz],
                        np.array([c for _, c in top], dtype=np.int64),
                        np.array([n], dtype=np.int64),
                    ]
                ),
            }
        )

    # Three downstream branches (cells, candidates, n_total) read the
    # partials; WITHOUT materialization each branch would replay the full
    # input scan + Arrow pass (3 scans of 100 TB). The partials are
    # bounded by partitions x (d*w + local_k) rows, so a lazy local
    # checkpoint keeps THEM: the first action runs the expensive pass
    # once, and unlike a cached plan no later query can match and read it.
    # A caller that has materialized the result frees them with
    # plans.session.release_checkpoint(result).
    partials = keyed.mapInPandas(
        worker_kernel(partial), _PARTIAL_SCHEMA
    ).localCheckpoint(eager=False)
    # one small shuffle each, all bounded by partitions x (d*w + k):
    cells = (
        partials.filter(F.col("kind") == _KIND_CELL)
        .groupBy("cell")
        .agg(F.sum("cnt").alias("cell_cnt"))
    )
    cands = (
        partials.filter(F.col("kind") == _KIND_CAND)
        .select("key")
        .distinct()
    )
    n_total = (
        partials.filter(F.col("kind") == _KIND_NROW)
        .agg(F.sum("cnt").alias("n_total"))
    )
    est = (
        cands.withColumn("cell", F.explode(_cells_expr(F.col("key"), width)))
        .join(cells, "cell")
        .groupBy("key")
        .agg(F.min("cell_cnt").alias("estimate"))
        .crossJoin(F.broadcast(n_total))
        .filter(F.col("estimate") >= F.lit(support) * F.col("n_total"))
    )
    return est.select("key", "estimate", "n_total")
