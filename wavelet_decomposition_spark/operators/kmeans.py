"""Distributed Lloyd's k-means over an embedding column — the semantic
CLUSTERING primitive of a training-data curation pipeline (domain
discovery, cluster-balanced sampling, semantic-dedup cell formation).
Sibling to the retrieval family in similarity.py: `train_coarse_
quantizer` there fits centroids on a bounded DRIVER-SIDE sample (the
IVF bootstrap); this operator runs full Lloyd iterations over the
ENTIRE corpus distributed — assignment is an Arrow kernel against a
broadcast centroid matrix, the update is a hash aggregate, and no step
ever moves the corpus to the driver.

Determinism contract (what makes this gate-able): callers feed INTEGER
vectors (quantized micro-units — embeddings are unit-norm floats, so
floor(x * 1e6) loses ~1e-6 relative geometry, irrelevant for cluster
shape). Then per-cell partial sums are exact BIGINTs (order-free under
any partitioning/AQE re-plan), centroids are exact-integer/count
divisions, per-row squared distances are pure functions of exact
inputs (bit-identical whatever the batch boundaries, since the 64-dim
row reduction never crosses rows), the argmin tie-break is the lowest
cell index, and the seeded init picks the k lowest xxhash64(id, seed)
rows. Result: the ENTIRE fit is bit-reproducible across reruns and
repartitionings — the driver query asserts this by refitting.

Scale shape (100 TB): per iteration — one mapInPandas pass over the
corpus (each Arrow batch does ONE (b x d) @ (d x k) GEMM against the
broadcast centroids and emits k partial-sum rows, NOT b rows), a
posexplode of the k*d partials, one hash aggregate, and one k*d-row
collect (k, d are operator constants — the components.py bounded-
scalar-collect contract). The corpus is scanned max_iter+1 times and
never shuffled; cache the quantized input when iterating many times.

k-means itself: Lloyd 1957 / MacQueen 1967 (public algorithm). The
reference has no clustering surface (numeric wavelet scripts only);
this is part of the engine's LLM-pipeline inventory (SURVEY.md §2.8).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.session import worker_kernel
from .sampling import vector_sample

SCALE = 1e6  # quantization: integer micro-units per input unit


_PARTIALS_SCHEMA = "cell int, n long, s array<bigint>, inertia_micro long"


def _assign_kernel(cent: np.ndarray):
    """mapInPandas kernel: per Arrow batch, assign rows to the nearest
    centroid and emit ONE partial row per non-empty cell: exact int64
    vector sums, counts, and floor-micro inertia (order-free BIGINTs).
    """
    c2 = (cent * cent).sum(axis=1)  # |c|^2, deterministic per cell

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.array(pdf["embedding"].tolist(), dtype=np.int64)
            Xf = X.astype(np.float64)  # exact: |x| << 2^53
            # sqdist = |x|^2 - 2 x.c + |c|^2 ; argmin ties -> lowest cell
            d = (Xf * Xf).sum(axis=1)[:, None] - 2.0 * (Xf @ cent.T) + c2
            a = np.argmin(d, axis=1)
            sq = d[np.arange(len(a)), a]
            out = []
            for cell in np.unique(a):
                m = a == cell
                out.append(
                    (
                        int(cell),
                        int(m.sum()),
                        X[m].sum(axis=0).tolist(),
                        int(np.floor(np.maximum(sq[m], 0.0) * 1e-6).sum()),
                    )
                )
            yield pd.DataFrame(
                out, columns=["cell", "n", "s", "inertia_micro"]
            )

    return gen


def _labels_kernel(cent: np.ndarray):
    """mapInPandas kernel: per row, the assigned cell and its floor-micro
    squared distance (same arithmetic as `_assign_kernel`)."""
    c2 = (cent * cent).sum(axis=1)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            Xf = np.array(pdf["embedding"].tolist(), dtype=np.int64).astype(
                np.float64
            )
            d = (Xf * Xf).sum(axis=1)[:, None] - 2.0 * (Xf @ cent.T) + c2
            a = np.argmin(d, axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].values,
                    "cell": a.astype(np.int32),
                    "sqdist_micro": np.floor(
                        np.maximum(d[np.arange(len(a)), a], 0.0) * 1e-6
                    ).astype(np.int64),
                }
            )

    return gen


def _iterate(
    emb: DataFrame, cent: np.ndarray
) -> tuple[np.ndarray, np.ndarray, int, int]:
    """One Lloyd step: (new_centroids, counts, inertia_micro, n_seen).
    Empty cells keep their previous centroid (the standard convention —
    re-seeding would break determinism)."""
    k, dim = cent.shape
    partials = emb.mapInPandas(
        worker_kernel(_assign_kernel(cent)),
        schema=_PARTIALS_SCHEMA,
    )
    agg = (
        partials.select(
            "cell",
            "n",
            "inertia_micro",
            F.posexplode("s").alias("d", "sd"),
        )
        .groupBy("cell", "d")
        .agg(
            F.sum("sd").alias("sd"),
            # n / inertia ride dim 0 so the collect stays one pass
            F.sum(F.when(F.col("d") == 0, F.col("n"))).alias("n"),
            F.sum(
                F.when(F.col("d") == 0, F.col("inertia_micro"))
            ).alias("im"),
        )
        .collect()
    )  # bounded: exactly k*dim rows
    sums = np.zeros((k, dim), dtype=np.int64)
    counts = np.zeros(k, dtype=np.int64)
    inertia = 0
    for r in agg:
        sums[r["cell"], r["d"]] = r["sd"]
        if r["d"] == 0:
            counts[r["cell"]] = r["n"]
            inertia += r["im"]
    new = cent.copy()
    nz = counts > 0
    new[nz] = sums[nz].astype(np.float64) / counts[nz, None]
    return new, counts, int(inertia), int(counts.sum())


def kmeans_fit(
    emb: DataFrame,
    k: int = 8,
    max_iter: int = 4,
) -> dict:
    """Fit k-means over an INTEGER vector column (quantize floats with
    ``quantized()`` first). Returns ``{"centroids": (k, dim) float64,
    "counts": (k,) int64, "inertia_micro": [per-iteration ints],
    "n": corpus size}``. Init: the k rows with the lowest
    ``xxhash64(vec_id, 42)`` (``sampling.vector_sample``: deterministic,
    scan-order-free, unbiased for hash-uniform ids).
    """
    cent = vector_sample(emb, k, 42)
    assert len(cent) >= 2, "k-means needs at least 2 rows"
    inertias: list[int] = []
    counts = None
    n = 0
    for _ in range(max_iter):
        cent, counts, inertia, n = _iterate(emb, cent)
        inertias.append(inertia)
    return {
        "centroids": cent,
        "counts": counts,
        "inertia_micro": inertias,
        "n": n,
    }


def kmeans_assign(emb: DataFrame, centroids: np.ndarray) -> DataFrame:
    """Label every row with its nearest centroid:
    ``(vec_id, cell, sqdist_micro)`` — one corpus pass, no shuffle."""
    return emb.select("vec_id", "embedding").mapInPandas(
        worker_kernel(
            _labels_kernel(np.asarray(centroids, dtype=np.float64))
        ),
        schema="vec_id bigint, cell int, sqdist_micro bigint",
    )


def quantized(emb: DataFrame) -> DataFrame:
    """Quantize a float vector column to exact integer micro-units
    (``SCALE``) — the determinism precondition for :func:`kmeans_fit`
    (unit-norm embeddings lose ~1/SCALE relative geometry, nothing a cluster
    boundary can feel; what it buys is order-free exact aggregation)."""
    return emb.withColumn(
        "embedding",
        F.transform(
            F.col("embedding"),
            lambda x: F.floor(x * F.lit(SCALE)).cast("bigint"),
        ),
    )
