"""Distributed PCA over an embedding column — ONE exact pass of
sufficient statistics (count, coordinate sums, Gram matrix), a driver-
side eigendecomposition of the tiny dim x dim covariance, and one
projection pass. The dimensionality-reduction / whitening primitive of
an embedding-curation pipeline (variance auditing, decorrelated
features for downstream dedup thresholds, OPQ-style rotations), and
the spectral sibling of kmeans.py's clustering pass.

Scale shape (100 TB): PCA of n x d data needs only X^T X (d x d), the
column sums, and n — all map-side-combinable. Each Arrow batch runs
one (d x b)(b x d) integer matmul and emits ONE row: the packed upper
triangle (d(d+1)/2 entries) + sums + count. A single hash aggregate
reduces batches; the driver collects d(d+1)/2 + d + 1 scalars (2,145
at d=64 — operator constants, never corpus-sized) and runs `eigh` on
the 64 x 64 covariance. The corpus is scanned once for the fit and
once for the projection; nothing ever shuffles by row.

Determinism contract (kmeans.py discipline): inputs are quantized to
integer micro-units, so per-batch Gram partials are EXACT int64 (batch
products <= 1e16 < 2^63) and the cross-batch aggregate sums as
DECIMAL(38,0) — exact to 10^38, which covers 1e12 rows x 1e12 of
per-row product mass with 14 orders to spare. The eigensolve then sees
bit-identical input under ANY partitioning/AQE re-plan, so the whole
fit is reproducible (the driver query asserts this by refitting), and
eigenvector sign is pinned by making each component's
largest-magnitude coordinate positive.

The projection pass carries the textbook cross-check: with orthonormal
components, mean squared residual after keeping the top c components
equals the sum of the trailing d-c eigenvalues — a DISTRIBUTED
identity that ties the Arrow projection kernel to the driver
eigensolve (a wrong mean, a transposed component matrix, or a scaling
slip cannot balance it).

PCA itself: Pearson 1901 / Hotelling 1933 (public algorithm). The
reference has no spectral-factorization surface (per-series wavelet
scripts only); this extends the engine's LLM-pipeline inventory
(SURVEY.md §2.8).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.session import worker_kernel
from .kmeans import SCALE


def _stats_kernel(dim: int):
    """mapInPandas kernel: ONE partial-statistics row per Arrow batch —
    ``n`` (rows), ``s`` (coordinate sums, exact int64), ``g`` (packed
    upper-triangle Gram, exact int64). Integer matmul in 4096-row
    chunks keeps every partial exact."""
    iu = np.triu_indices(dim)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.array(pdf["embedding"].tolist(), dtype=np.int64)
            G = np.zeros((dim, dim), dtype=np.int64)
            for lo in range(0, len(X), 4096):
                B = X[lo:lo + 4096]
                G += B.T @ B
            yield pd.DataFrame(
                {
                    "n": [len(X)],
                    "s": [X.sum(axis=0).tolist()],
                    "g": [G[iu].tolist()],
                }
            )

    return gen


def pca_fit(emb: DataFrame, n_components: int = 16) -> dict:
    """Fit PCA over an INTEGER vector column (quantize floats with
    ``kmeans.quantized()`` first; its ``SCALE`` is used only to report
    results back in input units). Returns
    ``{"mean": (d,), "components": (c, d) rows orthonormal,
    "eigenvalues": (d,) descending — ALL d, in input units,
    "n": corpus rows}``.

    One corpus scan -> one hash aggregate of packed-triangle partials
    -> one bounded collect (d(d+1)/2 + d + 1 decimal scalars) -> driver
    ``eigh`` of the d x d population covariance (1/n convention).
    Exact integer statistics make the fit bit-reproducible under any
    partitioning — see module docstring.
    """
    first = emb.select("embedding").first()
    if first is None:
        raise ValueError("pca_fit on an empty DataFrame")
    dim = len(first[0])
    partials = emb.select("embedding").mapInPandas(
        worker_kernel(_stats_kernel(dim)),
        schema="n long, s array<bigint>, g array<bigint>",
    )
    # flatten (n | s | g) into one posexplode so ONE aggregate reduces
    # everything; sums go through decimal(38,0) for cross-batch exactness
    flat = partials.select(
        F.posexplode(
            F.concat(
                F.array(F.col("n")),
                F.col("s"),
                F.col("g"),
            )
        ).alias("i", "v")
    )
    rows = (
        flat.groupBy("i")
        .agg(F.sum(F.col("v").cast("decimal(38,0)")).alias("t"))
        .collect()
    )  # bounded: 1 + d + d(d+1)/2 rows
    tot = {r["i"]: int(r["t"]) for r in rows}
    n = tot[0]
    s = np.array([tot[1 + j] for j in range(dim)], dtype=np.float64)
    iu = np.triu_indices(dim)
    G = np.zeros((dim, dim), dtype=np.float64)
    G[iu] = [tot[1 + dim + t] for t in range(len(iu[0]))]
    G = G + np.triu(G, 1).T
    mean = s / n
    cov = G / n - np.outer(mean, mean)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1]
    evals = np.maximum(evals[order], 0.0)
    comps = evecs[:, order].T
    # deterministic sign: largest-|coordinate| entry of each row positive
    for r in range(dim):
        j = int(np.argmax(np.abs(comps[r])))
        if comps[r, j] < 0:
            comps[r] = -comps[r]
    return {
        "mean": mean / SCALE,
        "components": comps[:n_components],
        "eigenvalues": evals / (SCALE * SCALE),
        "n": n,
    }


def pca_project(
    emb: DataFrame,
    mean: np.ndarray,
    components: np.ndarray,
) -> DataFrame:
    """Project every FLOAT vector onto the fitted components:
    ``(vec_id, scores array<double>, resid_sq double)`` where
    ``resid_sq = ||x - mean||^2 - ||scores||^2`` (the exact residual
    for orthonormal rows). One Arrow pass, one (b x d)(d x c) GEMM per
    batch, no shuffle."""
    mean = np.asarray(mean, dtype=np.float64)
    C = np.asarray(components, dtype=np.float64)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.array(pdf["embedding"].tolist(), dtype=np.float64) - mean
            S = X @ C.T
            resid = np.maximum(
                (X * X).sum(axis=1) - (S * S).sum(axis=1), 0.0
            )
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].values,
                    "scores": list(S),
                    "resid_sq": resid,
                }
            )

    return emb.select("vec_id", "embedding").mapInPandas(
        worker_kernel(gen),
        schema="vec_id bigint, scores array<double>, resid_sq double",
    )
