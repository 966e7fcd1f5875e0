"""Distributed Lloyd's k-means (operators/kmeans.py) vs an exact numpy
re-implementation — the integer-quantized determinism contract makes
EXACT equality (not tolerance) the right assertion."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from wavelet_decomposition_spark.operators.kmeans import (
    kmeans_assign,
    kmeans_fit,
    quantized,
)


def _lloyd(X, cent, max_iter):
    X = X.astype(np.int64)
    cent = cent.astype(np.float64)
    inertias = []
    for _ in range(max_iter):
        Xf = X.astype(np.float64)
        d = (
            (Xf * Xf).sum(axis=1)[:, None]
            - 2.0 * (Xf @ cent.T)
            + (cent * cent).sum(axis=1)
        )
        a = np.argmin(d, axis=1)
        sq = np.maximum(d[np.arange(len(a)), a], 0.0)
        inertias.append(int(np.floor(sq * 1e-6).sum()))
        new = cent.copy()
        for c in range(cent.shape[0]):
            m = a == c
            if m.sum():
                new[c] = X[m].sum(axis=0).astype(np.float64) / m.sum()
        cent = new
    return cent, inertias


def _emb_df(spark, X):
    rows = [(i, [int(v) for v in x]) for i, x in enumerate(X)]
    return spark.createDataFrame(
        rows, "vec_id bigint, embedding array<bigint>"
    )


def test_fit_matches_numpy_lloyd(spark):
    rng = np.random.default_rng(5)
    X = rng.integers(-1_000_000, 1_000_000, size=(120, 8))
    df = _emb_df(spark, X)
    fit = kmeans_fit(df, k=4, max_iter=3)
    # recover the operator's hash init deterministically
    init_ids = [
        r["vec_id"]
        for r in df.select(
            "vec_id", F.xxhash64("vec_id", F.lit(42)).alias("h")
        )
        .orderBy("h", "vec_id")
        .limit(4)
        .collect()
    ]
    cent0 = X[init_ids].astype(np.float64)
    want_cent, want_inertia = _lloyd(X, cent0, 3)
    assert np.array_equal(fit["centroids"], want_cent)
    assert fit["inertia_micro"] == want_inertia
    assert fit["n"] == 120


def test_fit_is_partitioning_invariant(spark):
    rng = np.random.default_rng(9)
    X = rng.integers(-500_000, 500_000, size=(90, 6))
    df = _emb_df(spark, X)
    a = kmeans_fit(df, k=3, max_iter=3)
    b = kmeans_fit(df.repartition(7), k=3, max_iter=3)
    assert np.array_equal(a["centroids"], b["centroids"])
    assert a["inertia_micro"] == b["inertia_micro"]
    assert np.array_equal(a["counts"], b["counts"])


def test_inertia_monotone_and_assign_consistent(spark):
    rng = np.random.default_rng(13)
    # two well-separated blobs + noise
    X = np.vstack(
        [
            rng.integers(0, 100_000, size=(40, 4)),
            rng.integers(900_000, 1_000_000, size=(40, 4)),
        ]
    )
    df = _emb_df(spark, X)
    fit = kmeans_fit(df, k=2, max_iter=4)
    lad = fit["inertia_micro"]
    assert all(b <= a for a, b in zip(lad, lad[1:]))
    labels = kmeans_assign(df, fit["centroids"]).collect()
    assert len(labels) == 80
    # the two blobs are separated by the final clustering
    by_cell = {}
    for r in labels:
        by_cell.setdefault(r["cell"], set()).add(r["vec_id"])
    cells = list(by_cell.values())
    assert len(cells) == 2
    lo = {i for i in range(40)}
    assert lo in cells or (set(range(40, 80)) in cells)
    # relabeling against final centroids only descends (half-step)
    final_inertia = sum(r["sqdist_micro"] for r in labels)
    assert final_inertia <= lad[-1] + len(labels)


def test_empty_cells_keep_centroids(spark):
    # 3 distinct points, k=3, but two coincide after init spread —
    # force an empty cell by duplicating one point many times
    X = np.array([[0, 0]] * 50 + [[1_000_000, 1_000_000]] * 50)
    df = _emb_df(spark, X)
    fit = kmeans_fit(df, k=3, max_iter=3)
    assert fit["counts"].sum() == 100
    assert (fit["counts"] == 0).any()  # one cell starved
    assert np.isfinite(fit["centroids"]).all()


def test_quantized_floor_semantics(spark):
    df = spark.createDataFrame(
        [(1, [0.5, -0.5, 1.0 / 3.0])],
        "vec_id bigint, embedding array<double>",
    )
    [r] = quantized(df).collect()
    assert r["embedding"] == [500000, -500000, 333333]
