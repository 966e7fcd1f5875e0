"""Product quantization (PQ) — compressed-domain embedding storage and
asymmetric-distance ANN search (Jégou, Douze, Schmid, "Product
Quantization for Nearest Neighbor Search", TPAMI 2011 — public
algorithm). The third leg of the retrieval family in similarity.py:
LSH buckets (data-oblivious) and IVF cells (coarse, data-adaptive)
shrink WHO you score; PQ shrinks WHAT you store and HOW a score costs —
each d-dim float32 vector becomes ``m`` uint8 codes (d*4/m : 1
compression, 32:1 at d=64/m=8), and a query scores a code row with
``m`` table lookups instead of a d-term dot product. This is how
10^9-10^12 vector corpora fit in cluster RAM at all; at 100 TB of raw
embeddings the PQ codebook is the difference between scanning 100 TB
and scanning 3 TB.

Shape (the 100-TB story):
- *Train*: per-subspace Lloyd's k-means in numpy on a BOUNDED driver
  sample (the ``train_coarse_quantizer`` contract: ``train_sample``
  lowest seeded-xxhash64 rows — deterministic, scan-order-free,
  unbiased; a few MB at any corpus size). Codebooks are m*k*dsub
  floats — broadcast literals.
- *Encode*: one ``mapInPandas`` pass over the corpus; each Arrow batch
  runs m tiny (b x dsub) @ (dsub x k) GEMMs and emits codes. No
  shuffle, no driver materialization, embarrassingly parallel.
- *Search (ADC)*: queries are collected (bounded — the query set is
  the small side by contract, same as every *_topk here), their m x k
  lookup tables computed once on the driver and closed over; each
  Arrow batch gathers-and-sums LUT entries (pure numpy fancy-indexing,
  no GEMM at all) and emits only its per-query partial top-``shortlist``
  — global fan-in is n_batches * n_queries * shortlist rows, never the
  corpus. An optional exact re-rank joins the shortlist (broadcast)
  back to the raw vectors and rescores k out of shortlist — the
  standard two-stage shape that buys back most of the quantization
  recall loss for one bounded join.

Determinism contract (what makes this gate-able): training reads a
hash-pinned sample; Lloyd init takes the first k rows of the
hash-ordered sample; ``np.argmin`` breaks code/center ties at the
lowest index; empty cells keep their previous center. Encoding and ADC
scoring are then pure per-row functions of (vector, codebooks) —
bit-identical under any partitioning, AQE re-plan, or rerun (the
driver query asserts this by re-encoding).

The reference has no retrieval surface (numeric wavelet scripts only);
this is part of the engine's LLM-pipeline inventory (SURVEY.md §2.8).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..plans.session import worker_kernel
from .sampling import vector_sample


def train_pq_codebooks(
    corpus: DataFrame,
    m: int = 8,
    k: int = 16,
    train_sample: int = 2048,
    seed: int = 42,
) -> np.ndarray:
    """Per-subspace Lloyd codebooks, shape ``(m, k_eff, dim//m)`` float64.

    The vector dim must divide evenly into ``m`` subspaces. ``k`` is
    clamped to the sample size (callers must use the returned shape[1]).
    Sample selection and iteration are exactly the
    ``similarity.train_coarse_quantizer`` discipline — bounded driver
    sample (``sampling.vector_sample``), deterministic under
    partitioning — specialized to m independent dsub-dim fits instead of
    one spherical fit.
    """
    X = vector_sample(corpus, train_sample, seed)
    n, dim = X.shape
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    k = min(k, n)
    dsub = dim // m
    books = np.empty((m, k, dsub), dtype=np.float64)
    for j in range(m):
        S = X[:, j * dsub:(j + 1) * dsub]
        C = S[:k].copy()  # sample is hash-ordered: first k = seeded init
        for _ in range(10):  # Lloyd iterations
            d = (
                (S * S).sum(axis=1)[:, None]
                - 2.0 * (S @ C.T)
                + (C * C).sum(axis=1)
            )
            a = np.argmin(d, axis=1)  # ties -> lowest code
            for c in range(k):
                sel = a == c
                if sel.any():
                    C[c] = S[sel].mean(axis=0)
        books[j] = C
    return books


def _encode_kernel(books: np.ndarray):
    """mapInPandas kernel: per row, the m nearest-codeword indices plus
    the exact total squared quantization error in floor-micro units
    (sum over subspaces of the min squared distance — the number a
    decode-and-rescore pass must reproduce)."""
    m, k, dsub = books.shape
    c2 = [(books[j] * books[j]).sum(axis=1) for j in range(m)]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            codes = np.empty((len(X), m), dtype=np.int32)
            qerr = np.zeros(len(X), dtype=np.float64)
            for j in range(m):
                S = X[:, j * dsub:(j + 1) * dsub]
                d = (
                    (S * S).sum(axis=1)[:, None]
                    - 2.0 * (S @ books[j].T)
                    + c2[j]
                )
                codes[:, j] = np.argmin(d, axis=1)
                qerr += np.maximum(d[np.arange(len(S)), codes[:, j]], 0.0)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].values,
                    "codes": list(codes),
                    "qerr_micro": np.floor(qerr * 1e6).astype(np.int64),
                }
            )

    return gen


def pq_encode(corpus: DataFrame, books: np.ndarray) -> DataFrame:
    """Compress every vector to its PQ codes: ``(vec_id, codes
    array<int>, qerr_micro bigint)`` — one corpus pass, no shuffle.
    ``qerr_micro`` is the exact (floor-micro) squared reconstruction
    error, carried so a decode pass can verify the encode."""
    return corpus.select("vec_id", "embedding").mapInPandas(
        worker_kernel(_encode_kernel(books)),
        schema="vec_id bigint, codes array<int>, qerr_micro bigint",
    )


def pq_decode_errors(
    corpus: DataFrame,
    codes: DataFrame,
    books: np.ndarray,
) -> DataFrame:
    """Dual-path verification: join codes back to the raw vectors,
    DECODE (gather codewords, concatenate) and recompute the squared
    reconstruction error from scratch: ``(vec_id, qerr_micro,
    qerr_decode_micro)``. A code/codebook mixup, a subspace offset bug,
    or a wrong argmin cannot keep the two columns equal. One broadcast-
    able equi-join + one Arrow pass."""
    m, k, dsub = books.shape
    joined = corpus.select("vec_id", "embedding").join(codes, "vec_id")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            C = np.array(pdf["codes"].tolist(), dtype=np.int64)
            R = np.concatenate(
                [books[j][C[:, j]] for j in range(m)], axis=1
            )
            err = ((X - R) ** 2).sum(axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].values,
                    "qerr_micro": pdf["qerr_micro"].values,
                    "qerr_decode_micro": np.floor(err * 1e6).astype(
                        np.int64
                    ),
                }
            )

    return joined.mapInPandas(
        worker_kernel(gen),
        schema=(
            "vec_id bigint, qerr_micro bigint, qerr_decode_micro bigint"
        ),
    )


def pq_topk(
    codes: DataFrame,
    books: np.ndarray,
    queries: DataFrame,
    k: int = 10,
    shortlist: int | None = None,
    corpus: DataFrame | None = None,
) -> DataFrame:
    """ADC top-k per query over the compressed corpus:
    ``(query_id, vec_id, adist, rank)`` by ascending approximate squared
    L2 distance (ties -> lowest vec_id).

    With ``corpus`` given, runs the standard two-stage refine: ADC
    shortlists ``shortlist`` (default ``4*k``) candidates per query,
    the raw vectors of the shortlist are fetched through one broadcast
    equi-join, and the final top-k is EXACT L2 over that shortlist
    (``adist`` is then the exact squared distance). Per-batch partial
    top-shortlist keeps the fan-in at n_batches * n_queries * shortlist
    rows regardless of corpus size.
    """
    shortlist = max(k, shortlist or 4 * k)
    m, nk, dsub = books.shape
    qrows = queries.select("query_id", "embedding").collect()  # bounded side
    qids = np.array([r["query_id"] for r in qrows], dtype=np.int64)
    Q = np.array([r["embedding"] for r in qrows], dtype=np.float64)
    # m x k LUT per query: ||q_j - c||^2 per codeword
    luts = np.empty((len(Q), m, nk), dtype=np.float64)
    for j in range(m):
        Sq = Q[:, j * dsub:(j + 1) * dsub]
        luts[:, j, :] = (
            (Sq * Sq).sum(axis=1)[:, None]
            - 2.0 * (Sq @ books[j].T)
            + (books[j] * books[j]).sum(axis=1)
        )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            C = np.array(pdf["codes"].tolist(), dtype=np.int64)
            ids = pdf["vec_id"].to_numpy()
            # scores[q, r] = sum_j luts[q, j, C[r, j]] — m row-gathers
            scores = np.zeros((len(Q), len(C)), dtype=np.float64)
            for j in range(m):
                scores += luts[:, j, :][:, C[:, j]]
            top = min(shortlist, scores.shape[1])
            part = np.argpartition(scores, top - 1, axis=1)[:, :top]
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(qids, top),
                    "vec_id": ids[part.ravel()],
                    "adist": np.take_along_axis(
                        scores, part, axis=1
                    ).ravel(),
                }
            )

    cand = codes.mapInPandas(
        worker_kernel(gen),
        schema="query_id bigint, vec_id bigint, adist double",
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adist"), F.asc("vec_id")
    )
    if corpus is None:
        return (
            cand.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
        )
    # exact re-rank: global ADC shortlist -> fetch raw vectors -> exact L2
    short = (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= shortlist)
        .select("query_id", "vec_id")
    )
    qdf = queries.select(
        F.col("query_id").cast("bigint").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("_qv"),
    )
    exact = (
        corpus.select(
            F.col("vec_id").cast("bigint").alias("vec_id"),
            F.col("embedding").cast("array<double>").alias("_cv"),
        )
        .join(F.broadcast(short), "vec_id")
        .join(F.broadcast(qdf), "query_id")
        .select(
            "query_id",
            "vec_id",
            F.aggregate(
                F.zip_with(
                    F.col("_qv"), F.col("_cv"), lambda a, b: (a - b) * (a - b)
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ).alias("adist"),
        )
    )
    return (
        exact.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def l2_brute_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
) -> DataFrame:
    """Exact L2 top-k baseline (the recall denominator for PQ):
    ``(query_id, vec_id, dist, rank)`` — broadcast queries, one corpus
    scan, JVM-side arithmetic (the ``brute_force_topk`` shape with the
    squared-distance metric)."""
    c = corpus.select(
        F.col("vec_id"),
        F.col("embedding").cast("array<double>").alias("_cv"),
    )
    q = queries.select(
        F.col("query_id"),
        F.col("embedding").cast("array<double>").alias("_qv"),
    )
    dist = F.aggregate(
        F.zip_with(
            F.col("_qv"), F.col("_cv"), lambda a, b: (a - b) * (a - b)
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("dist"), F.asc("vec_id"))
    return (
        c.crossJoin(F.broadcast(q))
        .select("query_id", "vec_id", dist.alias("dist"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
