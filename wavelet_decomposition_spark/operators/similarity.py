"""Approximate nearest-neighbor search over an embedding column.

- ``brute_force_topk`` — the correctness baseline: broadcast the (small)
  query set against the corpus, JVM-side dot products via
  ``zip_with``/``aggregate``, rank per query. One scan of the corpus, no
  corpus self-join. SQL-expressible (DuckDB list_dot_product oracle).
- ``lsh_topk`` — a scale path: random-hyperplane sign buckets built once
  over the corpus (data-independent coarse index); queries probe only their
  own bucket plus its hamming-1 neighbors (multi-probe), so per-query
  work is corpus/2^planes on average. Recall<1 by construction; the test
  measures recall against brute force.
- ``ivf_topk`` — the data-adaptive scale path: a spherical k-means coarse
  quantizer trained on a bounded driver-side sample partitions the corpus
  into cells (one JVM scan, no Python in the assignment); each query probes
  its ``n_probe`` nearest cells. Adapts to clustered data where
  data-oblivious hyperplanes waste probes.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..plans.session import worker_kernel
from .sampling import vector_sample


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def _norm(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
) -> DataFrame:
    """(query_id, vec_id, score, rank) — top-k per query by cosine.

    ``queries``: (query_id, embedding). The query side is broadcast — the
    corpus is scanned once and never shuffled until the per-query top-k
    (which AQE handles as a tiny aggregation)."""
    c = corpus.select(
        F.col("vec_id"), F.col("embedding").cast("array<double>").alias("cv")
    )
    q = queries.select(
        F.col("query_id"),
        F.col("embedding").cast("array<double>").alias("qv"),
    )
    joined = c.crossJoin(F.broadcast(q))
    score = _dot(F.col("cv"), F.col("qv")) / (
        _norm(F.col("cv")) * _norm(F.col("qv"))
    )
    scored = joined.select("query_id", "vec_id", score.alias("score"))
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def rrf_fuse(rank_a: DataFrame, rank_b: DataFrame, k: int = 10) -> DataFrame:
    """Reciprocal Rank Fusion (Cormack et al. 2009) of two rankings —
    the hybrid-search combiner behind every embedding+lexical RAG
    retriever: rrf(d) = sum over rankings of 1/(60 + rank_d), absent
    docs contribute 0. Inputs are (id, rank) frames; output is the
    fused top-k as (id, rank_a, rank_b, rrf), ordered and tie-broken
    on (rrf desc, id).

    Rank-based fusion needs no score calibration between modalities —
    that is the point of RRF — and with exactly two rankings the score
    is ONE two-term float expression per row (no aggregate), so the
    fused ranking is bit-identical in any IEEE engine given identical
    input ranks: the whole hybrid pipeline stays oracle-checkable.
    One full-outer join of two k-row frames (broadcast both sides),
    one top-k merge — negligible against the rankings themselves.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    a = rank_a.select(F.col("vec_id"), F.col("rank").alias("rank_a"))
    b = rank_b.select(F.col("vec_id"), F.col("rank").alias("rank_b"))
    contrib = lambda r: F.coalesce(  # noqa: E731
        1.0 / (F.lit(60.0) + F.col(r)), F.lit(0.0)
    )
    return (
        a.join(b, "vec_id", "full_outer")
        .select(
            "vec_id",
            "rank_a",
            "rank_b",
            (contrib("rank_a") + contrib("rank_b")).alias("rrf"),
        )
        .orderBy(F.desc("rrf"), "vec_id")
        .limit(k)
    )


def _bucket_expr(vec_col, planes: np.ndarray):
    vec = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    bits = [
        (
            _dot(vec, F.array(*[F.lit(float(w)) for w in planes[p]])) > 0
        ).cast("int") * (1 << p)
        for p in range(planes.shape[0])
    ]
    return sum(bits[1:], bits[0])


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    n_planes: int = 6,
) -> DataFrame:
    """Bucketed ANN over 64-d embeddings, the top 5 per query: corpus
    bucketed once by hyperplane signs; each query scores only its bucket
    and the hamming-1 buckets around it."""
    planes = np.random.default_rng(42).normal(size=(n_planes, 64))
    c = corpus.select(
        F.col("vec_id"),
        F.col("embedding").cast("array<double>").alias("cv"),
    ).withColumn("bucket", _bucket_expr("cv", planes))
    q = queries.select(
        F.col("query_id"),
        F.col("embedding").cast("array<double>").alias("qv"),
    ).withColumn("qbucket", _bucket_expr("qv", planes))
    probes = F.array(
        F.col("qbucket"),
        *[
            F.col("qbucket").bitwiseXOR(F.lit(1 << p))
            for p in range(n_planes)
        ],
    )
    q = q.select("query_id", "qv", F.explode(probes).alias("bucket"))
    joined = c.join(F.broadcast(q), "bucket")
    score = _dot(F.col("cv"), F.col("qv")) / (
        _norm(F.col("cv")) * _norm(F.col("qv"))
    )
    scored = joined.select("query_id", "vec_id", score.alias("score")).distinct()
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
    )


def train_coarse_quantizer(corpus: DataFrame) -> np.ndarray:
    """Spherical k-means centroids of 8 cells (unit rows, shape
    ``(min(8, n), dim)``).

    Training collects a BOUNDED, UNBIASED sample to the driver
    (``sampling.vector_sample``: 4096 rows — a few MB even at 10^12-row
    corpora, the same order as broadcasting the query set) and runs 10
    Lloyd iterations in numpy; the corpus itself is never collected.
    The cell count is clamped to the sample size; callers must use the
    returned ``C.shape[0]`` as the effective cell count."""
    X = vector_sample(corpus, 4096, 42)
    X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-30)
    n_cells = min(8, len(X))
    rng = np.random.default_rng(42)
    C = X[rng.choice(len(X), size=n_cells, replace=False)]
    for _ in range(10):
        assign = np.argmax(X @ C.T, axis=1)
        for j in range(n_cells):
            m = assign == j
            if m.any():
                C[j] = X[m].mean(axis=0)
        C = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-30)
    return C


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    n_probe: int = 3,
) -> DataFrame:
    """IVF-bucketed ANN, the top 5 per query: corpus assigned to its
    nearest of 8 centroid cells (:func:`train_coarse_quantizer`) in one
    JVM scan; each query scores only its ``n_probe`` nearest cells.

    Per-query work ≈ corpus * n_probe / 8. The cell assignment is a
    broadcast of the centroid literals — at cluster scale the scan
    stays embarrassingly parallel and nothing about the corpus is ever
    centralized."""
    C = train_coarse_quantizer(corpus)
    n_cells = C.shape[0]  # trainer clamps to the sample size
    n_probe = min(n_probe, n_cells)

    def _cent_dots(vec):
        return [
            _dot(vec, F.array(*[F.lit(float(x)) for x in C[j]]))
            for j in range(n_cells)
        ]

    cdots = F.array(*_cent_dots(F.col("cv")))
    corpus_cells = corpus.select(
        F.col("vec_id"),
        F.col("embedding").cast("array<double>").alias("cv"),
    ).withColumn(
        # argmax over the centroid dots; |cv| is constant per row so the
        # un-normalized dot ranks cells identically to cosine
        "cell",
        (F.array_position(cdots, F.array_max(cdots)) - 1).cast("int"),
    )

    qdots = _cent_dots(F.col("qv"))
    ranked = F.array_sort(
        F.array(*[
            F.struct((-qdots[j]).alias("nd"), F.lit(j).alias("c"))
            for j in range(n_cells)
        ])
    )
    probe_cells = F.transform(
        F.slice(ranked, 1, n_probe), lambda s: s["c"]
    )
    q = queries.select(
        F.col("query_id"),
        F.col("embedding").cast("array<double>").alias("qv"),
    ).select(
        "query_id", "qv", F.explode(probe_cells).alias("cell")
    )

    joined = corpus_cells.join(F.broadcast(q), "cell")
    score = _dot(F.col("cv"), F.col("qv")) / (
        _norm(F.col("cv")) * _norm(F.col("qv"))
    )
    scored = joined.select("query_id", "vec_id", score.alias("score"))
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
    )


def cosine_allpairs_exact(
    emb: DataFrame,
    scratch_dir: str,
    threshold: float = 0.5,
    tile_rows: int = 2_000_000,
) -> DataFrame:
    """EXACT all-pairs cosine >= threshold — (id_a, id_b, cosine) with
    id_a < id_b. The input to cluster contraction
    (``components.dedup_clusters``).

    Shape: one side of the O(n^2) product is collected ONCE into a dense
    unit-row numpy matrix and broadcast; the other side streams through
    ``mapInPandas`` where each Arrow batch does a single BLAS GEMM
    (``A_batch @ B.T``) and emits only the above-threshold pairs. This is
    10-100x the per-pair ``zip_with``/``aggregate`` form — Catalyst
    higher-order functions interpret the lambda per element with boxing,
    so a 64-dim dot costs ~100 allocations/pair, where the GEMM costs
    ~one fused multiply-add.

    Scale: exact all-pairs is inherently quadratic; the scalable structure
    is TILING, and the tiles live EXECUTOR-SIDE: the tile side is written
    ONCE to scratch parquet with each file capped at ``tile_rows`` rows
    (one file = one GEMM tile), and every task reads tile files itself
    through pyarrow. The driver never materializes the corpus — it only
    lists the tile file names — so there is no O(corpus) ``toPandas()``
    anywhere in the lineage (there was through round 4; at 10^8+ rows the
    driver transfer died before any tile ran). Per-task resident memory is
    one tile (tile_rows*dim*8 bytes) + its own input partition; the score
    block is cache-blocked at 512x1024 (4 MB) so a 10k-row batch against
    an 80k-row tile never materializes a multi-GB float panel (measured
    swapping the whole host in the unblocked form). Total tile-read IO is
    side_bytes * n_tasks — the textbook blocked outer-product cost, the
    price of exactness without a broadcast.

    ``scratch_dir``: where the tile parquet goes (overwritten) — must be
    reachable from every executor (local path in local mode; a shared FS /
    object-store URI on a cluster; anything
    ``pyarrow.fs.FileSystem.from_uri`` opens) and must stay in place until
    the returned frame has run.
    """
    import pandas as pd

    spark = emb.sparkSession
    (
        emb.select(F.col("vec_id").cast("bigint").alias("vec_id"), "embedding")
        .write.mode("overwrite")
        .option("maxRecordsPerFile", tile_rows)
        .parquet(scratch_dir)
    )

    def _fs_and_path(p):
        from pyarrow import fs as pafs

        if "://" in p:
            return pafs.FileSystem.from_uri(p)
        return pafs.LocalFileSystem(), p

    from pyarrow import fs as pafs

    fsys, base = _fs_and_path(scratch_dir)
    tile_files = sorted(
        fi.path
        for fi in fsys.get_file_info(pafs.FileSelector(base))
        if fi.path.endswith(".parquet")
    )

    def gen(batches):
        import pyarrow.parquet as pq

        # materialize this task's partition once so each tile file is read
        # once per TASK, not once per Arrow batch
        id_parts, a_parts = [], []
        for pdf in batches:
            if len(pdf):
                id_parts.append(pdf["vec_id"].to_numpy())
                a_parts.append(
                    np.array(pdf["embedding"].tolist(), dtype=np.float64)
                )
        if not a_parts:
            return
        ida = np.concatenate(id_parts)
        A = np.vstack(a_parts)
        A = A / np.maximum(np.linalg.norm(A, axis=1, keepdims=True), 1e-30)
        tfs, _ = _fs_and_path(scratch_dir)
        for fp in tile_files:
            t = pq.read_table(
                fp, columns=["vec_id", "embedding"], filesystem=tfs
            )
            if t.num_rows == 0:
                continue
            tid = t["vec_id"].to_numpy()
            flat = (
                t["embedding"].combine_chunks().flatten()
                .to_numpy(zero_copy_only=False)
            )
            T = np.ascontiguousarray(flat, dtype=np.float64).reshape(
                t.num_rows, -1
            )
            T = T / np.maximum(np.linalg.norm(T, axis=1, keepdims=True), 1e-30)
            # CACHE-blocked product: 512x1024 score blocks (4 MB) stay in
            # cache instead of streaming an n_batch x n_tile float panel
            # through DRAM — the unblocked form moves 16 bytes per pair
            # and is bandwidth-bound (measured 3.7x slower single-core and
            # it stops scaling with cores, 0.62 N->4N efficiency vs the
            # compute-bound blocked form)
            for alo in range(0, len(A), 512):
                Ab, ab_ids = A[alo:alo + 512], ida[alo:alo + 512]
                for tlo in range(0, len(T), 1024):
                    S = Ab @ T[tlo:tlo + 1024].T
                    ia, ib = np.nonzero(S >= threshold)
                    if not len(ia):
                        continue
                    a_ids = ab_ids[ia]
                    b_ids = tid[tlo:tlo + 1024][ib]
                    keep = a_ids < b_ids
                    if keep.any():
                        yield pd.DataFrame({
                            "id_a": a_ids[keep],
                            "id_b": b_ids[keep],
                            "cosine": S[ia[keep], ib[keep]],
                        })

    streamed = emb.select(
        F.col("vec_id").cast("bigint").alias("vec_id"), "embedding"
    ).repartition(spark.sparkContext.defaultParallelism)
    return streamed.mapInPandas(
        worker_kernel(gen), schema="id_a bigint, id_b bigint, cosine double"
    )
