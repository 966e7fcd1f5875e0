"""Vector queries: exact and approximate (LSH, IVF, PQ) top-k
search, hybrid rank fusion, k-means, PCA, near-duplicate clusters and
the multimodal plan.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

import numpy as np
from pyspark.sql import Window
from pyspark.sql import functions as F

from wavelet_decomposition_spark.operators import multimodal as mm
from wavelet_decomposition_spark.operators.components import dedup_clusters
from wavelet_decomposition_spark.operators.invindex import tokenize
from wavelet_decomposition_spark.operators.kmeans import (
    kmeans_assign,
    kmeans_fit,
    quantized,
)
from wavelet_decomposition_spark.operators.pca import pca_fit, pca_project
from wavelet_decomposition_spark.operators.pq import (
    l2_brute_topk,
    pq_decode_errors,
    pq_encode,
    pq_topk,
    train_pq_codebooks,
)
from wavelet_decomposition_spark.operators.similarity import (
    brute_force_topk,
    cosine_allpairs_exact,
    ivf_topk,
    lsh_topk,
    rrf_fuse,
)
from wavelet_decomposition_spark.queries import _docs, query, scratch_dir


@query(bench=True, designed_bnl=True)
def _q_ann_topk(spark, sf_dir):
    """Brute-force cosine top-5 for 3 query vectors (ANN baseline)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = brute_force_topk(emb, queries, k=5)
    return out.select(
        "query_id", "vec_id", F.round("score", 6).alias("score"), "rank"
    )


@query()
def _q_cosine_pairs(spark, sf_dir):
    """Exact embedding near-dup pairs (cosine >= 0.5) — the verification
    oracle for the LSH-bucketed variant."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    tiles = scratch_dir("cosine_tiles")
    pairs = cosine_allpairs_exact(emb, tiles, threshold=0.5)
    return pairs.select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))


@query(bench=True)
def _q_dedup_clusters(spark, sf_dir):
    """Near-dup CLUSTER formation: connected components (large-star/
    small-star, O(log n) rounds) over the exact cosine>=0.5 pair list,
    then one canonical keeper per cluster. The step every pairwise dedup
    pipeline needs before it can actually drop rows; oracle is a DuckDB
    recursive CTE computing min-reachable-id per node."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    pairs = _q_cosine_pairs(spark, sf_dir).select("id_a", "id_b")
    return dedup_clusters(
        emb.select("vec_id"), pairs, id_col="vec_id"
    ).select(
        "vec_id", "component", "cluster_size", "is_canonical"
    )


# designed nested-loop join: brute-force ANN's broadcast query-vector crossJoin
# (ann_topk's designed shape) feeding the fusion
@query(bench=True, designed_bnl=True)
def _q_hybrid_search_rrf(spark, sf_dir):
    """Hybrid search: Reciprocal Rank Fusion (operators/similarity.py
    rrf_fuse — Cormack et al. 2009) of a dense VECTOR ranking
    (brute-force cosine top-20 for query vec 0, the `ann_topk` scoring
    path) and a LEXICAL ranking (total tf of {spark, data, join},
    deterministic (tf desc, doc_id) tie-break, top-20) over the shared
    doc corpus (vec_id aligns 1:1 with doc_id). rrf = 1/(60+rank_v) +
    1/(60+rank_l), absent side contributes 0 — a single two-term float
    expression per row, so given identical ranks the fused ordering is
    bit-identical cross-engine and the WHOLE hybrid pipeline is
    DuckDB-oracle-checked (ranks, fusion scores, and final top-10).
    """
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qv = emb.where(F.col("vec_id") == 0).select(
        F.lit(0).alias("query_id"), "embedding"
    )
    vec_rank = brute_force_topk(emb, qv, k=20).select("vec_id", "rank")

    # top-20 FIRST (TakeOrderedAndProject: per-partition top-k + k-row
    # merge), then rank the 20 survivors — the global-window-then-filter
    # form would funnel the whole corpus through one task
    lex_rank = (
        tokenize(_docs(spark, sf_dir))
        .where(F.col("term").isin(["spark", "data", "join"]))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("_tf"))
        .orderBy(F.desc("_tf"), F.asc("doc_id"))
        .limit(20)
        .withColumn(
            "rank",
            F.row_number().over(
                Window.orderBy(F.desc("_tf"), F.asc("doc_id"))
            ),
        )
        .select(F.col("doc_id").alias("vec_id"), "rank")
    )
    # absent-from-ranking ships as rank 0, not NULL: a NULL float
    # column defeats order-insensitive value hashing (NaN hashes by
    # object identity in Python 3.10+), so the gate and driver compare
    # would false-mismatch on bit-identical outputs
    return rrf_fuse(vec_rank, lex_rank, k=10).select(
        F.col("vec_id").alias("doc_id"),
        F.coalesce("rank_a", F.lit(0)).alias("rank_vec"),
        F.coalesce("rank_b", F.lit(0)).alias("rank_lex"),
        "rrf",
    )


def _quantized_embeddings(spark, sf_dir):
    """The embeddings corpus ``(vec_id, embedding)`` in integer
    micro-units (``kmeans.quantized``). Not cached: each fit pass
    re-reads one projected parquet file, and a cached plan would be read
    by any later query that builds the same plan."""
    return quantized(
        spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
            "vec_id", "embedding"
        )
    )


@query(bench=True)
def _q_kmeans_clusters(spark, sf_dir):
    """Distributed Lloyd's k-means over the embeddings corpus
    (operators/kmeans.py) — semantic clustering for curation (domain
    discovery, cluster-balanced sampling). Iterative float algorithm —
    no SQL oracle; instead the run is made BIT-DETERMINISTIC (integer
    micro-unit quantization => exact order-free BIGINT partial sums,
    hash-seeded init, lowest-index argmin tie-break) and the gate
    asserts, riding every output row:

    ``refit_identical_ok``    a SECOND full fit reproduces every
                              centroid coordinate bit-for-bit and the
                              exact inertia ladder (the determinism
                              contract under AQE/repartition);
    ``inertia_monotone_ok``   the per-iteration inertia ladder never
                              increases (Lloyd's descent property —
                              a broken update or assignment cannot
                              keep the books balanced);
    ``final_step_ok``         relabeling against the FINAL centroids
                              costs no more than the last fit
                              iteration (one more Lloyd half-step can
                              only descend; floor-rounding slack =
                              corpus size);
    ``sizes_ok``              cluster sizes sum to the corpus count.

    Per iteration: one Arrow GEMM pass emitting k partial rows per
    batch, one k*dim hash aggregate, one bounded k*dim collect. The
    corpus never shuffles and never reaches the driver.
    """
    emb = _quantized_embeddings(spark, sf_dir)
    # the two fits are independent by construction (the refit-identical
    # invariant compares them) — run them as concurrent driver threads
    # (guide §2.6): each fit's Lloyd rounds are scheduling-latency-bound
    # small jobs, so the wall is max, not sum
    with ThreadPoolExecutor(max_workers=1) as _pool:
        _f2 = _pool.submit(
            lambda: kmeans_fit(emb, k=8, max_iter=4)
        )
        fit1 = kmeans_fit(emb, k=8, max_iter=4)
        fit2 = _f2.result()
    refit_ok = bool(
        np.array_equal(fit1["centroids"], fit2["centroids"])
        and fit1["inertia_micro"] == fit2["inertia_micro"]
    )
    ladder = fit1["inertia_micro"]
    monotone_ok = all(b <= a for a, b in zip(ladder, ladder[1:]))
    per_cell = (
        kmeans_assign(emb, fit1["centroids"])
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.sum("sqdist_micro").alias("inertia_contrib_micro"),
        )
    )

    w = Window.partitionBy()
    total_n = F.sum("n_points").over(w)
    total_inertia = F.sum("inertia_contrib_micro").over(w)
    return per_cell.select(
        "cell",
        "n_points",
        "inertia_contrib_micro",
        F.lit(refit_ok).alias("refit_identical_ok"),
        F.lit(monotone_ok).alias("inertia_monotone_ok"),
        (total_inertia <= F.lit(int(ladder[-1])) + total_n).alias(
            "final_step_ok"
        ),
        (total_n == F.lit(int(fit1["n"]))).alias("sizes_ok"),
    ).orderBy("cell")


# designed nested-loop join: 1-row broadcast residual-vs-trailing-eigenvalue
# invariant join onto the 16-row spectrum frame
@query(bench=True, designed_bnl=True)
def _q_pca_embeddings(spark, sf_dir):
    """Distributed PCA over the embeddings corpus (operators/pca.py) —
    one exact integer-statistics pass (packed-triangle Gram partials,
    DECIMAL(38,0) cross-batch sums), a driver eigh of the 64x64
    covariance, one Arrow projection pass. Iterative-free but float-
    spectral — no SQL oracle; the gate asserts, riding every row:

    ``refit_identical_ok``  a second fit under a DIFFERENT partitioning
                            reproduces every eigenvalue, component
                            coordinate, and mean bit-for-bit (the exact
                            integer-statistics contract);
    ``orthonormal_ok``      max |C C^T - I| < 1e-9;
    ``desc_ok``             eigenvalues non-increasing;
    ``resid_tail_ok``       the DISTRIBUTED mean squared projection
                            residual equals the sum of the trailing
                            48 eigenvalues to 1e-9 relative — the
                            identity that ties the Arrow projection
                            kernel to the driver eigensolve (a wrong
                            mean, transposed components, or a scaling
                            slip cannot balance it).

    Output: the top 16 components' spectrum (eigenvalue + explained
    variance ratio per component).
    """
    emb = _quantized_embeddings(spark, sf_dir)
    # independent fits (the refit invariant compares them) — overlap
    # them on driver threads, guide §2.6
    with ThreadPoolExecutor(max_workers=1) as _pool:
        _rf = _pool.submit(
            lambda: pca_fit(emb.repartition(13), n_components=16)
        )
        fit = pca_fit(emb, n_components=16)
        refit = _rf.result()
    refit_ok = bool(
        np.array_equal(fit["eigenvalues"], refit["eigenvalues"])
        and np.array_equal(fit["components"], refit["components"])
        and np.array_equal(fit["mean"], refit["mean"])
    )
    C = fit["components"]
    ortho_ok = bool(np.abs(C @ C.T - np.eye(len(C))).max() < 1e-9)
    ev = fit["eigenvalues"]
    desc_ok = bool(np.all(np.diff(ev) <= 1e-18))
    # project the SAME (quantized, descaled) data the fit saw so the
    # residual identity is float-exact, not quantization-smeared
    descaled = emb.withColumn(
        "embedding", F.transform("embedding", lambda v: v / F.lit(1e6))
    )
    tail = float(ev[len(C):].sum())
    resid_check = pca_project(descaled, fit["mean"], C).agg(
        (
            F.abs(F.avg("resid_sq") - F.lit(tail))
            <= 1e-9 * F.lit(max(tail, 1e-30))
        ).alias("_resid_ok")
    )
    total_var = float(ev.sum())
    spec = spark.createDataFrame(
        [
            (
                i,
                round(float(ev[i]), 9),
                round(float(ev[i] / total_var), 9),
            )
            for i in range(len(C))
        ],
        "component int, eigenvalue double, explained_ratio double",
    )
    return spec.crossJoin(F.broadcast(resid_check)).select(
        "component",
        "eigenvalue",
        "explained_ratio",
        F.lit(refit_ok).alias("refit_identical_ok"),
        F.lit(ortho_ok).alias("orthonormal_ok"),
        F.lit(desc_ok).alias("desc_ok"),
        F.col("_resid_ok").alias("resid_tail_ok"),
    ).orderBy("component")


@query()
def _q_multimodal_plan(spark, sf_dir):
    """Multimodal plumbing: synthetic binary assets -> resize plan +
    video frame-sampling plan + fake-feature extraction (decode stubbed).

    Now SELF-VERIFYING (round-3 verdict) — every row carries
    ``invariant_ok`` checking, against the asset's own metadata:
    - resize: dims unchanged when max(w,h) <= max_side, else the long side
      lands exactly on max_side and the aspect ratio is preserved to the
      rounding bound |tw*h - th*w| <= 0.5*(w+h);
    - frame plan: n_frames == floor(max(duration_ms-1,0)/every_ms) + 1 for
      video, 0 otherwise;
    - features: dimension == FEATURE_DIM and two independent extraction
      runs produce identical vectors (determinism — a nondeterministic or
      shape-broken UDF cannot pass)."""
    every_ms, max_side = 60_000, 512
    assets = mm.synthetic_assets(spark, 500, seed=42)
    meta = assets.select("asset_id", "width", "height", "duration_ms")
    resize = mm.resize_plan(assets, max_side=max_side)
    frames = (
        mm.frame_sample_plan(assets, every_ms=every_ms)
        .groupBy("asset_id")
        .agg(F.count(F.lit(1)).alias("n_frames"))
    )
    f1 = mm.extract_features(assets, fake=True).select(
        "asset_id", F.col("feature").alias("_f1")
    )
    f2 = mm.extract_features(assets, fake=True).select(
        "asset_id", F.col("feature").alias("_f2")
    )
    j = (
        resize.join(meta, "asset_id")
        .join(f1, "asset_id")
        .join(f2, "asset_id")
        .join(frames, "asset_id", "left")
        .fillna(0, subset=["n_frames"])
    )
    mx = F.greatest("width", "height")
    tw, th = F.col("target_width"), F.col("target_height")
    resize_ok = F.when(
        mx <= max_side, (tw == F.col("width")) & (th == F.col("height"))
    ).otherwise(
        (F.greatest(tw, th) == max_side)
        & (
            F.abs(tw * F.col("height") - th * F.col("width"))
            <= 0.5 * (F.col("width") + F.col("height"))
        )
    )
    frames_ok = F.when(
        F.col("kind") == "video",
        F.col("n_frames")
        == F.floor(
            F.greatest(F.col("duration_ms") - 1, F.lit(0)) / every_ms
        ) + 1,
    ).otherwise(F.col("n_frames") == 0)
    feat_ok = (F.size("_f1") == mm.FEATURE_DIM) & (F.col("_f1") == F.col("_f2"))
    return j.select(
        "asset_id",
        "kind",
        "target_width",
        "target_height",
        F.size("_f1").alias("feat_dim"),
        "n_frames",
        (resize_ok & frames_ok & feat_ok).alias("invariant_ok"),
    )


def _ann_with_recall_invariant(out, exact, recall_bound):
    """Attach an in-query correctness invariant to an approximate-ANN
    result (round-3 verdict): ``invariant_ok`` = (global recall vs the
    brute-force exact top-k >= recall_bound) AND (every query finds its OWN
    vector at rank 1 with cosine ~ 1 — the queries are corpus members).
    Computed via a full-outer join against the exact top-k plus window
    aggregates over the joined result, then filtered back to the
    approximate rows — a garbage bucketing, scoring, or ranking path
    cannot satisfy both. (The exact twin is a second scan of the small
    embeddings table — the brute-force baseline is itself an
    oracle-checked query, ``ann_topk``.)"""
    hits = exact.select("query_id", "vec_id", F.lit(1).alias("_hit"))
    j = out.join(hits, ["query_id", "vec_id"], "full_outer")
    wg = Window.partitionBy()
    wq = Window.partitionBy("query_id")
    found = F.sum(
        F.when(F.col("rank").isNotNull() & (F.col("_hit") == 1), 1).otherwise(0)
    ).over(wg)
    recall = found / F.sum(F.coalesce("_hit", F.lit(0))).over(wg)
    self_hit = F.max(
        (
            (F.col("vec_id") == F.col("query_id"))
            & (F.col("rank") == 1)
            & (F.col("score") > 0.999)
        ).cast("int")
    ).over(wq)
    return j.select(
        "query_id",
        "vec_id",
        F.round("score", 6).alias("score"),
        "rank",
        ((recall >= recall_bound) & (self_hit == 1)).alias("invariant_ok"),
    ).filter(F.col("rank").isNotNull())


@query(designed_bnl=True)
def _q_lsh_ann_topk(spark, sf_dir):
    """LSH-bucketed ANN (the scale path; brute-force ann_topk is its
    oracle-checked baseline). Self-verifying: recall >= 0.2 vs brute force
    — intentionally modest because the fixture's uniform-random embeddings
    are hyperplane LSH's worst case (neighbors barely correlate with sign
    buckets; measured recall 0.27-0.67 across sf) — plus the rank-1
    self-hit check, which garbage cannot pass at any recall."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = lsh_topk(emb, queries)
    exact = brute_force_topk(emb, queries, k=5)
    return _ann_with_recall_invariant(out, exact, recall_bound=0.2)


@query(designed_bnl=True)
def _q_ivf_ann_topk(spark, sf_dir):
    """IVF-bucketed ANN (data-adaptive scale path: spherical-kmeans coarse
    quantizer trained on a bounded sample, corpus cell assignment in one JVM
    scan, queries probe their n_probe nearest cells). With n_probe == n_cells
    it provably equals brute force (tests/test_dedup_similarity.py).
    Self-verifying: recall >= 0.6 vs brute force at n_probe/n_cells = 1/2
    (measured 0.73-1.0 across sf) plus the rank-1 self-hit check."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = ivf_topk(emb, queries, n_probe=4)
    exact = brute_force_topk(emb, queries, k=5)
    return _ann_with_recall_invariant(out, exact, recall_bound=0.6)


# designed nested-loop join: exact-L2 twin's broadcast query crossJoin (the
# ann_topk shape) + 1-row broadcast decode-dual-path invariant join
@query(bench=True, designed_bnl=True)
def _q_pq_ann_topk(spark, sf_dir):
    """Product-quantization ANN (operators/pq.py — Jégou et al. 2011):
    the compressed-domain leg of the retrieval family. Each 64-dim
    float32 vector becomes 16 codes (16:1 payload compression — at
    10^12 vectors the difference between scanning 100 TB and 6 TB);
    search is two-stage: ADC table-lookup shortlist (m gathers per
    candidate, no dot products) then exact L2 re-rank of the 100-row
    shortlist through one broadcast join. Rows-only; invariants riding
    every row:

    ``recall_ok``     recall@5 vs the exact L2 brute-force twin >= 0.7
                      (measured 1.0 at sf0.01/sf0.1; the fixture's
                      uniform-random embeddings are quantization's
                      WORST case — no cluster structure to spend the
                      codebook on, same caveat as lsh_ann_topk);
    ``self_hit_ok``   every query (a corpus member) re-ranks ITSELF to
                      rank 1 at exact distance 0;
    ``decode_ok``     a decode-and-rescore pass (gather codewords,
                      recompute ||x - recon||^2 from scratch) agrees
                      with the encoder's carried quantization error to
                      1 floor-micro ulp on EVERY corpus row — a
                      code/codebook mixup or subspace offset bug
                      cannot balance those books;
    ``reencode_ok``   re-encoding under a different partitioning yields
                      bit-identical codes (the determinism contract:
                      hash-pinned training sample, lowest-index argmin).
    """
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    books = train_pq_codebooks(emb, m=16, k=64, train_sample=2048, seed=42)
    # localCheckpoint, NOT cache: the codebooks differ per run (collected
    # training output), so a .cache() here can never be re-matched by a
    # later run's plan — each bench repeat stacked another orphaned cache
    # entry (measured: +1 persistent RDD and +1-2 s wall per repeat until
    # the session died); checkpointed RDDs are reclaimed by the
    # ContextCleaner when the query's references drop
    codes = pq_encode(emb, books).localCheckpoint()
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    approx = pq_topk(codes, books, queries, k=5, shortlist=100, corpus=emb)
    exact = l2_brute_topk(emb, queries, k=5)

    decode_ok = pq_decode_errors(emb, codes, books).agg(
        F.max(
            F.abs(F.col("qerr_micro") - F.col("qerr_decode_micro"))
        ).alias("_max_dev"),
        F.count(F.lit(1)).alias("_n"),
    )
    n_rows = emb.count()
    reencoded = pq_encode(emb.repartition(13), books)
    n_same = (
        codes.join(reencoded.withColumnRenamed("codes", "_c2"), "vec_id")
        .filter(F.col("codes") == F.col("_c2"))
        .count()
    )

    hits = exact.select("query_id", "vec_id", F.lit(1).alias("_hit"))
    j = approx.join(hits, ["query_id", "vec_id"], "full_outer")
    wg = Window.partitionBy()
    wq = Window.partitionBy("query_id")
    found = F.sum(
        F.when(F.col("rank").isNotNull() & (F.col("_hit") == 1), 1)
        .otherwise(0)
    ).over(wg)
    recall = found / F.sum(F.coalesce("_hit", F.lit(0))).over(wg)
    self_hit = F.min(
        F.when(
            F.col("rank") == 1,
            (
                (F.col("vec_id") == F.col("query_id"))
                & (F.col("adist") < 1e-9)
            ).cast("int"),
        )
    ).over(wq)
    return (
        j.select(
            "query_id",
            "vec_id",
            F.round("adist", 6).alias("adist"),
            "rank",
            (recall >= 0.7).alias("recall_ok"),
            (self_hit == 1).alias("self_hit_ok"),
        )
        .filter(F.col("rank").isNotNull())
        .crossJoin(F.broadcast(decode_ok))  # 1-row invariant frame
        .select(
            "query_id",
            "vec_id",
            "adist",
            "rank",
            "recall_ok",
            "self_hit_ok",
            (
                (F.col("_max_dev") <= 1) & (F.col("_n") == F.lit(n_rows))
            ).alias("decode_ok"),
            F.lit(n_same == n_rows).alias("reencode_ok"),
        )
    )
