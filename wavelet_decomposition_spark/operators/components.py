"""Connected components over near-duplicate pair lists — the step that
turns pairwise dedup output (MinHash/SimHash/cosine/bounded-Jaccard pairs,
`operators/dedup.py`) into actionable *clusters*: one canonical document
kept per component, the rest dropped. Every large-scale training-data
dedup pipeline ends with exactly this contraction; without it, pairwise
output under-removes (A~B, B~C but A!~C leaves two of the three).

Algorithm: alternating **large-star / small-star** (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14) expressed as
DataFrame ops:

- ``large-star``: for every node u, connect each *strictly larger*
  neighbor to the minimum of N(u) ∪ {u};
- ``small-star``: connect each neighbor ≤ u (and u itself) to that
  minimum.

Both steps are one ``explode``-free groupBy each (``min`` aggregate +
join back), monotonically shrink the sum of edge endpoints, and converge
in O(log n) rounds to a star forest: every node points at its component's
minimum id. Label propagation (the obvious alternative) needs O(diameter)
rounds — fatal on chain-shaped components that real shingle-overlap
graphs do contain.

Scale notes (100 TB): each round is two shuffles on node id; edges are
``distinct``-ed per round so the frontier only shrinks; per-round
``localCheckpoint`` truncates the lineage (an iterative plan otherwise
re-executes every prior round per action and overflows the optimizer).
High-degree hubs are exactly what large-star contracts first, so skew
*decreases* per round. The convergence check is one tiny aggregate per
round (count + endpoint-sum), not a collect of the edge set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..plans.session import release_checkpoint, worker_kernel

_MAX_ROUNDS = 50


def _star(e: DataFrame, large: bool) -> DataFrame:
    """One large- or small-star round over directed edges (u, v), u > v."""
    if large:
        # operate on the undirected neighborhood of every node
        nbrs = e.select("u", "v").unionAll(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        keep = F.col("v") > F.col("u")  # only strictly-larger neighbors move
    else:
        nbrs = e  # directed u > v: neighbors-below plus self
        keep = F.lit(True)
    m = nbrs.groupBy("u").agg(F.min("v").alias("_m"))
    m = m.withColumn("_m", F.least("u", "_m"))
    out = (
        nbrs.join(m, "u")
        .where(keep)
        .select(F.col("v").alias("u"), F.col("_m").alias("v"))
    )
    if not large:
        out = out.unionAll(m.select("u", F.col("_m").alias("v")))
    return (
        out.where(F.col("u") != F.col("v"))
        .select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        .distinct()
    )


def connected_components(edges: DataFrame) -> DataFrame:
    """(node, component) for every node appearing in the ``(id_a, id_b)``
    ``edges``; the component label is the minimum node id in the
    component.

    Raises ``RuntimeError`` if 50 rounds don't converge — with the
    O(log n) star contraction that means ~2**50 nodes, i.e. never.
    """
    e = (
        edges.select(
            F.col("id_a").cast("bigint").alias("u"),
            F.col("id_b").cast("bigint").alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    prev = None
    for _ in range(_MAX_ROUNDS):
        # lazy, like the input's: the signature aggregate below is the job
        # that materializes the round (an eager checkpoint is a second job)
        done = e
        e = _star(_star(e, large=True), large=False).localCheckpoint(
            eager=False
        )
        sig = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                F.expr("bit_xor(xxhash64(u, v))"), F.lit(0)
            ).alias("s"),
        ).collect()[0]
        # the collect materialized this round: the one it read is done
        release_checkpoint(done)
        cur = (sig["n"], sig["s"])
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(f"no convergence in {_MAX_ROUNDS} star rounds")
    # star forest: (u -> root) edges plus the roots themselves
    children = e.select(F.col("u").alias("node"), F.col("v").alias("component"))
    roots = e.select(F.col("v").alias("node")).distinct().withColumn(
        "component", F.col("node")
    )
    return children.unionByName(roots).distinct()


def triangle_stats(edges: DataFrame) -> DataFrame:
    """Exact triangle count + global clustering coefficient over an
    undirected graph — the third classic graph kernel beside
    :func:`connected_components` and operators/pagerank.py.

    Algorithm: degree-ordered orientation (the standard shuffle-safe
    form — Suri & Vassilvitskii's MR triangle counting): orient every
    undirected edge from the lower-(degree, id) endpoint to the higher,
    so each node's out-degree is bounded by ~sqrt(m) no matter how
    skewed the raw degrees are (a celebrity node never enumerates its
    fan pairs — its edges all point INTO it). Wedges are then a
    self-join of the oriented edge list on the source, and each
    triangle is counted exactly once when the wedge's two endpoints are
    themselves connected. Two shuffles (degree join, wedge-closing
    join); no Python.

    Returns ONE row: (n_nodes, n_edges, n_wedges, n_triangles,
    global_clustering) where n_wedges = sum C(deg, 2) over nodes and
    global_clustering = 3 * triangles / wedges (0.0 on a wedge-free
    graph) — both from exact integers, so the whole row is
    oracle-checkable bit-for-bit.

    DENSE-GRAPH fast path (r6): when the graph is small-and-dense
    (n_nodes <= 12k and density >= 2%), the wedge stream is the
    algorithm's worst case — on a complete K_n it enumerates C(n, 3)
    wedge rows (166M at n=1000; ~1.7e11 at n=10k) — while the whole
    adjacency matrix fits one executor task. There the count switches
    to blocked GEMM over a float32 adjacency built by STREAMING the
    edge batches into one task (never a driver collect):
    triangles = sum(A@A * A)/6 with every intermediate integer exact
    (cells <= n < 2^24 in float32; the final float64 block sums stay
    under 2^53). Sparse graphs keep the wedge join — its sqrt(m)
    out-degree bound is the right tool exactly when the wedge count is
    small relative to n^3.
    """
    e = (
        edges.select(
            F.col("id_a").cast("bigint").alias("u"),
            F.col("id_b").cast("bigint").alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .select(
            F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
        )
        .distinct()
        # the canonical edge list feeds FIVE distinct subtrees below (degree
        # table, edge count, orientation join, wedge self-join, closing
        # semi-join); without materialization Catalyst replicates the whole
        # upstream build per use (measured: 56 parquet scans / 146 exchanges
        # in one plan for the co-supply query) — one localCheckpoint makes
        # every consumer read the deduplicated edges once
        .localCheckpoint()
    )
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    base = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.coalesce(
            F.sum(F.col("deg") * (F.col("deg") - 1) / 2).cast("bigint"),
            F.lit(0),
        ).alias("n_wedges"),
    ).crossJoin(
        F.broadcast(e.agg(F.count(F.lit(1)).alias("n_edges")))
    )
    stats = base.collect()[0]
    n_nodes, n_edges = int(stats["n_nodes"]), int(stats["n_edges"])
    if n_nodes <= 12_000 and n_edges * 50 >= n_nodes * n_nodes:
        import numpy as np
        import pandas as pd

        # dense node index: a bounded collect of <= 12k node ids (the
        # same class as the centroid/Gram collects elsewhere), so the
        # executor kernel scatters edges fully vectorized
        node_arr = np.sort(
            np.array(
                [r["node"] for r in deg.select("node").collect()],
                dtype=np.int64,
            )
        )
        cap = int(node_arr.size)

        def _gemm_stream(batches):
            A = np.zeros((cap, cap), dtype=np.float32)
            for pdf in batches:
                iu = np.searchsorted(node_arr, pdf["u"].to_numpy())
                iv = np.searchsorted(node_arr, pdf["v"].to_numpy())
                A[iu, iv] = 1.0
                A[iv, iu] = 1.0
            total = 0.0
            blk = max(1, (64 << 20) // (4 * max(cap, 1)))  # ~64 MB blocks
            for s in range(0, cap, blk):
                C = A[s : s + blk] @ A
                total += float((C * A[s : s + blk]).sum(dtype=np.float64))
            yield pd.DataFrame(
                {"n_triangles": [int(round(total / 6.0))]}
            )

        tri = (
            e.coalesce(1)
            .mapInPandas(
                worker_kernel(_gemm_stream), schema="n_triangles bigint"
            )
        )
    else:
        tri = _wedge_triangles(e, deg)
    return base.crossJoin(F.broadcast(tri)).select(
        "n_nodes",
        "n_edges",
        "n_wedges",
        "n_triangles",
        F.when(F.col("n_wedges") == 0, F.lit(0.0))
        .otherwise(
            3.0 * F.col("n_triangles") / F.col("n_wedges")
        )
        .alias("global_clustering"),
    )


def _wedge_triangles(e: DataFrame, deg: DataFrame) -> DataFrame:
    """Degree-ordered-orientation wedge count (the sparse-graph path of
    :func:`triangle_stats`): one row, ``n_triangles``."""
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("dv"))
    lower_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    o = (
        e.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(lower_first, F.col("u"))
            .otherwise(F.col("v"))
            .alias("src"),
            F.when(lower_first, F.col("v"))
            .otherwise(F.col("u"))
            .alias("dst"),
        )
        # both sides of the wedge self-join; same materialize-once argument
        # as ``e`` (the oriented list is m 16-byte rows)
        .localCheckpoint()
    )
    o2 = o.select(F.col("src"), F.col("dst").alias("dst2"))
    wedges = o.join(o2, "src").where(F.col("dst") < F.col("dst2"))
    return wedges.join(
        e,
        (F.least("dst", "dst2") == F.col("u"))
        & (F.greatest("dst", "dst2") == F.col("v")),
        "left_semi",
    ).agg(F.count(F.lit(1)).alias("n_triangles"))


def dedup_clusters(
    nodes: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Cluster assignment for EVERY node (singletons label themselves):
    (id, component, cluster_size, is_canonical). Canonical = the minimum
    id in the cluster — swap in a quality-ranked ``min_by`` upstream if
    the keep-policy is "best doc wins" rather than "first doc wins"."""
    cc = connected_components(pairs)
    out = (
        nodes.select(F.col(id_col).cast("bigint").alias("node"))
        .join(cc, "node", "left")
        .select(
            F.col("node").alias(id_col),
            F.coalesce("component", "node").alias("component"),
        )
    )
    w = Window.partitionBy("component")
    return out.select(
        id_col,
        "component",
        F.count(F.lit(1)).over(w).alias("cluster_size"),
        (F.col(id_col) == F.col("component")).alias("is_canonical"),
    )
