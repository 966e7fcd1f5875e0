"""Connected components: parity vs a driver-side union-find oracle on
random graphs, long chains (the O(diameter) killer for label propagation),
and the cluster/canonical semantics of dedup_clusters."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F


from wavelet_decomposition_spark.operators.components import (
    connected_components,
    dedup_clusters,
)


def _union_find(n_nodes, edges):
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical label = min node id in component
    comp = {}
    for v in range(n_nodes):
        r = find(v)
        comp.setdefault(r, v)  # nodes visited in increasing order
    return {v: comp[find(v)] for v in range(n_nodes)}


@pytest.mark.parametrize("seed,n,m", [(3, 60, 40), (7, 200, 150), (11, 80, 300)])
def test_cc_matches_union_find(spark, seed, n, m):
    rng = np.random.default_rng(seed)
    edges = [
        (int(a), int(b))
        for a, b in rng.integers(0, n, size=(m, 2))
        if a != b
    ]
    pdf = pd.DataFrame(edges, columns=["id_a", "id_b"]).astype(np.int64)
    got = {
        r["node"]: r["component"]
        for r in connected_components(spark.createDataFrame(pdf)).collect()
    }
    exp = _union_find(n, edges)
    touched = {v for e in edges for v in e}
    assert set(got) == touched
    for v in touched:
        assert got[v] == exp[v], f"node {v}"


def test_cc_long_chain(spark):
    """A 400-node path: diameter 400, but star contraction converges in
    O(log n) rounds — this is the case that rules out label propagation."""
    n = 400
    pdf = pd.DataFrame(
        {"id_a": np.arange(n - 1), "id_b": np.arange(1, n)}
    ).astype(np.int64)
    cc = connected_components(spark.createDataFrame(pdf)).toPandas()
    assert len(cc) == n
    assert (cc["component"] == 0).all()


def test_cc_superseded_rounds_are_released(spark, rdds_left):
    """Each star round's checkpoint is released once the next round's
    signature collect has materialized it: a 200-node chain, which takes
    more rounds, leaves as many persistent RDDs as a 4-node chain."""
    left = {}
    for n in (4, 200):
        src = spark.createDataFrame(
            pd.DataFrame({"id_a": np.arange(n), "id_b": np.arange(1, n + 1)}).astype(np.int64)
        )
        out = []
        left[n] = rdds_left(lambda: out.extend(connected_components(src).collect()))
        assert len(out) == n + 1 and {r.component for r in out} == {0}
    assert left[4] == left[200]


def _cc_jobs(spark, src, group):
    """Spark jobs one connected_components run over ``src`` takes."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "connected_components jobs")
    try:
        cc = connected_components(src).toPandas()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert (cc["component"] == 0).all()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_cc_checkpoints_add_no_job(spark, monkeypatch):
    """Every star round (and the input edge list) is checkpointed lazily, so
    each round's signature aggregate is the job that materializes it: made
    eager, the checkpoints add exactly one job each (17-node chain, 5
    rounds: 6 more jobs)."""
    from wavelet_decomposition_spark.operators import components

    n = 17
    src = spark.createDataFrame(
        pd.DataFrame({"id_a": np.arange(n - 1), "id_b": np.arange(1, n)}).astype(np.int64)
    )
    stars = []
    star = components._star
    monkeypatch.setattr(
        components, "_star", lambda e, large: stars.append(large) or star(e, large)
    )
    lazy = _cc_jobs(spark, src, "test_cc_lazy")
    rounds = len(stars) // 2
    checkpoint = type(src).localCheckpoint
    monkeypatch.setattr(
        type(src), "localCheckpoint", lambda self, eager=True, storageLevel=None: checkpoint(self, True, storageLevel)
    )
    eager = _cc_jobs(spark, src, "test_cc_eager")
    assert rounds > 1 and eager - lazy == rounds + 1


def test_dedup_clusters_singletons_and_canonical(spark):
    nodes = spark.createDataFrame(
        pd.DataFrame({"doc_id": np.arange(10, dtype=np.int64)})
    )
    pairs = spark.createDataFrame(
        pd.DataFrame(
            {"id_a": np.int64([1, 2, 7]), "id_b": np.int64([2, 3, 8])}
        )
    )
    out = (
        dedup_clusters(nodes, pairs)
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    assert len(out) == 10
    # cluster {1,2,3} -> component 1; {7,8} -> 7; everything else singleton
    assert list(out["component"]) == [0, 1, 1, 1, 4, 5, 6, 7, 7, 9]
    assert list(out["cluster_size"]) == [1, 3, 3, 3, 1, 1, 1, 2, 2, 1]
    assert out["is_canonical"].sum() == 7  # one keeper per cluster
    assert (
        out[out["is_canonical"]].index == out[out["is_canonical"]]["component"]
    ).all()


def test_triangle_stats_complete_graph(spark):
    from wavelet_decomposition_spark.operators.components import (
        triangle_stats,
    )

    # K4: 6 edges, 4 triangles, 12 wedges, clustering exactly 1.0
    e = [(a, b) for a in range(4) for b in range(4) if a < b]
    out = triangle_stats(
        spark.createDataFrame(e, "id_a long, id_b long")
    ).collect()[0]
    assert (out.n_nodes, out.n_edges, out.n_wedges, out.n_triangles) == (
        4, 6, 12, 4,
    )
    assert out.global_clustering == 1.0


def test_triangle_stats_star_and_path_have_none(spark):
    from wavelet_decomposition_spark.operators.components import (
        triangle_stats,
    )

    star = [(0, i) for i in range(1, 6)]
    out = triangle_stats(
        spark.createDataFrame(star, "id_a long, id_b long")
    ).collect()[0]
    assert out.n_triangles == 0 and out.n_wedges == 10
    assert out.global_clustering == 0.0


def test_triangle_stats_dedups_and_ignores_direction(spark):
    from wavelet_decomposition_spark.operators.components import (
        triangle_stats,
    )

    # one triangle given with duplicates, reversed edges, self-loop
    e = [(1, 2), (2, 1), (2, 3), (3, 1), (1, 3), (2, 2)]
    out = triangle_stats(
        spark.createDataFrame(e, "id_a long, id_b long")
    ).collect()[0]
    assert (out.n_edges, out.n_triangles) == (3, 1)


def test_triangle_stats_gemm_equals_wedge_path(spark):
    """r6: the dense-graph GEMM fast path must produce the identical
    exact row as the sparse wedge-join path. A seeded G(60, 0.4) random
    graph is dense enough to take the GEMM gate; the wedge path is
    invoked directly on the same canonical edges for comparison."""
    import numpy as np
    from pyspark.sql import functions as F

    from wavelet_decomposition_spark.operators.components import (
        _wedge_triangles,
        triangle_stats,
    )

    rng = np.random.default_rng(11)
    edges = [
        (int(i), int(j))
        for i in range(60)
        for j in range(i + 1, 60)
        if rng.random() < 0.4
    ]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    out = triangle_stats(df).collect()[0]
    # density check: the gate must have chosen GEMM for this fixture
    assert out.n_edges * 50 >= out.n_nodes * out.n_nodes

    e = (
        df.select(
            F.least("id_a", "id_b").alias("u"),
            F.greatest("id_a", "id_b").alias("v"),
        )
        .distinct()
        .localCheckpoint()
    )
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    wedge_tri = _wedge_triangles(e, deg).collect()[0]["n_triangles"]
    assert out.n_triangles == wedge_tri
    # and against a pure-numpy brute force
    n = 60
    A = np.zeros((n, n))
    for a, b in edges:
        A[a, b] = A[b, a] = 1
    assert out.n_triangles == int(round((A @ A * A).sum() / 6))
