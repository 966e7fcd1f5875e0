"""PageRank power iteration (operators/pagerank.py)."""

from pyspark.sql import functions as F

from wavelet_decomposition_spark.operators.pagerank import pagerank


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


def test_cycle_is_exactly_uniform(spark):
    # a k-cycle's fixed point is uniform 1/k for ANY damping, and the
    # uniform start stays uniform every iteration
    k = 5
    e = _edges(spark, [(i, (i + 1) % k) for i in range(k)])
    out = pagerank(e, damping=0.85, max_iter=5, tol=1e-15).collect()
    assert len(out) == k
    for r in out:
        assert abs(r.rank - 1.0 / k) < 1e-12


def test_mutual_pair_symmetric(spark):
    out = pagerank(
        _edges(spark, [(1, 2), (2, 1)]), max_iter=10
    ).collect()
    ranks = {r.node: r.rank for r in out}
    assert abs(ranks[1] - 0.5) < 1e-12 and abs(ranks[2] - 0.5) < 1e-12


def test_star_closed_form_and_mass(spark):
    # K spokes -> hub, hub dangling; damping 0.5 gives hub = 3/8 exactly
    e = _edges(spark, [(s, 1) for s in range(2, 12)])
    out = pagerank(e, damping=0.5, max_iter=30, tol=0.0).collect()
    ranks = {r.node: r.rank for r in out}
    assert abs(ranks[1] - 0.375) < 1e-7
    for s in range(2, 12):
        assert abs(ranks[s] - 0.0625) < 1e-7
    assert abs(sum(ranks.values()) - 1.0) < 1e-9


def test_duplicate_edges_collapse(spark):
    a = pagerank(_edges(spark, [(1, 2), (1, 2), (2, 1)]), max_iter=8)
    b = pagerank(_edges(spark, [(1, 2), (2, 1)]), max_iter=8)
    ra = {r.node: r.rank for r in a.collect()}
    rb = {r.node: r.rank for r in b.collect()}
    assert ra == rb


def test_empty_graph(spark):
    out = pagerank(
        _edges(spark, []).where(F.lit(False)), max_iter=3
    ).collect()
    assert out == []


def test_convergence_metadata(spark):
    out = pagerank(
        _edges(spark, [(1, 2), (2, 3), (3, 1)]), max_iter=50, tol=1e-3
    ).collect()
    # uniform start on a cycle converges immediately: one iteration
    assert all(r.n_iter == 1 and r.delta_l1 <= 1e-3 for r in out)


def test_null_endpoint_edges_dropped(spark):
    e = spark.createDataFrame(
        [(1, 2), (2, 1), (None, 3), (3, None)], "src long, dst long"
    )
    out = pagerank(e, max_iter=8).collect()
    # only the mutual pair remains; no NULL node row, mass still 1
    assert sorted(r.node for r in out) == [1, 2]
    assert abs(sum(r.rank for r in out) - 1.0) < 1e-12


def test_superseded_rounds_are_released(spark, rdds_left):
    """Each round's checkpoint is released once the next round's scalar
    collect has materialized it, so a run leaves as many persistent RDDs
    after 12 rounds as after 3 (the edge, node and final rank frames)."""
    e = _edges(spark, [(i, (i + 1) % 12) for i in range(12)] + [(0, 6), (3, 9)])
    left = {}
    for rounds in (3, 12):
        out = []
        left[rounds] = rdds_left(
            lambda: out.extend(pagerank(e, max_iter=rounds, tol=0.0).collect())
        )
        assert {r.n_iter for r in out} == {rounds}
    assert left[3] == left[12]
