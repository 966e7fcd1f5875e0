"""Prefix fingerprints, shared-prefix groups, and the planted-fork
transcript generator: hand-computed md5s, depth-eligibility rules, and
exact fork-family recovery."""

import hashlib

import numpy as np
import pytest


def _md5(tokens):
    return hashlib.md5("\x1f".join(tokens).encode()).hexdigest()


def test_fingerprints_hand_computed(spark):
    from wavelet_decomposition_spark.operators.prefixes import (
        prefix_fingerprints,
    )

    df = spark.createDataFrame(
        [
            ("a", 0, "x"), ("a", 1, "y"), ("a", 2, "z"),
            ("b", 0, "x"), ("b", 1, "y"),
            ("c", 0, "q"),
        ],
        "g string, i int, t string",
    )
    got = {
        (r.g, r.depth): r.prefix_hash
        for r in prefix_fingerprints(df, "g", "i", "t", depths=(1, 2, 3))
        .collect()
    }
    assert got[("a", 1)] == _md5(["x"])
    assert got[("a", 2)] == _md5(["x", "y"])
    assert got[("a", 3)] == _md5(["x", "y", "z"])
    assert got[("b", 2)] == _md5(["x", "y"])
    # b has only 2 elements: no depth-3 fingerprint; c only depth-1
    assert ("b", 3) not in got
    assert ("c", 2) not in got and ("c", 1) in got
    # a and b share depths 1 and 2
    assert got[("a", 1)] == got[("b", 1)]
    assert got[("a", 2)] == got[("b", 2)]


def test_order_is_the_declared_total_order(spark):
    from wavelet_decomposition_spark.operators.prefixes import (
        prefix_fingerprints,
    )

    # rows arrive shuffled; order_col must win
    df = spark.createDataFrame(
        [("a", 2, "z"), ("a", 0, "x"), ("a", 1, "y")],
        "g string, i int, t string",
    ).repartition(3)
    got = prefix_fingerprints(df, "g", "i", "t", depths=(3,)).first()
    assert got.prefix_hash == _md5(["x", "y", "z"])


def test_bad_depths_raise(spark):
    from wavelet_decomposition_spark.operators.prefixes import (
        prefix_fingerprints,
    )

    df = spark.createDataFrame([("a", 0, "x")], "g string, i int, t string")
    with pytest.raises(ValueError):
        prefix_fingerprints(df, "g", "i", "t", depths=(0, 1))
    with pytest.raises(ValueError):
        prefix_fingerprints(df, "g", "i", "t", depths=())


def test_shared_groups_counts_and_members(spark):
    from wavelet_decomposition_spark.operators.prefixes import (
        prefix_fingerprints,
        shared_prefix_groups,
    )

    df = spark.createDataFrame(
        [
            ("a", 0, "x"), ("b", 0, "x"), ("c", 0, "x"), ("d", 0, "y"),
        ],
        "g string, i int, t string",
    )
    fp = prefix_fingerprints(df, "g", "i", "t", depths=(1,))
    rows = shared_prefix_groups(fp, "g", with_members=True).collect()
    assert len(rows) == 1  # only the x-prefix group reaches min_size
    assert rows[0].n_members == 3
    assert list(rows[0].members) == ["a", "b", "c"]


def test_forked_transcripts_plant_exact_prefixes(spark):
    from wavelet_decomposition_spark.io.transcripts import (
        fork_metadata,
        transcripts_df,
        transcripts_pandas,
    )

    n, nf = 40, 12
    tx = transcripts_df(spark, n, seed=7, n_forks=nf).toPandas()
    base = transcripts_pandas(n + nf, seed=7)
    meta = fork_metadata(n, nf, seed=7)
    by_conv = {
        cid: g.sort_values("turn_idx")["text"].tolist()
        for cid, g in tx.groupby("conv_id")
    }
    base_by_conv = {
        cid: g.sort_values("turn_idx")["text"].tolist()
        for cid, g in base.groupby("conv_id")
    }
    for r in meta.itertuples():
        f = f"conv-{r.fork_id:08d}"
        p = f"conv-{r.parent_id:08d}"
        k = int(r.fork_depth)
        assert k >= 2
        # prefix texts byte-identical to the parent
        assert by_conv[f][:k] == by_conv[p][:k]
        # base conversations are untouched
        assert by_conv[p] == base_by_conv[p]
        # fork diverges right after the prefix (own text != parent's)
        if len(by_conv[f]) > k and len(by_conv[p]) > k:
            assert by_conv[f][k] != by_conv[p][k]
            assert by_conv[f][k] == base_by_conv[f][k]


def test_fork_families_recovered_exactly(spark):
    from wavelet_decomposition_spark.io.transcripts import (
        fork_metadata,
        transcripts_df,
    )
    from wavelet_decomposition_spark.operators.prefixes import (
        prefix_fingerprints,
        shared_prefix_groups,
    )

    n, nf = 40, 12
    depths = (1, 2, 3, 4, 6)
    tx = transcripts_df(spark, n, seed=7, n_forks=nf)
    fp = prefix_fingerprints(tx, "conv_id", "turn_idx", "text", depths)
    got = {
        (r.depth, frozenset(r.members))
        for r in shared_prefix_groups(fp, "conv_id", with_members=True)
        .collect()
    }
    meta = fork_metadata(n, nf, seed=7)
    want = set()
    for d in depths:
        fam = meta[meta.fork_depth >= d].groupby("parent_id")
        for p, g in fam:
            members = frozenset(
                [f"conv-{p:08d}"]
                + [f"conv-{f:08d}" for f in g.fork_id]
            )
            want.add((d, members))
    assert got == want
