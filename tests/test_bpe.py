"""BPE training: hand-computed merges on the classic Sennrich corpus,
distributed == pure-Python dual path, exact symbol bookkeeping, greedy
overlap convention, determinism under repartition, and encode counts."""

import numpy as np
import pytest


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (1, "low lower lowest low low"),
        (2, "newer newest new new"),
        (3, "low and newer widest low"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_classic_first_merges(spark, corpus):
    from wavelet_decomposition_spark.operators.bpe import bpe_train

    fit = bpe_train(corpus, n_merges=4, verify=True)
    merges = [(a, b) for a, b, _ in fit["merges"]]
    # 'lo' then 'low' dominate this corpus by construction
    assert merges[0] == ("l", "o")
    assert merges[1] == ("lo", "w")
    assert fit["bookkeeping_ok"]


def test_distributed_equals_reference(spark, corpus):
    from wavelet_decomposition_spark.operators.bpe import (
        bpe_train,
        bpe_train_reference,
        word_counts,
    )

    wc = {
        r["word"]: r["count"] for r in word_counts(corpus).collect()
    }
    got = bpe_train(corpus, n_merges=10)["merges"]
    want = bpe_train_reference(wc, 10, 2)
    assert got == want


def test_determinism_under_repartition(spark, corpus):
    from wavelet_decomposition_spark.operators.bpe import bpe_train

    a = bpe_train(corpus, n_merges=6)["merges"]
    b = bpe_train(corpus.repartition(5), n_merges=6)["merges"]
    assert a == b


def test_greedy_overlap_convention():
    from wavelet_decomposition_spark.operators.bpe import (
        _merge_word,
        _pairs_nonoverlap,
    )

    # 'aaa' contains ONE non-overlapping (a, a); merging replaces once
    assert _pairs_nonoverlap(list("aaa"), "a", "a") == 1
    assert _pairs_nonoverlap(list("aaaa"), "a", "a") == 2
    assert _merge_word(list("aaa"), "a", "a", "aa") == ["aa", "a"]
    assert _pairs_nonoverlap(list("aab"), "a", "b") == 1


def test_bookkeeping_on_run_heavy_corpus(spark):
    from wavelet_decomposition_spark.operators.bpe import bpe_train

    df = spark.createDataFrame(
        [(1, "aaaa aaa aa baab aab"), (2, "aaaa bb aabb aaa")],
        "doc_id long, text string",
    )
    fit = bpe_train(df, n_merges=6, verify=True)
    assert fit["bookkeeping_ok"]
    assert fit["merges"][0][:2] == ("a", "a")


def test_min_freq_stops_early(spark):
    from wavelet_decomposition_spark.operators.bpe import bpe_train

    df = spark.createDataFrame(
        [(1, "ab cd ef gh")], "doc_id long, text string"
    )
    fit = bpe_train(df, n_merges=10)
    assert fit["merges"] == []  # every pair occurs once


def test_encode_counts_and_monotonicity(spark, corpus):
    from wavelet_decomposition_spark.operators.bpe import (
        bpe_encode,
        bpe_train,
    )

    fit = bpe_train(corpus, n_merges=8)
    enc = {r.doc_id: r for r in bpe_encode(corpus, fit["merges"]).collect()}
    raw = {r.doc_id: r for r in bpe_encode(corpus, []).collect()}
    for d in enc:
        assert enc[d].n_tokens <= raw[d].n_tokens == raw[d].n_chars
        assert enc[d].n_chars == raw[d].n_chars
    # merges genuinely compress this corpus
    assert sum(r.n_tokens for r in enc.values()) < sum(
        r.n_tokens for r in raw.values()
    )


def test_superseded_rounds_are_released(spark, rdds_left):
    """Each checkpointed round is released once the next round's pair
    count has materialized its successor, so 40 merges (8 checkpointed
    rounds) leave no more persistent RDDs than 10 do: the initial word
    table, the newest round and the one it superseded."""
    import random

    from wavelet_decomposition_spark.operators.bpe import (
        bpe_train,
        bpe_train_reference,
        word_counts,
    )

    rng = random.Random(7)
    docs = spark.createDataFrame(
        [
            (i, " ".join(
                "".join(rng.choice("abcdefgh") for _ in range(rng.randint(3, 8)))
                for _ in range(12)
            ))
            for i in range(200)
        ],
        "doc_id long, text string",
    )
    wc = {r["word"]: r["count"] for r in word_counts(docs).collect()}
    for n in (10, 40):
        fit = {}
        left = rdds_left(lambda: fit.update(bpe_train(docs, n_merges=n)))
        assert left <= 3
        assert len(fit["merges"]) == n
        assert fit["merges"] == bpe_train_reference(wc, n, 2)
