"""PAA + SAX symbolic downsampling (operators/sax.py)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from wavelet_decomposition_spark.operators.sax import (
    BREAKPOINTS,
    paa,
    sax_words,
)


def _series_df(spark, values, sid="s"):
    rows = [
        (sid, i, int(v)) for i, v in enumerate(values)
    ]
    return spark.createDataFrame(
        rows, "series_id string, bucket_ts int, vm long"
    )


def _numpy_sax(values, window_len, n_segments, alphabet):
    """Independent scalar recompute of the operator's exact semantics."""
    v = np.asarray(values, dtype=np.int64)
    n = len(v)
    mu = float(v.sum()) / n
    var = max(float((v * v).sum()) / n - mu * mu, 0.0)
    sd = np.sqrt(var)
    cuts = BREAKPOINTS[alphabet]
    seg_len = window_len // n_segments
    words = {}
    for w in range(n // window_len):
        word = ""
        for s in range(n_segments):
            blk = v[w * window_len + s * seg_len:
                    w * window_len + (s + 1) * seg_len]
            m = float(blk.sum()) / seg_len
            z = 0.0 if sd == 0.0 else (m - mu) / sd
            k = 0
            while k < len(cuts) and z >= cuts[k]:
                k += 1
            word += "abcdefghij"[k]
        words[w] = word
    return words


def test_paa_segment_means_exact(spark):
    vals = list(range(128))
    out = (
        paa(_series_df(spark, vals), n_segments=8)
        .orderBy("window_id", "seg_id")
        .collect()
    )
    assert len(out) == 16
    for r in out:
        blk = vals[r.window_id * 64 + r.seg_id * 8:
                   r.window_id * 64 + (r.seg_id + 1) * 8]
        assert r.seg_mean == sum(blk) / 8
        assert r.n_pts == 64


def test_incomplete_tail_window_dropped(spark):
    out = paa(
        _series_df(spark, range(100)), n_segments=8
    ).collect()
    assert {r.window_id for r in out} == {0}


def test_indivisible_window_raises(spark):
    with pytest.raises(ValueError):
        paa(_series_df(spark, range(64)), 7)
    with pytest.raises(ValueError):
        sax_words(_series_df(spark, range(64)), alphabet=7)


def test_constant_series_is_middle_letter(spark):
    out = sax_words(
        _series_df(spark, [5] * 128), alphabet=5,
    ).collect()
    assert sorted(r.word for r in out) == ["cccccccc", "cccccccc"]


def test_words_match_independent_numpy_recompute(spark):
    rng = np.random.RandomState(7)
    vals = rng.randint(0, 560_000, size=500).tolist()
    for a in (3, 4, 5, 6, 8):
        exp = _numpy_sax(vals, 64, 8, a)
        got = {
            r.window_id: r.word
            for r in sax_words(
                _series_df(spark, vals), alphabet=a,
            ).collect()
        }
        assert got == exp, f"alphabet={a}"


def test_multi_group_isolation_and_window_start(spark):
    a = _series_df(spark, range(64), sid="a")
    b = _series_df(spark, [100 - i for i in range(64)], sid="b")
    out = sax_words(
        a.unionByName(b)
    ).collect()
    by = {r.series_id: r for r in out}
    assert set(by) == {"a", "b"}
    # negating a series negates every z-score, so the descending ramp's
    # word is the letter-complement (same time order) of the ascending's
    assert by["a"].word == by["b"].word.translate(
        str.maketrans("abcde", "edcba")
    )
    assert by["a"].window_start == 0 and by["a"].n_pts == 64


def test_rare_words_find_planted_anomaly(spark):
    from wavelet_decomposition_spark.operators.sax import sax_rare_words

    # 8 identical daily-pattern windows, one corrupted window at idx 3:
    # its word must be unique -> rank-1 rare word
    import numpy as np

    day = [int(1000 + 500 * np.sin(2 * np.pi * i / 64)) for i in range(64)]
    vals = []
    for w in range(8):
        if w == 3:
            vals += [v + (9000 if 16 <= i < 32 else 0)
                     for i, v in enumerate(day)]
        else:
            vals += day
    out = sax_rare_words(
        _series_df(spark, vals), k=1,
    ).collect()
    assert len(out) == 1
    assert out[0].window_id == 3 and out[0].word_freq == 1


def test_rare_words_deterministic_tiebreak_and_k(spark):
    import pytest

    from wavelet_decomposition_spark.operators.sax import sax_rare_words

    # all windows identical -> every word_freq equal; tie-break must
    # pick the lowest window_ids
    vals = list(range(64)) * 4
    out = sax_rare_words(
        _series_df(spark, vals), k=2
    ).collect()
    assert sorted(r.window_id for r in out) == [0, 1]
    with pytest.raises(ValueError):
        sax_rare_words(_series_df(spark, vals), k=0)
