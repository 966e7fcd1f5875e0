"""Property tests for the round-5 late operators: Morton interleave
laws (pure Python mirror of the JVM expression), model-based MERGE
verification, and SAX's exact power-of-2 scale invariance. The Spark
side of each law is pinned separately in the per-operator test files;
here hypothesis drives the algebra wide."""

from hypothesis import given, settings
from hypothesis import strategies as st

from tests.test_layout import _py_spread, _py_z

BITS21 = st.integers(min_value=0, max_value=2**21 - 1)


def _deinterleave(z, bits=21):
    x = y = 0
    for i in range(bits):
        x |= ((z >> (2 * i)) & 1) << i
        y |= ((z >> (2 * i + 1)) & 1) << i
    return x, y


@settings(max_examples=300, deadline=None)
@given(BITS21, BITS21)
def test_morton_roundtrip_and_disjoint_bits(x, y):
    z = _py_z(x, y)
    assert _deinterleave(z) == (x, y)
    # x occupies even bit positions, y odd — spreads never collide
    assert _py_spread(x) & (_py_spread(y) << 1) == 0
    assert z < 2**42


@settings(max_examples=200, deadline=None)
@given(BITS21, BITS21, BITS21)
def test_morton_monotone_along_each_axis(x, y, x2):
    # with the other coordinate fixed, the curve preserves axis order
    if x < x2:
        assert _py_z(x, y) < _py_z(x2, y)
        assert _py_z(y, x) < _py_z(y, x2)


_keys = st.integers(min_value=0, max_value=12)
_batch = st.lists(
    st.tuples(_keys, st.integers(-100, 100), st.booleans()),
    max_size=12,
    unique_by=lambda t: t[0],
)


@settings(max_examples=10, deadline=None)
@given(
    st.lists(st.tuples(_keys, st.integers(-100, 100)), max_size=12,
             unique_by=lambda t: t[0]),
    _batch,
)
def test_merge_matches_dict_model(spark, target_rows, source_rows):
    from wavelet_decomposition_spark.operators.merge import merge_upsert

    target = spark.createDataFrame(target_rows, "k long, v long")
    source = spark.createDataFrame(
        source_rows, "k long, v long, del boolean"
    )
    # dict model of MERGE
    model = {k: (v, "keep") for k, v in target_rows}
    for k, v, d in source_rows:
        if d:
            model.pop(k, None)
        elif k in model:
            model[k] = (v, "update")
        else:
            model[k] = (v, "insert")
    got = {
        r.k: (r.v, r.action)
        for r in merge_upsert(
            target, source, ["k"], delete_col="del"
        ).collect()
    }
    assert got == model


@settings(max_examples=6, deadline=None)
@given(
    st.lists(st.integers(0, 100_000), min_size=128, max_size=128),
    st.sampled_from([2, 4, 8, 16]),
)
def test_sax_words_invariant_under_power_of_two_scaling(
    spark, vals, scale
):
    # z-normalization makes SAX scale-invariant; for power-of-2 scales
    # every intermediate float op is EXACTLY scaled (2^k multiplies,
    # sqrt(4v) = 2 sqrt(v), (2n)/(2d) = n/d are all exact in IEEE), so
    # the words must be IDENTICAL, not merely close
    from tests.test_sax import _series_df
    from wavelet_decomposition_spark.operators.sax import sax_words

    base = {
        r.window_id: r.word
        for r in sax_words(_series_df(spark, vals)).collect()
    }
    scaled = {
        r.window_id: r.word
        for r in sax_words(
            _series_df(spark, [v * scale for v in vals])
        ).collect()
    }
    assert base == scaled
