"""Character-trigram corpus profiling (operators/charlm.py) vs direct
Python recomputation, including the short-document edges."""

from wavelet_decomposition_spark.operators.charlm import (
    char_trigrams,
    trigram_quality,
)

DOCS = [
    (1, "the cat sat on the mat"),
    (2, "The  cat   SAT on the mat"),   # normalizes identically to 1
    (3, "zz qq xx vv kk jj"),           # rare-trigram junk
    (4, "ab"),                          # too short: no trigrams
    (5, ""),                            # empty
    (6, None),                          # null text
]


def _norm(t):
    return " ".join(t.lower().split()) if t else ""


def _tris(t):
    t = _norm(t)
    return [t[i:i + 3] for i in range(len(t) - 2)]


def _docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_char_trigrams_matches_python(spark):
    got = sorted(
        (r["doc_id"], r["tri"])
        for r in char_trigrams(_docs_df(spark)).collect()
    )
    want = sorted(
        (i, tri) for i, t in DOCS for tri in _tris(t)
    )
    assert got == want


def test_quality_stats_match_python(spark):
    df = _docs_df(spark)
    got = {
        r["doc_id"]: (r["n_tri"], r["n_rare"], r["df_mass"])
        for r in trigram_quality(df).collect()
    }
    prof = {}
    for _, t in DOCS:
        for tri in _tris(t):
            prof[tri] = prof.get(tri, 0) + 1
    want = {}
    for i, t in DOCS:
        tris = _tris(t)
        want[i] = (
            len(tris),
            sum(1 for tri in tris if prof[tri] <= 2),
            sum(prof[tri] for tri in tris),
        )
    assert got == want
    # every doc appears, including short/empty/null ones with zeros
    assert got[4] == (0, 0, 0)
    assert got[5] == (0, 0, 0)
    assert got[6] == (0, 0, 0)
    # junk doc is rare-dominated; twin docs share identical stats
    assert got[3][1] == got[3][0] > 0
    assert got[1] == got[2]


def test_profile_is_broadcast_join(spark):
    # the scoring join must be a broadcast hash join (profile side is
    # charset-bounded), never a shuffle or nested-loop join
    df = _docs_df(spark)
    plan = trigram_quality(df)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "NestedLoop" not in plan


def test_trigram_let_binding_pins_single_regex_eval(spark):
    """r6 (VERDICT #5): interpreted higher-order functions have no
    common-subexpression elimination, so a lambda body referencing the
    normalize regex re-evaluates it once per trigram — O(len^2) per doc
    (the r5 trigram_quality 28s->4.4s fix). The let-binding ships the
    regex once through a single-element array; this pins that shape:
    exactly ONE regexp_replace in the optimized plan (the inlined form
    prints it once per lambda reference site, i.e. >= 2).

    Audit note (r6): charlm.char_trigrams (let-bound here),
    textclean/dedup word-gram transforms (attribute-only lambda inputs),
    dedup.simhash token transform, minhash zip_with, invindex block
    transform, and the dedup aggregate() norms were all swept — every
    lambda body references only its lambda variables or plain column
    attributes."""
    from wavelet_decomposition_spark.operators.charlm import char_trigrams

    docs = spark.createDataFrame(
        [(1, "hello world")], "doc_id long, text string"
    )
    plan = (
        char_trigrams(docs)._jdf.queryExecution().optimizedPlan().toString()
    )
    assert plan.count("regexp_replace") == 1
