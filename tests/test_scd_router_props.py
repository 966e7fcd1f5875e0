"""Property tests: SCD2 vs a brute-force run encoder; router decision laws."""

from datetime import datetime, timedelta

from hypothesis import given, settings
from hypothesis import strategies as st

from wavelet_decomposition_spark.operators.router import TIER_STEP, choose_tier
from wavelet_decomposition_spark.operators.scd import changes_to_scd2

T0 = datetime(2024, 1, 1)

# small alphabet incl. None so null-runs and ties are actually generated
_attr = st.sampled_from(["A", "B", "C", None])
_seqs = st.lists(st.lists(_attr, min_size=1, max_size=12), min_size=1, max_size=6)


def _brute_runs(attrs):
    """Pure-Python run-length encoding with Python None-equality (the
    semantics eqNullSafe implements)."""
    runs = []
    for a in attrs:
        if runs and runs[-1][0] == a:
            runs[-1][1] += 1
        else:
            runs.append([a, 1])
    return runs


@settings(max_examples=10, deadline=None)
@given(_seqs)
def test_scd2_matches_bruteforce(spark, seqs):
    rows = []
    for k, attrs in enumerate(seqs):
        for i, a in enumerate(attrs):
            rows.append((f"k{k}", T0 + timedelta(hours=i), a, i))
    df = spark.createDataFrame(
        rows, "k string, ts timestamp, attr string, i int"
    )
    out = changes_to_scd2(df, "k", "attr", tiebreak="i").collect()
    by_key = {}
    for r in out:
        by_key.setdefault(r.k, []).append(r)
    for k, attrs in enumerate(seqs):
        got = sorted(by_key[f"k{k}"], key=lambda r: r.version)
        want = _brute_runs(attrs)
        assert [(r.attr, r.n_events) for r in got] == [
            (a, n) for a, n in want
        ], (attrs, got)
        # versions are 1..n_runs; intervals chain half-open; exactly one
        # current row per key, and it is the last
        assert [r.version for r in got] == list(range(1, len(want) + 1))
        for a, b in zip(got, got[1:]):
            assert a.valid_to == b.valid_from
        assert got[-1].valid_to is None and got[-1].is_current
        assert all(not r.is_current for r in got[:-1])
        # event conservation: run lengths sum to the input length
        assert sum(r.n_events for r in got) == len(attrs)


_spans = st.integers(min_value=1, max_value=86400 * 5000)
_budgets = st.integers(min_value=1, max_value=10**7)


@settings(max_examples=300, deadline=None)
@given(_spans, _budgets)
def test_router_finest_that_fits_law(span_s, budget):
    start, end = T0, T0 + timedelta(seconds=span_s)
    tier, pts = choose_tier(start, end, budget)
    # independent re-derivation from the coarse side
    fitting = [t for t in TIER_STEP if -(-span_s // TIER_STEP[t]) <= budget]
    if fitting:
        finest = min(fitting, key=lambda t: TIER_STEP[t])
        assert tier == finest
        assert pts <= budget
    else:
        assert tier == max(TIER_STEP, key=lambda t: TIER_STEP[t])
    assert pts == -(-span_s // TIER_STEP[tier])


@settings(max_examples=300, deadline=None)
@given(_spans, _budgets, _budgets)
def test_router_budget_monotonicity(span_s, b1, b2):
    """A larger budget never yields a coarser tier."""
    lo, hi = min(b1, b2), max(b1, b2)
    start, end = T0, T0 + timedelta(seconds=span_s)
    t_lo, _ = choose_tier(start, end, lo)
    t_hi, _ = choose_tier(start, end, hi)
    assert TIER_STEP[t_hi] <= TIER_STEP[t_lo]


@settings(max_examples=200, deadline=None)
@given(
    _spans,
    _budgets,
    st.dictionaries(
        st.sampled_from(["raw", "1m", "1h", "1d"]),
        st.integers(min_value=1, max_value=4000),
    ),
)
def test_router_retention_only_coarsens(span_s, budget, retention):
    """Retention horizons can only push the decision coarser (or leave it),
    never finer, and the survivor set is respected when any tier survives."""
    start, end = T0, T0 + timedelta(seconds=span_s)
    now = end
    t_free, _ = choose_tier(start, end, budget)
    t_ret, _ = choose_tier(start, end, budget, retention_days=retention, now=now)
    alive = [
        t for t in TIER_STEP
        if t not in retention
        or start >= now - timedelta(days=retention[t])
    ]
    if not alive:
        return  # degenerate fallback: router returns the coarsest tier
    assert t_ret in alive
    fits = [t for t in alive if -(-span_s // TIER_STEP[t]) <= budget]
    if fits:
        # some survivor fits: retention can only coarsen the decision
        assert TIER_STEP[t_ret] >= TIER_STEP[t_free]
        assert t_ret == min(fits, key=lambda t: TIER_STEP[t])
    else:
        # nothing fits: coarsest survivor minimizes the budget excess
        assert t_ret == max(alive, key=lambda t: TIER_STEP[t])
