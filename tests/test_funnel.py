"""Cohort retention + ordered funnel vs brute-force pandas oracles:
cohort boundary exactness, pre-cohort event exclusion, distinct-user
counting, funnel ordering (a purchase BEFORE the click must not count),
whole-funnel window expiry, monotone step counts."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from wavelet_decomposition_spark.operators.funnel import (
    cohort_retention,
    funnel,
)

WEEK = 7 * 24 * 3600


def _events(seed=13, n=3000, n_users=120):
    rng = np.random.default_rng(seed)
    base = 1_700_000_000
    return pd.DataFrame(
        {
            "user_id": rng.integers(0, n_users, n).astype(np.int64),
            "ts": pd.to_datetime(
                base + rng.integers(0, 6 * WEEK, n), unit="s"
            ),
            "event_type": rng.choice(
                ["signup", "click", "purchase", "view"], n,
                p=[0.15, 0.4, 0.15, 0.3],
            ),
        }
    )


def _retention_brute(df, period_s=WEEK):
    sign = df[df.event_type == "signup"]
    c0 = sign.groupby("user_id").ts.min().astype("int64") // 1000  # us
    cstart = c0 - c0 % (period_s * 1_000_000)
    rows = {}
    ev = df.copy()
    ev["t"] = ev.ts.astype("int64") // 1000
    ev = ev.merge(cstart.rename("cstart"), on="user_id")
    ev = ev[ev.t >= ev.cstart]
    ev["period_k"] = (ev.t - ev.cstart) // (period_s * 1_000_000)
    g = ev.groupby(["cstart", "period_k"]).user_id.nunique()
    sizes = cstart.value_counts()
    out = []
    for (cs, k), n_active in g.items():
        out.append(
            {
                "cohort_ts": pd.Timestamp(cs, unit="us"),
                "period_k": int(k),
                "n_active": int(n_active),
                "n_cohort": int(sizes[cs]),
            }
        )
    return pd.DataFrame(out)


def test_cohort_retention_parity(spark):
    df = _events()
    got = cohort_retention(spark.createDataFrame(df)).toPandas()
    want = _retention_brute(df)
    cols = ["cohort_ts", "period_k", "n_active", "n_cohort"]
    got_c = got[cols].sort_values(cols).reset_index(drop=True)
    want_c = want[cols].sort_values(cols).reset_index(drop=True)
    kinds = {"period_k": "int64", "n_active": "int64", "n_cohort": "int64"}
    pd.testing.assert_frame_equal(
        got_c.astype(kinds), want_c.astype(kinds)
    )
    np.testing.assert_allclose(
        got.sort_values(cols).retention.to_numpy(),
        (want_c.n_active / want_c.n_cohort).to_numpy(),
        rtol=1e-15,
    )


def test_cohort_excludes_pre_cohort_events(spark):
    # a click 1 week BEFORE the signup must not appear in any period
    df = pd.DataFrame(
        {
            "user_id": np.int64([1, 1]),
            "ts": pd.to_datetime(
                [1_700_000_000 - WEEK, 1_700_000_000], unit="s"
            ),
            "event_type": ["click", "signup"],
        }
    )
    got = cohort_retention(spark.createDataFrame(df)).toPandas()
    assert (got.period_k >= 0).all()
    assert len(got) == 1 and got.n_active.iloc[0] == 1


def _funnel_brute(df, steps, window_s=7 * 24 * 3600):
    t = df.copy()
    t["t"] = t.ts.astype("int64") // 1000
    wus = window_s * 1_000_000
    s1 = t[t.event_type == steps[0]].groupby("user_id").t.min()
    counts = [len(s1)]
    prev = s1.rename("tk").to_frame()
    prev["t1"] = s1
    for step in steps[1:]:
        m = t[t.event_type == step].merge(prev, on="user_id")
        m = m[(m.t >= m.tk) & (m.t <= m.t1 + wus)]
        nxt = m.groupby("user_id").agg(tk=("t", "min"), t1=("t1", "first"))
        counts.append(len(nxt))
        prev = nxt
    return counts


def test_funnel_parity(spark):
    df = _events(seed=29)
    steps = ["signup", "click", "purchase"]
    got = (
        funnel(spark.createDataFrame(df), steps=steps)
        .toPandas()
        .sort_values("step_idx")
        .reset_index(drop=True)
    )
    want = _funnel_brute(df, steps)
    assert list(got.n_users) == want
    assert list(got.step) == steps
    # monotone non-increasing and consistent ratios
    assert (np.diff(got.n_users) <= 0).all()
    np.testing.assert_allclose(
        got.conversion_from_first, got.n_users / got.n_users.iloc[0]
    )


def test_funnel_ordering_and_window(spark):
    base = 1_700_000_000
    rows = [
        # u1: full ordered funnel inside window
        (1, base, "signup"), (1, base + 10, "click"),
        (1, base + 20, "purchase"),
        # u2: purchase BEFORE click -> stops at click
        (2, base, "signup"), (2, base + 50, "purchase"),
        (2, base + 100, "click"),
        # u3: click after window expiry -> stops at signup
        (3, base, "signup"), (3, base + 8 * 24 * 3600, "click"),
        # u4: never signed up -> not in funnel
        (4, base, "click"), (4, base + 1, "purchase"),
    ]
    df = pd.DataFrame(rows, columns=["user_id", "tss", "event_type"])
    df["ts"] = pd.to_datetime(df.pop("tss"), unit="s")
    got = (
        funnel(
            spark.createDataFrame(df),
            steps=["signup", "click", "purchase"],
        )
        .toPandas()
        .sort_values("step_idx")
    )
    assert list(got.n_users) == [3, 2, 1]


def test_funnel_validates_steps(spark):
    df = spark.createDataFrame(_events())
    with pytest.raises(ValueError, match="two steps"):
        funnel(df, steps=["signup"])
