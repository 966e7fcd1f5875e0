"""Irregular-sampling temporal operators vs brute-force numpy/pandas
oracles: LOCF time-weighted bucket means (segments spanning multiple
buckets, exact-boundary ends, trailing-sample exclusion), counter rate
with restarts (resets, first-sample seeding, bucket attribution), and
gaps-and-islands interval union (overlap, exact abutment both modes,
containment, duplicates) — plus plan shape (no nested-loop, single
exchange)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from wavelet_decomposition_spark.operators.temporal import (
    counter_rate,
    interval_union,
    time_weighted_avg,
)

BASE = 1_700_000_000


def _samples(seed=3, n=600, n_keys=5, span=40_000):
    rng = np.random.default_rng(seed)
    df = pd.DataFrame(
        {
            "series_id": rng.integers(0, n_keys, n).astype(np.int64),
            "ts": pd.to_datetime(
                BASE + rng.integers(0, span, n), unit="s"
            ),
            "v": rng.random(n).round(6) * 100,
        }
    )
    # exact-second collisions within a key are dropped: LOCF over a tie is
    # order-ambiguous in any engine; the operator contract assumes unique
    # (key, ts)
    return df.drop_duplicates(["series_id", "ts"]).reset_index(drop=True)


def _twa_brute(df, bucket_s=3600):
    rows = []
    for k, g in df.groupby("series_id"):
        g = g.sort_values("ts")
        ts = g.ts.astype("int64").to_numpy() // 1000  # us
        v = g.v.to_numpy()
        acc = {}
        for i in range(len(g) - 1):
            s, e, val = ts[i], ts[i + 1], v[i]
            if e <= s:
                continue
            b = s // (bucket_s * 1_000_000)
            while True:
                blo = b * bucket_s * 1_000_000
                bhi = blo + bucket_s * 1_000_000
                w = min(e, bhi) - max(s, blo)
                if w > 0:
                    wsum, vsum = acc.get(b, (0, 0.0))
                    acc[b] = (wsum + w, vsum + val * w)
                if bhi >= e:
                    break
                b += 1
        for b, (wsum, vsum) in acc.items():
            rows.append(
                {
                    "series_id": k,
                    "bucket_ts": pd.Timestamp(b * bucket_s, unit="s"),
                    "twa": vsum / wsum,
                    "covered_us": wsum,
                }
            )
    return pd.DataFrame(rows)


def _canon(pdf, cols):
    return (
        pdf[cols]
        .sort_values(cols)
        .reset_index(drop=True)
    )


def test_twa_parity(spark):
    df = _samples()
    got = time_weighted_avg(
        spark.createDataFrame(df)
    ).toPandas()
    want = _twa_brute(df)
    cols = ["series_id", "bucket_ts", "covered_us"]
    pd.testing.assert_frame_equal(_canon(got, cols), _canon(want, cols))
    g = _canon(got, cols + ["twa"])
    w = _canon(want, cols + ["twa"])
    np.testing.assert_allclose(g.twa, w.twa, rtol=1e-12)


def test_twa_segment_spanning_buckets_and_boundary_end(spark):
    # one key: value 10 holds 00:30->02:00 (exactly on a boundary), value
    # 99 holds 02:00->02:30, trailing sample contributes nothing. Buckets
    # are absolute epoch hours, so the base must be hour-aligned.
    aligned = BASE - BASE % 3600
    df = pd.DataFrame(
        {
            "series_id": np.int64([1, 1, 1]),
            "ts": pd.to_datetime(
                [aligned + 1800, aligned + 7200, aligned + 9000], unit="s"
            ),
            "v": [10.0, 99.0, 7.0],
        }
    )
    got = (
        time_weighted_avg(spark.createDataFrame(df))
        .toPandas()
        .sort_values("bucket_ts")
        .reset_index(drop=True)
    )
    # hour0: 10 for 1800s; hour1: 10 for 3600s; hour2: 99 for 1800s
    assert list(got.twa) == [10.0, 10.0, 99.0]
    assert list(got.covered_us) == [
        1800 * 10**6,
        3600 * 10**6,
        1800 * 10**6,
    ]


def _rate_brute(df, bucket_s=3600):
    rows = []
    for k, g in df.groupby("series_id"):
        g = g.sort_values("ts")
        v = g.v.to_numpy()
        ts = g.ts.astype("int64").to_numpy() // 1000
        for i in range(1, len(g)):
            inc = v[i] - v[i - 1] if v[i] >= v[i - 1] else v[i]
            rows.append(
                {
                    "series_id": k,
                    "bucket": ts[i] // (bucket_s * 1_000_000),
                    "inc": inc,
                    "reset": int(v[i] < v[i - 1]),
                }
            )
    out = (
        pd.DataFrame(rows)
        .groupby(["series_id", "bucket"], as_index=False)
        .agg(
            increase=("inc", "sum"),
            n_deltas=("inc", "size"),
            n_resets=("reset", "sum"),
        )
    )
    out["bucket_ts"] = pd.to_datetime(out.pop("bucket") * bucket_s, unit="s")
    out["rate_per_s"] = out.increase / bucket_s
    return out


def test_counter_rate_parity_with_resets(spark):
    rng = np.random.default_rng(9)
    df = _samples(seed=5)
    # monotone counter per key with injected resets
    df = df.sort_values(["series_id", "ts"]).reset_index(drop=True)
    df["v"] = df.groupby("series_id")["v"].cumsum()
    reset_rows = rng.random(len(df)) < 0.05
    df.loc[reset_rows, "v"] = df.loc[reset_rows, "v"] * 0.01  # drop -> reset
    got = counter_rate(spark.createDataFrame(df)).toPandas()
    want = _rate_brute(df)
    cols = ["series_id", "bucket_ts", "n_deltas", "n_resets"]
    pd.testing.assert_frame_equal(
        _canon(got, cols).astype({"n_deltas": "int64", "n_resets": "int64"}),
        _canon(want, cols).astype({"n_deltas": "int64", "n_resets": "int64"}),
    )
    g = _canon(got, cols + ["increase", "rate_per_s"])
    w = _canon(want, cols + ["increase", "rate_per_s"])
    np.testing.assert_allclose(g.increase, w.increase, rtol=1e-9)
    np.testing.assert_allclose(g.rate_per_s, w.rate_per_s, rtol=1e-9)


def _union_brute(df, merge_adjacent=True):
    rows = []
    for k, g in df.groupby("series_id"):
        ivs = sorted(zip(g.start_ts, g.end_ts))
        cur_s, cur_e, n = None, None, 0
        for s, e in ivs:
            joined = (
                cur_e is not None
                and (s <= cur_e if merge_adjacent else s < cur_e)
            )
            if joined:
                cur_e, n = max(cur_e, e), n + 1
            else:
                if cur_s is not None:
                    rows.append((k, cur_s, cur_e, n))
                cur_s, cur_e, n = s, e, 1
        if cur_s is not None:
            rows.append((k, cur_s, cur_e, n))
    return pd.DataFrame(
        rows, columns=["series_id", "island_start", "island_end", "n_intervals"]
    )


@pytest.mark.parametrize("merge_adjacent", [True, False])
def test_interval_union_parity(spark, merge_adjacent):
    rng = np.random.default_rng(21)
    n = 300
    start = BASE + rng.integers(0, 30_000, n)
    df = pd.DataFrame(
        {
            "series_id": rng.integers(0, 6, n).astype(np.int64),
            "start_ts": pd.to_datetime(start, unit="s"),
            "end_ts": pd.to_datetime(
                start + rng.integers(0, 2000, n), unit="s"
            ),
        }
    )
    got = interval_union(
        spark.createDataFrame(df), merge_adjacent=merge_adjacent
    ).toPandas()
    want = _union_brute(df, merge_adjacent=merge_adjacent)
    cols = ["series_id", "island_start", "island_end", "n_intervals"]
    pd.testing.assert_frame_equal(
        _canon(got, cols).astype({"n_intervals": "int64"}),
        _canon(want, cols).astype({"n_intervals": "int64"}),
    )


def test_interval_union_abutting_modes(spark):
    df = pd.DataFrame(
        {
            "series_id": np.int64([1, 1]),
            "start_ts": pd.to_datetime([BASE, BASE + 100], unit="s"),
            "end_ts": pd.to_datetime([BASE + 100, BASE + 200], unit="s"),
        }
    )
    sdf = spark.createDataFrame(df)
    assert interval_union(sdf, merge_adjacent=True).count() == 1
    assert interval_union(sdf, merge_adjacent=False).count() == 2


def test_plan_single_exchange(spark):
    """All three operators: exactly one shuffle on the group key and no
    Python stage — the series sort, window chain, and partial aggregate
    ride the same exchange."""
    df = spark.createDataFrame(_samples())
    for op in (
        lambda d: time_weighted_avg(d),
        lambda d: counter_rate(d),
    ):
        plan = op(df)._jdf.queryExecution().executedPlan().toString()
        assert "Python" not in plan and "NestedLoop" not in plan
        # one shuffle for the group-key window sort + one for the final
        # (group, bucket) aggregate — nothing else
        assert plan.count("Exchange") <= 2, plan
    iv = spark.createDataFrame(
        pd.DataFrame(
            {
                "series_id": np.int64([1]),
                "start_ts": pd.to_datetime([BASE], unit="s"),
                "end_ts": pd.to_datetime([BASE + 10], unit="s"),
            }
        )
    )
    plan = interval_union(iv)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") <= 2  # shuffle + AQE final agg exchange
    assert "Python" not in plan


def test_twa_mass_conservation_property(spark):
    """Conservation law the bucketization must not break: the total
    value-time mass of all emitted buckets (sum of twa * covered_us)
    equals the direct integral of the LOCF step function (sum of
    v_i * (t_{i+1} - t_i)) — bucket splitting regroups the sum but must
    not create or destroy mass. Run over several random shapes."""
    for seed in (1, 7, 42):
        df = _samples(seed=seed, n=300, n_keys=3)
        out = time_weighted_avg(
            spark.createDataFrame(df)
        ).toPandas()
        got_mass = (out.twa * out.covered_us).sum()
        want_mass = 0.0
        for _, g in df.groupby("series_id"):
            g = g.sort_values("ts")
            t = g.ts.astype("int64").to_numpy() // 1000
            v = g.v.to_numpy()
            want_mass += (v[:-1] * np.diff(t)).sum()
        np.testing.assert_allclose(got_mass, want_mass, rtol=1e-12)


def test_interval_union_coverage_properties(spark):
    """For random interval sets: islands are disjoint and sorted per key,
    every input interval is inside exactly the union's coverage (total
    n_intervals preserved), and summed island lengths equal a brute
    boolean-sweep union length."""
    rng = np.random.default_rng(33)
    n = 400
    start = BASE + rng.integers(0, 20_000, n)
    df = pd.DataFrame(
        {
            "series_id": rng.integers(0, 4, n).astype(np.int64),
            "start_ts": pd.to_datetime(start, unit="s"),
            "end_ts": pd.to_datetime(
                start + rng.integers(1, 3000, n), unit="s"
            ),
        }
    )
    out = interval_union(spark.createDataFrame(df)).toPandas()
    assert out.n_intervals.sum() == n
    for k, g in out.groupby("series_id"):
        g = g.sort_values("island_start")
        s = g.island_start.astype("int64").to_numpy()
        e = g.island_end.astype("int64").to_numpy()
        assert (s[1:] > e[:-1]).all()  # disjoint, gap between islands
        # brute union length via second-resolution sweep
        mask = np.zeros(25_000, dtype=bool)
        sub = df[df.series_id == k]
        for a, b in zip(
            sub.start_ts.astype("int64") // 10**9 - BASE,
            sub.end_ts.astype("int64") // 10**9 - BASE,
        ):
            mask[a:b] = True
        np.testing.assert_equal(((e - s) // 10**9).sum(), mask.sum())


def test_ohlc_matches_brute(spark):
    from wavelet_decomposition_spark.operators.temporal import ohlc_bars

    df = _samples(seed=9, n=800, n_keys=4)
    df["v"] = (df["v"] * 100).round().astype(np.int64)
    out = (
        ohlc_bars(
            spark.createDataFrame(df), volume_col="v"
        )
        .toPandas()
        .sort_values(["series_id", "bucket_ts"])
        .reset_index(drop=True)
    )
    t_us = df.ts.astype("int64") // 1000
    g = df.assign(_b=t_us // 3_600_000_000).sort_values(
        ["series_id", "_b", "ts", "v"]
    )
    exp = {}
    for (k, bk), gd in g.groupby(["series_id", "_b"]):
        exp[(k, bk)] = (
            gd.v.iloc[0],
            gd.v.max(),
            gd.v.min(),
            gd.v.iloc[-1],
            len(gd),
            gd.v.sum(),
        )
    assert len(out) == len(exp)
    for _, r in out.iterrows():
        bk = (r.bucket_ts.value // 1000) // 3_600_000_000
        o, h, lo, c, n, vol = exp[(r.series_id, bk)]
        assert (r.open, r.high, r.low, r.close) == (o, h, lo, c)
        assert r.n_samples == n and r.volume == vol


def test_ohlc_tie_breaks_and_partitioning(spark):
    """Equal-timestamp ties: open takes the SMALLER value at the earliest
    ts, close the LARGER at the latest — and the answer is identical
    under any input partitioning."""
    from wavelet_decomposition_spark.operators.temporal import ohlc_bars

    pdf = pd.DataFrame(
        {
            "series_id": np.int64([1, 1, 1, 1]),
            "ts": pd.to_datetime(
                [BASE, BASE, BASE + 100, BASE + 100], unit="s"
            ),
            "v": [7.0, 3.0, 2.0, 9.0],
        }
    )
    for parts in (1, 5):
        out = ohlc_bars(
            spark.createDataFrame(pdf).repartition(parts)
        ).toPandas()
        assert len(out) == 1
        r = out.iloc[0]
        assert (r.open, r.high, r.low, r.close) == (3.0, 9.0, 2.0, 9.0)
        assert r.n_samples == 4


def test_state_durations_matches_brute(spark):
    from wavelet_decomposition_spark.operators.temporal import (
        state_durations,
    )

    rng = np.random.default_rng(5)
    n = 500
    pdf = pd.DataFrame(
        {
            "series_id": rng.integers(0, 6, n).astype(np.int64),
            "ts": pd.to_datetime(
                BASE + rng.integers(0, 50_000, n), unit="s"
            ),
            "state": rng.choice(list("abc"), n),
        }
    )
    out = state_durations(spark.createDataFrame(pdf)).toPandas()
    exp = {}
    for k, gd in pdf.groupby("series_id"):
        gd = gd.sort_values(["ts", "state"], kind="stable")
        t = gd.ts.astype("int64").to_numpy() // 1000
        st = gd.state.to_numpy()
        for i in range(len(gd) - 1):
            tot, nn = exp.get((k, st[i]), (0, 0))
            exp[(k, st[i])] = (tot + int(t[i + 1] - t[i]), nn + 1)
    assert len(out) == len(exp)
    for _, r in out.iterrows():
        tot, nn = exp[(r.series_id, r.state)]
        assert r.total_us == tot and r.n_segments == nn
    # frac is each state's share of the key's observed span
    sums = out.groupby("series_id").frac.sum()
    assert np.allclose(sums, 1.0, atol=1e-9)


def test_ohlc_state_plan_shape(spark):
    """ohlc_bars is ONE hash aggregate (single exchange, map-side
    partials); state_durations' two windows and its (key, state)
    aggregate all reuse the one hash(key) exchange — HashPartitioning on
    a subset of the grouping keys satisfies the aggregate's required
    distribution, so Catalyst must not insert a second shuffle."""
    from wavelet_decomposition_spark.operators.temporal import (
        ohlc_bars,
        state_durations,
    )

    df = spark.createDataFrame(_samples())
    plan = ohlc_bars(df)._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "NestedLoop" not in plan
    assert plan.count("Exchange") <= 1, plan

    sdf = spark.createDataFrame(
        _samples().rename(columns={"v": "x"}).assign(state="on")[
            ["series_id", "ts", "state"]
        ]
    )
    plan = state_durations(
        sdf
    )._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "NestedLoop" not in plan
    assert plan.count("Exchange") <= 1, plan
