"""Local replica of the driver's correctness gate: run every queries() entry
on Spark and its oracle_sql() in DuckDB at sf0.01; compare row count, column
names, and an order-insensitive value hash.

Usage: python tools/check_correctness.py [sf_dir] [query ...] [--rtol R]

One line per query goes to stdout, and the last line is the tally as JSON,
``{"ok": n, "rows_only": n, "failed": [names]}``: ``ok`` counts the queries
that match their oracle, ``rows_only`` the passing queries without one.

--rtol R (diagnostic, NOT the driver's semantics): when the exact value
hash mismatches, fall back to a cell-wise comparison that accepts float
columns within relative tolerance R (non-float columns still exact, row
counts/schemas still exact). Used for scale runs on derived data (e.g.
/tmp/sf1.0) where cross-engine float association at 10x row counts
produces ulp-level drift the 6-dp canonicalization cannot absorb; the
sf0.01 driver gate stays bit-exact.
"""

from __future__ import annotations

import json
import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, ".")

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def dtype_kinds(df: pd.DataFrame) -> list[str]:
    """Per-column dtype kind, sorted by column name. The driver's hash
    canonicalization distinguishes int64 from float64 (DuckDB sum(BIGINT)
    -> HUGEINT -> float64 burned round 1); Python hash(17825) ==
    hash(17825.0) would hide that, so kinds are compared explicitly."""
    return [df[c].dtype.kind for c in sorted(df.columns)]


def value_hash(df: pd.DataFrame) -> int:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype("datetime64[us]").astype("int64")
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif str(df[c].dtype).startswith("float"):
            df[c] = df[c].round(9)
    rows = sorted(map(tuple, df.itertuples(index=False, name=None)))
    return hash(tuple(rows))


def within_rtol(sdf: pd.DataFrame, odf: pd.DataFrame, rtol: float) -> bool:
    """Cell-wise fallback: float columns within rtol (NaN==NaN), everything
    else exact, after sorting rows by the non-float columns then values."""
    import numpy as np

    cols = sorted(sdf.columns)
    # sort keys: non-float columns first (exact), then floats rounded to 3
    # decimals as tiebreak — ulp drift must not reorder rows between engines
    def _sortable(df):
        out = df[cols].copy()
        key_cols = []
        for c in cols:
            if str(out[c].dtype).startswith("float"):
                out[f"_k_{c}"] = out[c].round(3)
                key_cols.append(f"_k_{c}")
        keys = [c for c in cols if not str(out[c].dtype).startswith("float")]
        return out.sort_values(keys + key_cols).reset_index(drop=True)[cols]

    sdf = _sortable(sdf)
    odf = _sortable(odf)
    for c in cols:
        if str(sdf[c].dtype).startswith("float"):
            a = sdf[c].to_numpy(dtype=float)
            b = odf[c].to_numpy(dtype=float)
            if not np.allclose(a, b, rtol=rtol, atol=rtol, equal_nan=True):
                return False
        else:
            if not sdf[c].astype(str).equals(odf[c].astype(str)):
                return False
    return True


def main():
    args = sys.argv[1:]
    rtol = None
    if "--rtol" in args:
        i = args.index("--rtol")
        rtol = float(args[i + 1])
        args = args[:i] + args[i + 2:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    import __spark_entry__ as entrymod
    from wavelet_decomposition_spark.plans.session import build_session

    # no progress bar: it would interleave with the result lines
    spark = build_session(app_name="correctness-check", cores=8,
                          shuffle_partitions=16,
                          extra_conf={"spark.ui.showConsoleProgress": "false"})
    con = duckdb.connect()
    for t in TABLES:
        # driver testdata ships single files; derived dirs (make_scaled_sf)
        # are Spark-written directories of part files — glob those
        path = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(path):
            path = f"{path}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            failures.append((name, f"spark error: {e}"))
            print(f"FAIL  {name}: spark error {str(e)[:200]}")
            continue
        el = time.time() - t0
        if name not in oracles:
            # rows-only gate: row count > 0 AND every self-verifying
            # invariant column (boolean *_ok) all-true — a rows-only query
            # whose invariant is False or null on any row FAILS here, so
            # the gate cannot pass on garbage values (round-3 advisory)
            ok_cols = [c for c in sdf.columns if c.endswith("_ok")]
            bad = []
            for c in ok_cols:
                vals = sdf[c]
                if vals.isnull().any() or not vals.astype(bool).all():
                    bad.append(c)
            n_ok = len(ok_cols)
            print(
                f"rows  {name}: {len(sdf)} rows ({el:.1f}s, rows-only, "
                f"{n_ok} invariant col{'s' if n_ok != 1 else ''})"
            )
            if len(sdf) == 0 and name != "noop":
                failures.append((name, "0 rows"))
            if bad:
                failures.append(
                    (name, f"invariant column(s) not all-true: {bad}")
                )
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as e:
            failures.append((name, f"oracle error: {e}"))
            print(f"FAIL  {name}: oracle error {str(e)[:200]}")
            continue
        problems = []
        if len(sdf) != len(odf):
            problems.append(f"rows {len(sdf)} vs {len(odf)}")
        if sorted(sdf.columns) != sorted(odf.columns):
            problems.append(f"cols {sorted(sdf.columns)} vs {sorted(odf.columns)}")
        else:
            if dtype_kinds(sdf) != dtype_kinds(odf):
                problems.append(
                    f"dtype kinds {dtype_kinds(sdf)} vs {dtype_kinds(odf)}"
                )
            if value_hash(sdf) != value_hash(odf):
                if rtol is not None and within_rtol(sdf, odf, rtol):
                    print(
                        f"rtol  {name}: exact hash differs, matches at "
                        f"rtol={rtol:g} ({el:.1f}s)"
                    )
                    continue
                problems.append("value hash mismatch")
        if problems:
            failures.append((name, "; ".join(problems)))
            print(f"FAIL  {name}: {'; '.join(problems)} ({el:.1f}s)")
        else:
            print(f"OK    {name}: {len(sdf)} rows ({el:.1f}s)")
    print()
    if failures:
        print(f"{len(failures)} FAILURES:")
        for n, p in failures:
            print(f"  {n}: {p}")
    else:
        print("all queries match")
    failed = sorted({n for n, _ in failures})
    passed = [n for n in qs if (not only or n in only) and n not in failed]
    print(json.dumps({"ok": sum(n in oracles for n in passed),
                      "rows_only": sum(n not in oracles for n in passed),
                      "failed": failed}))
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
