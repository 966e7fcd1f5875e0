"""Benchmark harness (driver contract): runs the headline queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE compact JSON line (kept under
1500 chars — the driver captures only the tail of stdout):

    {"metric": ..., "value": <total sec>, "unit": "sec",
     "queries": {headline: sec, ...}, "n_queries_total": N, "sf": <sf>,
     "turns_per_sec": ..., "n_turns": ..., "skipped_no_reference": [...]}

The FULL record (every query's min-of-warm wall, the cold wall incl.
codegen/JIT, and every raw warm repeat) is written to ``bench_full.json``
next to this file and summarized in BENCH.md. A bench query whose input is
a missing reference artifact (a ``FileNotFoundError`` under
``reference_data.REFERENCE_ROOT``) is listed under ``skipped_no_reference``
and left out of ``value``.

The flagship measurement is the north-star pipeline: synthetic transcripts
(scaled with sf) -> 1s activity tier -> 1m/1h/1d rollups -> gap-fill ->
Haar+db4 DWT energy spectra -> Gorilla/delta-of-delta block encode. Its
throughput is reported as turns/sec. Scaling-efficiency evidence (same job
at local[4] vs local[16], the N->4N pair inside this VM's physical-core
budget) lives in tools/scaling_bench.py -> BENCH.md; every one of its
measurements goes through :func:`timed` too.

Usage:
    python bench.py                        # the suite: final JSON line +
                                           # bench_full.json
    python bench.py q1 q2 ...              # time named queries
    python bench.py --flagship [q1 ...]    # time the flagship (and queries)
    python bench.py --explain TAG q1 ...   # write explain("formatted") to
                                           # plans/r06/<q>_<TAG>.txt
    SPARK_GRAFT_WARM_REPEATS=N sets the warm repeats (default 3).

The named-query and ``--flagship`` modes print one JSON line
``{"queries": {...min-of-warm...}, "cold": {...}, "raw": {...}}`` that can
be diffed against bench_full.json, and one stderr line per query.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

# 3 warm repeats: this shared-host VM shows 2-4x identical-code variance
# under neighbor load (a measured 69/29/20 s triple on the flagship);
# min-of-3 warm suppresses a single noisy repeat where min-of-2 cannot
WARM_REPEATS = int(os.environ.get("SPARK_GRAFT_WARM_REPEATS", "3"))


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def timed(name: str, fn) -> dict:
    """The one timing protocol of every harness: one cold run of ``fn``
    (includes per-query-shape codegen + JIT — measured at 3-10 s of pure
    compile time per novel plan shape on this VM), then ``WARM_REPEATS``
    warm runs. The measurement is the MIN of the warm walls: this
    shared-host VM shows episodic 2-4x slowdowns on memory-bound stages
    from invisible neighbor interference (identical back-to-back jobs
    legitimately differ 3x), so a single warm sample can enshrine a noisy
    window as the official record (it did, in BENCH_r03). Every raw wall is
    returned alongside, so nothing is hidden.

    The runs' Spark jobs carry ``name`` as their description. Returns
    ``{"cold": s, "raw": [warm s, ...], "wall": min warm s, "out": the last
    run's result}``."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.setJobDescription(name)
    walls = []
    try:
        for _ in range(1 + WARM_REPEATS):
            t0 = time.perf_counter()
            out = fn()
            walls.append(round(time.perf_counter() - t0, 3))
    finally:
        if sc is not None:
            sc.setJobDescription(None)
    run = {"cold": walls[0], "raw": walls[1:], "wall": min(walls[1:]),
           "out": out}
    print(f"{name}: min-warm={run['wall']} cold={run['cold']} "
          f"raw={run['raw']}", file=sys.stderr)
    return run


def time_all(jobs: dict) -> tuple[dict, list]:
    """:func:`timed` over ``{name: fn}`` in order. A job whose input is a
    missing reference artifact (a file under ``REFERENCE_ROOT``) is
    skipped: ``(runs, skipped names)``. Any other exception propagates."""
    from wavelet_decomposition_spark.io.reference_data import REFERENCE_ROOT

    runs, skipped = {}, []
    for name, fn in jobs.items():
        try:
            runs[name] = timed(name, fn)
        except FileNotFoundError as exc:
            if not str(exc.filename).startswith(REFERENCE_ROOT + os.sep):
                raise
            print(f"{name}: skipped, no {exc.filename}", file=sys.stderr)
            skipped.append(name)
    return runs, skipped


def materialize_transcripts(spark, n_convs: int) -> str:
    """Generate + store the synthetic transcript table (untimed setup: the
    engine's contract input is a stored Iceberg/parquet table, not a
    generator)."""
    import tempfile

    from wavelet_decomposition_spark.io.transcripts import transcripts_df

    path = f"{tempfile.gettempdir()}/wds_bench_tx_{n_convs}"
    # fixed split count regardless of the generating session's core count,
    # so every parallelism level under test sees the same well-split scan;
    # grows with input so per-task generation stays bounded
    parts = max(64, n_convs // 15_000)
    transcripts_df(spark, n_convs, seed=42, partitions=parts).write.mode(
        "overwrite"
    ).parquet(path)
    return path


def warm_workers(spark, tx_path: str) -> None:
    """Untimed worker warm-up: spawning the Python-worker pool + importing
    the package there costs tens of seconds once per session; a
    long-running deployment pays it once, so the timings after it measure
    steady state (cold-start cost is reported by tools/scaling_bench.py)."""
    from pyspark.sql import functions as F

    from wavelet_decomposition_spark.operators import wavelet_ops

    noop(wavelet_ops.energy_windows(
        spark.read.parquet(tx_path).limit(2000)
        .selectExpr("conv_id", "date_trunc('minute', ts) as bucket_ts")
        .groupBy("conv_id", "bucket_ts")
        .agg(F.count(F.lit(1)).cast("double").alias("turns")),
        "turns", wavelet="haar", levels=2, window_len=16,
        sparse_fill_step="1 minute",
    ))


def flagship_pipeline(spark, tx_path: str) -> int:
    """The rollup + wavelet + compression pipeline over the stored
    transcript table; returns n_turns.

    Plan shape (deliberate — see BENCH.md):
    - the wide text column is scanned ONCE: raw 1s tier -> 1m tier in a
      single lineage, and only the narrow 1m tier (no strings but conv_id)
      is cached for the 1h/1d cascade, the wavelet jobs, and the codec.
    - zero gap-fill is FUSED into the window builder
      (``sparse_fill_step``): the exploded per-minute grid (3-4x the tier's
      rows) is never materialized or shuffled. ``gapfill_zero/locf`` remain
      standalone operators for LOCF/gauge series.
    - energy spectra come from the in-UDF einsum path, not a second
      per-coefficient shuffle."""
    from pyspark.sql import functions as F

    from wavelet_decomposition_spark.operators import (
        activity,
        compress,
        rollup,
        wavelet_ops,
    )

    tx = spark.read.parquet(tx_path)
    raw = activity.activity_raw(tx)
    tier_1m = rollup.rollup_once(raw, "1m").cache()
    n_turns = tier_1m.agg(F.sum("turns")).collect()[0][0]
    tier_1h = rollup.rollup_once(tier_1m, "1h")
    noop(tier_1h)
    noop(rollup.rollup_once(tier_1h, "1d"))
    for wavelet in ("haar", "db4"):
        # both north-star products: the coefficient table (stored in the
        # band-packed array<double> form — the long per-coefficient view is
        # a JVM-side posexplode away) and the per-scale energy spectrum
        noop(wavelet_ops.dwt_window_bands(
            tier_1m, "turns", wavelet=wavelet, levels=5, window_len=128,
            sparse_fill_step="1 minute",
        ))
        noop(wavelet_ops.energy_windows(
            tier_1m, "turns", wavelet=wavelet, levels=5, window_len=128,
            sparse_fill_step="1 minute",
        ))
    blocks = compress.encode_blocks(tier_1m, activity.ACTIVITY_COUNT_COLS)
    noop(blocks)
    tier_1m.unpersist()
    return int(n_turns)


def sf_location() -> tuple[str, float]:
    """``$SPARK_GRAFT_SF_DIR`` and the scale factor its name carries."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([\d.]+)", sf_dir)
    return sf_dir, float(m.group(1)) if m else 0.1


def write_explains(spark, qs, sf_dir: str, tag: str, names) -> None:
    """``explain("formatted")`` of each named query, written to
    ``plans/r06/<name>_<tag>.txt``."""
    out_dir = os.path.join(REPO, "plans", "r06")
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        df = qs[name](spark, sf_dir)
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(txt)
        print(f"wrote {path} ({len(txt)} chars)", file=sys.stderr)


def main(argv: list[str]) -> None:
    sf_dir, sf = sf_location()

    from wavelet_decomposition_spark.plans.session import build_session

    spark = build_session(app_name="wds-bench")
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    suite = not argv
    try:
        if argv[:1] == ["--explain"]:
            return write_explains(spark, qs, sf_dir, argv[1], argv[2:])
        jobs = {}
        if suite or "--flagship" in argv:
            tx_path = materialize_transcripts(
                spark, max(200, int(200_000 * sf))
            )
            warm_workers(spark, tx_path)
            jobs["flagship_rollup_wavelet"] = lambda: flagship_pipeline(
                spark, tx_path
            )
        names = [n for n, fn in qs.items() if fn.bench] if suite else argv
        for name in names:
            if name != "--flagship":
                jobs[name] = lambda fn=qs[name]: noop(fn(spark, sf_dir))
        runs, skipped = time_all(jobs)
    finally:
        spark.stop()

    timings = {n: r["wall"] for n, r in runs.items()}
    cold = {n: r["cold"] for n, r in runs.items()}
    raw = {n: r["raw"] for n, r in runs.items()}
    if not suite:
        print(json.dumps({"queries": timings, "cold": cold, "raw": raw}))
        return

    total = round(sum(timings.values()), 3)
    n_turns = runs["flagship_rollup_wavelet"]["out"]
    # Full record (per-query min-of-warm, cold walls incl. codegen/JIT, and
    # every raw warm wall) goes to bench_full.json — it is ~10 KB and the
    # driver captures only the tail of stdout, so the LAST line must stay
    # compact (<1500 chars) or the driver's JSON parse fails (BENCH_r04
    # recorded "parsed": null for exactly this reason).
    record = {
        "warm_repeats": WARM_REPEATS,
        "sf": sf,
        "n_turns": n_turns,
        "turns_per_sec": round(n_turns / timings["flagship_rollup_wavelet"], 1),
        "skipped_no_reference": skipped,
    }
    full = {
        "metric": "rollup+wavelet pipeline + operator suite wall time "
                  "(min of warm repeats)",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_cold": cold,
        "queries_raw": raw,
        **record,
    }
    with open(os.path.join(REPO, "bench_full.json"), "w") as f:
        json.dump(full, f, indent=1)
    headline = [
        "flagship_rollup_wavelet", "full_decomposition", "translation_full",
        "activity_1m", "rollup_1h", "gapfill_locf", "minhash_pairs",
        "simhash_near", "dedup_clusters", "decontaminate", "ann_topk",
        "gorilla_blocks", "sessionize", "asof_join",
    ]
    summary = {
        "metric": "rollup+wavelet pipeline + operator suite wall time "
                  "(min of warm repeats; full per-query record incl. cold "
                  "and raw walls in bench_full.json)",
        "value": total,
        "unit": "sec",
        "queries": {k: timings[k] for k in headline if k in timings},
        "n_queries_total": len(timings),
        **record,
    }
    line = json.dumps(summary)
    assert len(line) < 1500, f"final bench line too long ({len(line)} chars)"
    print(line)


if __name__ == "__main__":
    main(sys.argv[1:])
