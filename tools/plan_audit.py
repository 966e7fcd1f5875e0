"""Physical-plan audit across the ENTIRE driver contract: for every
queries() entry, count the plan features that matter at 100 TB —
exchanges (shuffles), Python stages (Arrow UDF boundaries), nested-loop
joins (the scale killer), broadcast joins, sort nodes, and whether the
parquet scan carries pushed filters — then EXECUTE the query (noop sink)
and record its measured shuffle read/write bytes from the JVM
AppStatusStore. Writes PLANS.md plus one JSON line per query, and
compares bytes against the committed baseline `tools/shuffle_baseline
.json`: any query shuffling >2.5x its baseline (above a 4 MB noise
floor) fails the audit — exchange COUNTS can stay identical while the
VOLUME regresses (round 3: shuffling raw string shingle arrays instead
of hashes tripled bytes with the same plan shape).

This is the systematic form of the per-operator `tests/test_plans.py`
pins: the tests freeze the shapes that must never regress; this report
shows the whole surface at a glance so a reviewer doesn't have to trust
per-query claims. Queries that run driver-side work (streaming drains,
layout writes) are planned like any other — the report captures the
RETURNED DataFrame's plan, and their bytes include the drain's jobs.

Usage: python tools/plan_audit.py [sf_dir] [--update-baseline] [--no-exec]
       (default sf_dir /root/testdata/sf0.001; baseline is keyed by
       sf_dir so sf0.1 runs compare against an sf0.1 baseline)
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

FEATURES = {
    "exchanges": r"Exchange",
    "python_stages": r"(FlatMapGroupsInPandas|ArrowEvalPython|MapInPandas|"
    r"BatchEvalPython|FlatMapGroupsInPandasWithState)",
    "nested_loop_joins": r"BroadcastNestedLoopJoin|CartesianProduct",
    "broadcast_joins": r"BroadcastHashJoin",
    "sort_merge_joins": r"SortMergeJoin",
    "sorts": r"\bSort\b",
    "codegen_spans": r"WholeStageCodegen",
}

def shuffle_bytes_for_group(spark, group: str) -> tuple[int, int]:
    """(shuffle_write_bytes, shuffle_read_bytes) summed over every stage
    of every job tagged with ``group`` — read from the JVM AppStatusStore
    (works with the UI disabled). Read IMMEDIATELY after the run: the
    store retains a bounded number of stages."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    empty = sc._jvm.java.util.ArrayList()
    jobs = store.jobsList(empty)
    stage_ids = set()
    for i in range(jobs.size()):
        j = jobs.apply(i)
        jg = j.jobGroup()
        if jg.isDefined() and jg.get() == group:
            sids = j.stageIds()
            for k in range(sids.size()):
                stage_ids.add(sids.apply(k))
    write = read = 0
    for sid in stage_ids:
        try:
            s = store.lastStageAttempt(sid)
        except Exception:  # skipped stage (reused shuffle) has no attempt
            continue
        write += s.shuffleWriteBytes()
        read += s.shuffleReadBytes()
    return write, read


def run_query_measured(spark, name: str, df) -> tuple[int, int, float]:
    """Execute ``df`` to a noop sink inside a job group; return
    (shuffle_write, shuffle_read, wall_s)."""
    sc = spark.sparkContext
    group = f"audit:{name}"
    sc.setJobGroup(group, group)
    t0 = time.time()
    try:
        df.write.format("noop").mode("overwrite").save()
    finally:
        sc._jsc.clearJobGroup()
    w, r = shuffle_bytes_for_group(spark, group)
    return w, r, time.time() - t0


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    flags = {a for a in sys.argv[1:] if a.startswith("--")}
    sf_dir = args[0] if args else "/root/testdata/sf0.001"
    do_exec = "--no-exec" not in flags
    baseline_path = os.path.join(REPO, "tools", "shuffle_baseline.json")
    baseline_all: dict = {}
    if os.path.exists(baseline_path):
        with open(baseline_path) as f:
            baseline_all = json.load(f)
    sf_key = os.path.basename(sf_dir.rstrip("/"))
    baseline = baseline_all.get(sf_key, {})

    import __spark_entry__ as entrymod
    from wavelet_decomposition_spark.plans.session import build_session

    # no console progress bar: it would split the JSON lines in a merged log
    spark = build_session(app_name="wds-plan-audit", cores=8,
                          extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    rows = []
    qs = entrymod.queries()
    for name, fn in sorted(qs.items()):
        t0 = time.time()
        try:
            # tag construction too: side-effecting queries (streaming
            # drains, layout writes) run jobs inside fn() itself
            spark.sparkContext.setJobGroup(f"audit:{name}", name)
            try:
                df = fn(spark, sf_dir)
            finally:
                spark.sparkContext._jsc.clearJobGroup()
            # capture the plan BEFORE execution so feature counts stay
            # comparable across rounds (AQE rewrites the plan at runtime)
            plan = df._jdf.queryExecution().executedPlan().toString()
            feat = {
                k: len(re.findall(rx, plan)) for k, rx in FEATURES.items()
            }
            feat["pushed_filters"] = int(
                "PushedFilters: [" in plan
                and "PushedFilters: []" not in plan
            )
            if do_exec:
                w, r, _ = run_query_measured(spark, name, df)
                # construction-time jobs were tagged with the same group
                # and are already included by shuffle_bytes_for_group
                feat["shuffle_write"] = w
                feat["shuffle_read"] = r
            else:
                feat["shuffle_write"] = feat["shuffle_read"] = None
            feat["err"] = None
        except Exception as exc:  # pragma: no cover - report, don't die
            feat = {k: None for k in FEATURES}
            feat["pushed_filters"] = None
            feat["shuffle_write"] = feat["shuffle_read"] = None
            feat["err"] = f"{type(exc).__name__}: {exc}"[:200]
        feat["name"] = name
        feat["side_effect"] = fn.side_effect
        feat["plan_wall_s"] = round(time.time() - t0, 2)
        rows.append(feat)
        print(json.dumps(feat))

    # a nested-loop join is a regression unless the query's @query line
    # marks it designed_bnl (a literal/1-row/bounded-tiny broadcast side)
    bad = [
        r
        for r in rows
        if (r["nested_loop_joins"] or 0) > 0
        and not qs[r["name"]].designed_bnl
    ]
    designed = [
        r
        for r in rows
        if (r["nested_loop_joins"] or 0) > 0 and qs[r["name"]].designed_bnl
    ]
    errs = [r for r in rows if r["err"]]

    # --- shuffle-bytes regression gate -----------------------------------
    NOISE_FLOOR = 4 * 1024 * 1024  # ignore regressions below 4 MB
    FACTOR = 2.5
    regressions = []
    if do_exec:
        for r in rows:
            if r["err"] or r["shuffle_write"] is None:
                continue
            base = baseline.get(r["name"])
            if not base:
                continue
            for key, bval in (("shuffle_write", base.get("w", 0)),
                              ("shuffle_read", base.get("r", 0))):
                cur = r[key]
                if cur > NOISE_FLOOR and bval >= 0 and cur > max(
                    FACTOR * bval, NOISE_FLOOR
                ):
                    regressions.append(
                        f"{r['name']}.{key}: {cur} vs baseline {bval}"
                    )
        if "--update-baseline" in flags or not baseline:
            baseline_all[sf_key] = {
                r["name"]: {"w": r["shuffle_write"], "r": r["shuffle_read"]}
                for r in rows
                if not r["err"] and r["shuffle_write"] is not None
            }
            with open(baseline_path, "w") as f:
                json.dump(baseline_all, f, indent=1, sort_keys=True)

    def _mb(b):
        if b is None:
            return ""
        return f"{b / 1048576:.1f}" if b >= 104858 else ("0" if b == 0 else f"{b / 1048576:.3f}")

    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write(
            "# PLANS — physical-plan audit of every driver query\n\n"
            f"Generated by `python tools/plan_audit.py` at sf_dir={sf_dir}."
            " Counts of scale-relevant physical operators in each query's"
            " executed plan. `py` = Python/Arrow stages, `bnl` ="
            " nested-loop/cartesian joins (the scale killer — expected 0"
            " everywhere), `bc`/`smj` = broadcast / sort-merge joins,"
            " `push` = parquet scan carries pushed filters. Side-effecting"
            " queries (streaming drains, layout writes) are planned on"
            " their returned summary frame.\n\n"
            f"**Summary: {len(rows)} queries, {len(bad)} with UNDESIGNED "
            f"nested-loop joins (must be 0), {len(designed)} with designed "
            f"tiny-broadcast BNLs, {len(errs)} errors.** Designed BNLs "
            f"({', '.join(sorted(r['name'] for r in designed))}): one side "
            "is a literal/1-row/bounded broadcast — invariant summary "
            "rows, a brute-force ANN's broadcast query set, threshold "
            "literals — where BNL over an O(1)-row broadcast is the "
            "optimal join (no equi-key exists, nothing shuffles).\n\n"
            "`shW`/`shR` = MEASURED shuffle write/read MB at this sf_dir "
            "(noop-sink execution, JVM AppStatusStore) — volume can "
            "regress while counts stay flat, so the audit fails on >2.5x "
            "vs tools/shuffle_baseline.json above a 4 MB floor.\n\n"
            "| query | exch | py | bnl | bc | smj | sorts | codegen |"
            " push | shW MB | shR MB | side-effect |\n"
            "| --- | --- | --- | --- | --- | --- | --- | --- | --- |"
            " --- | --- | --- |\n"
        )
        for r in rows:
            if r["err"]:
                f.write(f"| {r['name']} | ERR: {r['err']} |\n")
                continue
            f.write(
                "| {name} | {exchanges} | {python_stages} |"
                " {nested_loop_joins} | {broadcast_joins} |"
                " {sort_merge_joins} | {sorts} | {codegen_spans} |"
                " {pushed_filters} | {shw} | {shr} | {se} |\n".format(
                    se="y" if r["side_effect"] else "",
                    shw=_mb(r["shuffle_write"]),
                    shr=_mb(r["shuffle_read"]),
                    **r,
                )
            )
        if regressions:
            f.write(
                "\n**SHUFFLE-BYTES REGRESSIONS (>2.5x baseline):** "
                + "; ".join(regressions)
                + "\n"
            )
    print(
        json.dumps(
            {
                "n_queries": len(rows),
                "n_nested_loop": len(bad),
                "n_errors": len(errs),
                "n_shuffle_regressions": len(regressions),
            }
        )
    )
    if regressions:
        print("SHUFFLE REGRESSIONS:")
        for r in regressions:
            print(" ", r)
        sys.exit(1)


if __name__ == "__main__":
    main()
