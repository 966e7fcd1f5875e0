"""Steadiness self-check for the engine benchmark.

    python3 enginebench/selfcheck.py run --workload wavelet_scan --seeds 1-10 --out DIR [--trace 1]
    python3 enginebench/selfcheck.py spread DIR
    python3 enginebench/selfcheck.py compare DIR_A DIR_B

``run`` runs the benchmark once per seed (``run_seconds`` from
BENCHMARK.json) and stores each run's result and report in DIR.
``spread`` prints, per workload and end-to-end metric, the median and the
quartile spread ``(q3 - q1) / median`` of the untraced runs against the
metric's bound. ``compare`` judges two sets of runs of one commit: a
metric x workload pair agrees when each set's spread and the shift
between the medians, either way, stay within the bound. It also asserts
that the counts a fixed seed must repeat exactly (jobs, stages and tasks
per layer, bytes_per_point and days_rebuilt_ratio) are equal for every seed
traced in both sets. Shuffle bytes are not among
them: ``decompose``'s vary by about 0.01% between runs of one seed, because
the order in which concurrent tasks write rows changes how the shuffle
blocks compress.
Exit status 1 means something disagreed.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
EXACT = ("jobs", "stages", "tasks")


def bench_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def seeds_of(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run(args) -> int:
    spec = bench_spec()
    os.makedirs(args.out, exist_ok=True)
    for seed in seeds_of(args.seeds):
        cmd = [*spec["command"], "--workload", args.workload, "--seed", str(seed),
               "--seconds", str(spec["run_seconds"]), "--trace", str(args.trace)]
        t0 = time.time()
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        wall = time.time() - t0
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or len(lines) < 2:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
            return 1
        rec = {"result": json.loads(lines[-1]), "report": json.loads(lines[-2])["report"],
               "wall_s": wall}
        name = f"{args.workload}-s{seed}-t{args.trace}.json"
        with open(os.path.join(args.out, name), "w") as f:
            json.dump(rec, f)
        r = rec["result"]
        print(f"{name}: {wall:.0f} s correct={r['correct']} "
              + " ".join(f"{k}={v['value']:.6g}" for k, v in r["metrics"].items()),
              flush=True)
    return 0


def load(directory: str, trace: int) -> dict:
    """{workload: {seed: record}} of one set."""
    out: dict = {}
    for path in glob.glob(os.path.join(directory, f"*-t{trace}.json")):
        with open(path) as f:
            rec = json.load(f)
        rep = rec["report"]
        out.setdefault(rep["workload"], {})[rep["host"]["seed"]] = rec
    return out


def spread_of(values: list[float]) -> tuple[float, float]:
    med = statistics.median(values)
    if len(values) < 2:
        return med, 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med if med else float("inf")


def summarize(directory: str) -> dict:
    """{(workload, metric): (median, spread, n)} of the untraced runs."""
    out = {}
    for workload, runs in load(directory, 0).items():
        names = next(iter(runs.values()))["result"]["metrics"]
        for m in names:
            vals = [r["result"]["metrics"][m]["value"] for r in runs.values()]
            med, spr = spread_of(vals)
            out[(workload, m)] = (med, spr, len(vals))
    return out


def spread(args) -> int:
    bounds = {m["name"]: m for m in bench_spec()["end_to_end"]}
    ok = True
    for (workload, m), (med, spr, n) in sorted(summarize(args.dir).items()):
        bound = bounds[m]["bound"]
        flag = "ok" if spr <= bound else "FAIL"
        ok &= flag == "ok"
        print(f"{workload:16s} {m:18s} n={n:2d} median={med:<14.6g} "
              f"spread={spr:.4f} bound={bound} (third={bound / 3:.4f}) {flag}")
    return 0 if ok else 1


def compare(args) -> int:
    spec = {m["name"]: m for m in bench_spec()["end_to_end"]}
    a, b = summarize(args.a), summarize(args.b)
    ok = True
    for key in sorted(set(a) | set(b)):
        workload, m = key
        if key not in a or key not in b:
            print(f"{workload:16s} {m:18s} missing in one set")
            ok = False
            continue
        (ma, sa, _), (mb, sb, _) = a[key], b[key]
        bound = spec[m]["bound"]
        shift = (mb - ma) / ma
        agree = sa <= bound and sb <= bound and abs(shift) <= bound
        ok &= agree
        print(f"{workload:16s} {m:18s} A={ma:<12.6g} B={mb:<12.6g} shift={shift:+.4f} "
              f"spreads={sa:.4f}/{sb:.4f} bound={bound} "
              f"{'agree' if agree else 'DISAGREE'}")
    ok &= exact_counts(args.a, args.b)
    return 0 if ok else 1


def exact_counts(dir_a: str, dir_b: str) -> bool:
    ok = True
    for trace in (0, 1):
        ra, rb = load(dir_a, trace), load(dir_b, trace)
        for workload in sorted(set(ra) & set(rb)):
            for seed in sorted(set(ra[workload]) & set(rb[workload])):
                ma = ra[workload][seed]["result"]["metrics"]
                mb = rb[workload][seed]["result"]["metrics"]
                keys = [k for k in ma if k == "bytes_per_point"
                        or k == "checkpoint.days_rebuilt_ratio"
                        or k.rsplit(".", 1)[-1] in EXACT]
                diff = [k for k in keys if ma[k]["value"] != mb.get(k, {}).get("value")]
                ok &= not diff
                print(f"exact counts {workload} seed {seed} trace {trace}: "
                      + ("equal" if not diff else "DIFFER " + ", ".join(
                          f"{k} {ma[k]['value']} != {mb[k]['value']}" for k in diff)))
    return ok


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = p.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--workload", required=True)
    r.add_argument("--seeds", required=True, help="N or LO-HI")
    r.add_argument("--out", required=True)
    r.add_argument("--trace", type=int, choices=(0, 1), default=0)
    s = sub.add_parser("spread")
    s.add_argument("dir")
    c = sub.add_parser("compare")
    c.add_argument("a")
    c.add_argument("b")
    args = p.parse_args(argv)
    return {"run": run, "spread": spread, "compare": compare}[args.cmd](args)


if __name__ == "__main__":
    sys.exit(main())
