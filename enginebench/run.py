"""Engine benchmark: one workload, one seed, one run.

    python3 enginebench/run.py --workload wavelet_scan --seed 1 --seconds 6 --trace 0

Run from the repository root. The run builds a ``local[nproc]`` session in
this one driver process, generates and stores the workload's seeded input
twice (set-up reports the median), runs one untimed warm-up pass, then
runs closed-loop passes for ``--seconds`` seconds and one no-op resume, and
checks the outputs.

``--trace 0`` prints every end-to-end metric. ``--trace 1`` runs the same
untraced passes, then exactly one traced pass, and prints every per-layer
metric over the traced set-up, pass, resume and encode; it also reports the
tracing overhead (traced minus untraced pass wall) and one ``local[1]`` pass
(the parallel speed-up), and writes the spans and Spark counters to
``.enginebench/results/``.

The last line of stdout is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``; the line before it is a
``{"report": ...}`` object with the host context and raw samples. Every file
the run writes stays under ``.enginebench/`` in the repository root.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_REPS = 2
MIN_PASSES = 2  # a run's median pass never rests on one sample
DRIVER_MEMORY = "1g"


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def isolate(work: str) -> dict:
    """Point every temp and scratch location of Python, the JVM and Spark
    into ``work``; return the extra Spark confs that do the same."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    import tempfile

    tempfile.tempdir = None
    return {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.driver.extraJavaOptions":
            f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # keep every job, stage and SQL execution of a run for the trace
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }


def host_context(seed: int, nproc: int) -> dict:
    import pyspark

    probe = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "host_probe.py")],
        capture_output=True, text=True, timeout=120, check=True)
    return {
        "nproc": nproc, "pyspark": pyspark.__version__,
        "python": sys.version.split()[0], "seed": seed,
        "host_probe": json.loads(probe.stdout.strip().splitlines()[-1]),
    }


def descendants() -> list[int]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(entry))
    out, todo = [], list(kids.get(os.getpid(), []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += kids.get(pid, [])
    return out


class RssSampler:
    """Peak summed RSS of this process's descendants (the driver JVM and
    its Python workers), sampled from /proc; ``exclude`` names child
    processes that are not the engine's."""

    def __init__(self, exclude=(), interval: float = 0.1):
        self.exclude = set(exclude)
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _sample(self) -> int:
        total = 0
        for pid in descendants():
            if pid in self.exclude:
                continue
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                pass
        return total

    def _run(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, self._sample())
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def become_subreaper() -> None:
    """Make this process the reaper of its orphaned descendants (Linux), so
    that a process whose parent ends first (a Python worker of the JVM, a
    helper of a tool) can still be waited for by :func:`stop_descendants`."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    try:
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def stop_descendants(grace: float = 20.0) -> None:
    """Terminate every process still descending from this one and wait until
    each has ended: SIGTERM first, SIGKILL after ``grace`` seconds."""
    deadline = time.monotonic() + grace
    signalled: dict[int, int] = {}
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        live = descendants()
        if not live:
            return
        sig = signal.SIGKILL if time.monotonic() > deadline else signal.SIGTERM
        for pid in live:
            if signalled.get(pid) != sig:
                signalled[pid] = sig
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def _terminate(signum, frame):
    raise SystemExit(128 + signum)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM gateway, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    except Exception:  # a call cut short by a signal can leave py4j unusable
        traceback.print_exc(file=sys.stderr)
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


class Runner:
    def __init__(self, args, work: str, conf: dict):
        from enginebench.calibrate import Calibrator
        from enginebench.trace import Tracer
        from enginebench.workloads import WORKLOADS, Ctx

        self.args = args
        self.work = work
        self.conf = conf
        self.nproc = len(os.sched_getaffinity(0))
        self.tracer = Tracer(False, f"{args.workload}-s{args.seed}-{os.getpid()}")
        self.ctx = Ctx(self.tracer, self.nproc)
        self.wl = WORKLOADS[args.workload](self.ctx, args.seed)
        self.days_rebuilt = 0
        self.days_seen = 0
        self.rdds: list[int] = []
        self.cal = Calibrator(self.nproc)

    def build_session(self, cores: int):
        from wavelet_decomposition_spark.plans.session import build_session

        if self.ctx.spark is not None:
            self.ctx.spark.stop()
        spark = self.ctx.call("session.build_session", build_session,
                              app_name="enginebench", cores=cores,
                              extra_conf=self.conf)
        spark.sparkContext.setLogLevel("ERROR")
        self.ctx.spark = spark
        return spark

    def setup(self) -> float:
        """Session build (with the package zip), then SETUP_REPS input
        generations, each stored in a fresh directory, then one untimed
        warm-up pass. Reported: session + median input + warm-up. A traced
        run reports no set-up time and generates its input once, which keeps
        it within the run time limit."""
        self.tracer.enabled = bool(self.args.trace)
        reps = 1 if self.args.trace else SETUP_REPS
        t0 = time.perf_counter()
        with self.tracer.span("setup"):
            self.build_session(self.nproc)
        self.session_s = time.perf_counter() - t0
        walls = []
        for rep in range(reps):
            t0 = time.perf_counter()
            with self.tracer.span("setup"):
                self.wl.store_input(os.path.join(self.work, f"input-{rep}"))
            walls.append(time.perf_counter() - t0)
            if rep:
                remove(os.path.join(self.work, f"input-{rep - 1}"))
        self.tracer.enabled = False
        t0 = time.perf_counter()
        self.wl.run_pass(os.path.join(self.work, "warm"))
        self.warm_s = time.perf_counter() - t0
        remove(os.path.join(self.work, "warm"))
        self.input_walls = walls
        return self.session_s + statistics.median(walls) + self.warm_s

    def hygiene_baseline(self):
        spark = self.ctx.spark
        self.conf0 = dict(spark.conf.getAll)
        self.rdds.append(spark.sparkContext._jsc.getPersistentRDDs().size())

    def hygiene_check(self):
        spark = self.ctx.spark
        now = dict(spark.conf.getAll)
        changed = sorted(k for k in set(now) | set(self.conf0)
                         if now.get(k) != self.conf0.get(k))
        self.ctx.check("session conf unchanged", not changed, str(changed))
        self.rdds.append(spark.sparkContext._jsc.getPersistentRDDs().size())

    def settle(self) -> None:
        """Collect garbage in this process and in the driver JVM before a
        timed call, so that a collection the previous call left pending does
        not land in it at random."""
        gc.collect()
        self.ctx.spark.sparkContext._jvm.System.gc()

    def passes(self, seconds: float, tag: str, min_passes: int = MIN_PASSES) -> dict:
        """Closed loop of passes until ``seconds`` have gone and at least
        ``min_passes`` have run, then one re-run of the idempotent
        ``refresh_tier`` that keeps the input current (it must rebuild
        nothing). Each pass writes to a fresh directory; the last one is
        kept."""
        samples = {"pass_s": [], "resume_s": [], "kernel_s": []}
        deadline = time.perf_counter() + seconds
        out = None
        i = 0
        while True:
            prev, out = out, os.path.join(self.work, f"pass-{tag}-{i}")
            try:
                self.settle()
                t0 = time.perf_counter()
                with self.tracer.span("pass"):
                    self.wl.run_pass(out)
                samples["pass_s"].append(time.perf_counter() - t0)
            except Exception as exc:  # a failed pass counts, the loop goes on
                traceback.print_exc(file=sys.stderr)
                self.ctx.fail(f"pass {tag}-{i}", repr(exc))
            # the host-speed kernel runs right after every timed pass, so its
            # samples track the conditions the passes ran under
            samples["kernel_s"].append(self.cal.sample())
            with self.tracer.span("check"):
                self.hygiene_check()
            if prev is not None:
                remove(prev)
            i += 1
            if time.perf_counter() >= deadline and i >= min_passes:
                break
        self.last_out = out
        try:
            self.settle()
            t0 = time.perf_counter()
            with self.tracer.span("resume"):
                rebuilt, days = self.wl.resume(out)
            samples["resume_s"].append(time.perf_counter() - t0)
            self.days_rebuilt += rebuilt
            self.days_seen += days
            self.ctx.check("resume rebuilt nothing", rebuilt == 0,
                           f"{rebuilt} of {days} days")
        except Exception as exc:
            traceback.print_exc(file=sys.stderr)
            self.ctx.fail(f"resume {tag}", repr(exc))
        self.cal.sample()
        return samples

    def finish(self) -> float:
        """Encode the stored input (bytes_per_point), then check the last
        pass's outputs."""
        try:
            with self.tracer.span("encode"):
                bpp = self.wl.bytes_per_point(self.last_out)
            with self.tracer.span("check"):
                self.wl.check_output(self.last_out)
            return bpp
        except Exception as exc:
            traceback.print_exc(file=sys.stderr)
            self.ctx.fail("output checks", repr(exc))
            return float("nan")

    def run(self) -> tuple[dict, dict]:
        args = self.args
        self.cal.sample()
        setup_s = self.setup()
        self.cal.sample()
        self.hygiene_baseline()
        report = {"session_s": self.session_s, "input_walls_s": self.input_walls,
                  "warmup_s": self.warm_s}
        if not args.trace:
            with RssSampler(exclude=self.cal.pids()) as rss:
                s = self.passes(args.seconds, "t0")
            t0 = time.perf_counter()
            bpp = self.finish()
            report["finish_s"] = time.perf_counter() - t0
            # set-up is scaled by every kernel sample of the run, the passes
            # by the samples taken right after them
            f_setup = self.cal.factor(self.cal.samples)
            f_pass = self.cal.factor(s["kernel_s"])
            report.update(samples=s, raw_setup_s=setup_s, calibration_s=self.cal.samples,
                          host_factor={"setup": f_setup, "pass": f_pass})
            metrics = {
                "setup_s": (setup_s * f_setup, "s"),
                "input_rows_per_s": (
                    self.wl.input_rows / (statistics.median(s["pass_s"]) * f_pass), "1/s"),
                "bytes_per_point": (bpp, "B"),
                "peak_rss_mb": (rss.peak / 2**20, "MB"),
            }
            return metrics, report
        return self.run_traced(report)

    def run_traced(self, report: dict) -> tuple[dict, dict]:
        from enginebench.trace import layer_metrics, per_layer_metric_names, read_spark_counters

        plain = self.passes(self.args.seconds, "plain", min_passes=1)
        self.tracer.enabled = True
        traced = self.passes(0, "traced", min_passes=1)
        self.finish()
        self.tracer.enabled = False
        spark = self.ctx.spark
        counters = read_spark_counters(spark)
        layers, scanned = layer_metrics(spark, self.tracer.spans, counters)
        layers["checkpoint.scan_amplification"] = scanned / self.wl.source_bytes
        layers["checkpoint.days_rebuilt_ratio"] = self.days_rebuilt / max(1, self.days_seen)
        layers["session.leaked_rdds"] = self.rdds[-1] - self.rdds[0]
        med = statistics.median
        overhead = {
            "untraced_pass_s": med(plain["pass_s"]),
            "traced_pass_s": med(traced["pass_s"]),
            "overhead_s": med(traced["pass_s"]) - med(plain["pass_s"]),
            "overhead_pct": 100 * (med(traced["pass_s"]) / med(plain["pass_s"]) - 1),
        }
        # one local[1] pass in the same (JIT-warm) JVM: the parallel speed-up;
        # it includes starting the local[1] session's Python worker
        self.build_session(1)
        t0 = time.perf_counter()
        self.wl.run_pass(os.path.join(self.work, "local1"))
        one = time.perf_counter() - t0
        report.update(samples={"untraced": plain, "traced": traced},
                      tracing_overhead=overhead,
                      local1_pass_s=one,
                      parallel_speedup=one / med(plain["pass_s"]),
                      spans=self.tracer.spans, spark_counters=counters)
        units = dict(per_layer_metric_names())
        return {k: (layers[k], units[k]) for k in units}, report


def remove(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


def main(argv=None) -> int:
    t_start = time.perf_counter()
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "wavelet_decomposition_spark")):
        print("enginebench: wavelet_decomposition_spark not found beside the "
              "benchmark; run from a repository checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from enginebench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"enginebench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".enginebench")
    work = os.path.join(base, f"work-{os.getpid()}")
    results = os.path.join(base, "results")
    os.makedirs(results, exist_ok=True)
    conf = isolate(work)
    become_subreaper()
    signal.signal(signal.SIGTERM, _terminate)
    runner = None
    try:
        runner = Runner(args, work, conf)
        host = host_context(args.seed, runner.nproc)
        t_host = time.perf_counter()
        metrics, report = runner.run()
        host["java"] = runner.ctx.spark.sparkContext._jvm.java.lang.System.getProperty(
            "java.version")
    finally:
        try:
            if runner is not None:
                runner.cal.close()
                if runner.ctx.spark is not None:
                    stop_spark(runner.ctx.spark)
        finally:
            # whatever the path out, no process this run started outlives it
            stop_descendants()
            remove(work)
    report["run_phases_s"] = {"start_and_probe": t_host - t_start,
                              "total": time.perf_counter() - t_start}
    ctx = runner.ctx
    spans = report.pop("spans", None)
    counters = report.pop("spark_counters", None)
    report.update(
        workload=args.workload, why=runner.wl.why, seconds=args.seconds,
        trace=args.trace, host=host, input_sizes=runner.wl.sizes,
        input_rows=runner.wl.input_rows, input_bytes=runner.wl.input_bytes,
        failed_ops_ratio=ctx.failed / max(1, ctx.attempted),
        failures=ctx.failures)
    result = {
        "correct": ctx.failed == 0, "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    stamp = f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time())}-{os.getpid()}"
    with open(os.path.join(results, stamp + ".json"), "w") as f:
        json.dump({"result": result, "report": report}, f)
    if spans is not None:
        with open(os.path.join(results, stamp + ".trace.json"), "w") as f:
            json.dump({"spans": spans, "spark_counters": counters}, f)
    print(json.dumps({"report": report}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
