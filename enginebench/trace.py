"""In-memory spans around calls into the engine's layers, and the Spark
counters each span caused.

A span is ``(id, name, start, end, parent, run_id)``. Its layer is the part
of the name before the first dot (``checkpoint.refresh_tier`` belongs to
``checkpoint``); spans whose layer is not in :data:`LAYERS` (``pass``,
``resume``, ``check``, ``setup``) only group the others.

Spark work is attributed after the fact, from the session's own status
stores (the JVM ``AppStatusStore`` and the SQL ``SQLAppStatusStore``, both
readable with the UI off): every job goes to the innermost span that was
open when the job was submitted, every stage to the first job that ran it,
and every SQL execution to the span of its first job. So job time lands in
the span of the call that ran it (a sink write, ``refresh_tier``), and a lazy
builder's span records only its construction.
"""

from __future__ import annotations

import re
import statistics
import threading
import time
from contextlib import contextmanager

LAYERS = [
    "session", "activity", "rollup", "checkpoint", "compress",
    "wavelet_ops", "series", "resample", "decompose",
]
PYTHON_LAYERS = ["compress", "wavelet_ops", "resample", "decompose"]
BASE_METRICS = [
    ("wall_s", "s"), ("self_s", "s"), ("driver_s", "s"), ("jobs", "count"),
    ("stages", "count"), ("tasks", "count"), ("failed_tasks", "count"),
    ("executor_cpu_s", "s"), ("input_bytes", "bytes"),
    ("shuffle_bytes", "bytes"), ("spill_bytes", "bytes"),
    ("task_skew", "ratio"),
]
PYTHON_METRICS = [
    ("python_stages", "count"), ("python_bytes_sent", "bytes"),
    ("python_init_s", "s"), ("python_run_s", "s"),
]
RATIO_METRICS = [
    ("checkpoint.scan_amplification", "ratio"),
    ("checkpoint.days_rebuilt_ratio", "ratio"),
    ("session.leaked_rdds", "count"),
]


def per_layer_metric_names() -> list[tuple[str, str]]:
    """Every per-layer metric as ``(name, unit)``, in report order."""
    out = []
    for layer in LAYERS:
        out += [(f"{layer}.{m}", u) for m, u in BASE_METRICS]
        if layer in PYTHON_LAYERS:
            out += [(f"{layer}.{m}", u) for m, u in PYTHON_METRICS]
    return out + RATIO_METRICS


class Tracer:
    """Span recorder. Disabled, it only runs the wrapped calls.

    Spans opened on a thread with no open span of its own (the day builds
    inside ``refresh_tier``) take the main thread's innermost open span as
    parent, so a layer called back from a worker thread still nests."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.get_ident()
        self._main_stack: list[int] = []

    def _stack(self) -> list[int]:
        if threading.get_ident() == self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        if stack:
            parent = stack[-1]
        else:
            parent = self._main_stack[-1] if self._main_stack else None
        with self._lock:
            rec = {"id": len(self.spans), "name": name, "parent": parent,
                   "start": time.time(), "end": None, "run_id": self.run_id}
            self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.time()
            stack.pop()


# --- Spark status stores ---------------------------------------------------

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_PY_SENT = "data sent to Python workers"
_PY_INIT = ("time to start Python workers", "time to initialize Python workers")
_PY_RUN = "time to run Python workers"
_FILES_READ = "size of files read"


def _metric_total(text: str) -> float:
    """Total of one formatted SQL metric: ``'1.2 KiB'``, ``'350 ms'``, or
    ``'total (min, med, max ...)\\n4.9 s (1.1 s, ...)'``."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = re.match(r"\s*([\d,.]+)\s*([A-Za-z]*)", text)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return value * _SIZE.get(unit, _TIME.get(unit, 1.0))


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() if opt.isDefined() else None


def read_spark_counters(spark) -> dict:
    """Snapshot of every retained job, stage and SQL execution."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    jobs = []
    jl = store.jobsList(sc._jvm.java.util.ArrayList())
    for i in range(jl.size()):
        j = jl.apply(i)
        sids = j.stageIds()
        jobs.append({
            "id": j.jobId(), "submit_ms": _opt_ms(j.submissionTime()),
            "end_ms": _opt_ms(j.completionTime()),
            "stages": [sids.apply(k) for k in range(sids.size())],
        })
    stages = {}
    for sid in sorted({s for j in jobs for s in j["stages"]}):
        try:
            st = store.lastStageAttempt(sid)
        except Exception:  # never attempted: the stage was skipped
            continue
        if str(st.status()) != "COMPLETE":
            continue
        stages[sid] = {
            "attempt": st.attemptId(), "tasks": st.numTasks(),
            "failed_tasks": st.numFailedTasks(),
            "run_ms": st.executorRunTime(),
            "cpu_s": st.executorCpuTime() / 1e9,
            "input_bytes": st.inputBytes(),
            "shuffle_bytes": st.shuffleWriteBytes(),
            "spill_bytes": st.memoryBytesSpilled() + st.diskBytesSpilled(),
        }
    sql = spark._jsparkSession.sharedState().statusStore()
    executions = []
    el = sql.executionsList()
    for i in range(el.size()):
        e = el.apply(i)
        job_ids = list(_scala_keys(e.jobs()))
        if not job_ids:
            continue
        values = sql.executionMetrics(e.executionId())
        py = {"nodes": 0, "sent": 0.0, "init_s": 0.0, "run_s": 0.0}
        files = 0.0
        seen = set()
        ms = e.metrics()
        for k in range(ms.size()):
            pm = ms.apply(k)
            name, acc = pm.name(), pm.accumulatorId()
            if acc in seen or ("Python workers" not in name and name != _FILES_READ):
                continue
            seen.add(acc)
            v = values.get(acc)
            total = _metric_total(v.get()) if v.isDefined() else 0.0
            if name == _PY_SENT and total > 0:
                py["nodes"] += 1
                py["sent"] += total
            elif name in _PY_INIT:
                py["init_s"] += total
            elif name == _PY_RUN:
                py["run_s"] += total
            elif name == _FILES_READ:
                files += total
        executions.append({"jobs": sorted(int(x) for x in job_ids), "python": py,
                           "files_read": files})
    return {"jobs": jobs, "stages": stages, "executions": executions}


def _scala_keys(m):
    it = m.keys().iterator()
    while it.hasNext():
        yield it.next()


def task_skew(spark, sid: int, attempt: int) -> float:
    """max / median executor run time over the tasks of one stage."""
    store = spark.sparkContext._jsc.sc().statusStore()
    tl = store.taskList(sid, attempt, 100000)
    runs = []
    for i in range(tl.size()):
        m = tl.apply(i).taskMetrics()
        if m.isDefined():
            runs.append(m.get().executorRunTime())
    if not runs:
        return 0.0
    return max(runs) / max(statistics.median(runs), 1.0)


# --- attribution -----------------------------------------------------------

def _layer(name: str) -> str | None:
    head = name.split(".", 1)[0]
    return head if head in LAYERS else None


def _union_len(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def attribute(spans: list[dict], counters: dict) -> dict:
    """Per-span job, stage and SQL-execution ids (innermost open span at
    job submission wins)."""
    by_id = {s["id"]: s for s in spans}
    own_jobs = {s["id"]: [] for s in spans}
    job_span = {}
    for j in counters["jobs"]:
        t = j["submit_ms"]
        if t is None:
            continue
        best = None
        for s in spans:
            if s["start"] * 1000 - 1 <= t <= s["end"] * 1000 + 1:
                if best is None or s["start"] >= by_id[best]["start"]:
                    best = s["id"]
        if best is not None:
            own_jobs[best].append(j)
            job_span[j["id"]] = best
    own_stages = {s["id"]: [] for s in spans}
    seen = set()
    for j in sorted(counters["jobs"], key=lambda j: j["id"]):
        sp = job_span.get(j["id"])
        for sid in j["stages"]:
            if sid in seen or sid not in counters["stages"]:
                continue
            seen.add(sid)
            if sp is not None:
                own_stages[sp].append(sid)
    own_exec = {s["id"]: [] for s in spans}
    for e in counters["executions"]:
        sp = job_span.get(e["jobs"][0])
        if sp is not None:
            own_exec[sp].append(e)
    return {"jobs": own_jobs, "stages": own_stages, "executions": own_exec}


def layer_metrics(spark, spans: list[dict], counters: dict) -> tuple[dict, float]:
    """The per-layer report over every traced span except those under
    ``check`` roots, and the file bytes that the ``checkpoint`` spans' jobs
    scanned (the SQL scans' "size of files read": stage ``inputBytes``
    undercounts local parquet reads)."""
    spans = [s for s in spans if s["end"] is not None]
    by_id = {s["id"]: s for s in spans}
    children = {s["id"]: [] for s in spans}
    for s in spans:
        if s["parent"] in children:
            children[s["parent"]].append(s)

    def root(s):
        while s["parent"] in by_id:
            s = by_id[s["parent"]]
        return s["name"]

    own = attribute(spans, counters)
    stages = counters["stages"]
    acc = {layer: {m: 0.0 for m, _ in BASE_METRICS + PYTHON_METRICS}
           for layer in LAYERS}
    largest = {layer: None for layer in LAYERS}
    scanned = 0.0
    for s in spans:
        layer, top = _layer(s["name"]), root(s)
        if layer is None or top == "check":
            continue
        if layer == "checkpoint":
            scanned += sum(e["files_read"] for e in own["executions"][s["id"]])
        a = acc[layer]
        dur = s["end"] - s["start"]
        self_s = dur - _union_len([(c["start"], c["end"]) for c in children[s["id"]]])
        parent = by_id.get(s["parent"])
        if parent is None or _layer(parent["name"]) != layer:
            a["wall_s"] += dur
        a["self_s"] += self_s
        busy = [(max(j["submit_ms"] / 1000, s["start"]),
                 min((j["end_ms"] or s["end"] * 1000) / 1000, s["end"]))
                for j in own["jobs"][s["id"]]]
        a["driver_s"] += max(0.0, self_s - _union_len(busy))
        a["jobs"] += len(own["jobs"][s["id"]])
        for sid in own["stages"][s["id"]]:
            st = stages[sid]
            a["stages"] += 1
            for m in ("tasks", "failed_tasks", "input_bytes", "shuffle_bytes",
                      "spill_bytes"):
                a[m] += st[m]
            a["executor_cpu_s"] += st["cpu_s"]
            if largest[layer] is None or st["run_ms"] > stages[largest[layer]]["run_ms"]:
                largest[layer] = sid
        for e in own["executions"][s["id"]]:
            a["python_stages"] += e["python"]["nodes"]
            a["python_bytes_sent"] += e["python"]["sent"]
            a["python_init_s"] += e["python"]["init_s"]
            a["python_run_s"] += e["python"]["run_s"]
    out = {}
    for layer in LAYERS:
        names = BASE_METRICS + (PYTHON_METRICS if layer in PYTHON_LAYERS else [])
        for m, _ in names:
            out[f"{layer}.{m}"] = acc[layer][m]
        sid = largest[layer]
        out[f"{layer}.task_skew"] = (
            task_skew(spark, sid, stages[sid]["attempt"]) if sid is not None else 0.0)
    return out, scanned
