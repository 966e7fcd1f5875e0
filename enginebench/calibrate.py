"""Host-speed calibration taken in the same window as the measurements.

A shared host's wall clock can swing 2-6x between windows under other
tenants' memory-bandwidth and CPU contention, and a single pass cannot tell a
slower engine from a slower host. So, next to every timed call, all ``nproc``
cores run a fixed kernel (one memory-bound numpy sweep and one
interpreter-bound loop, the two kinds of work a pass mixes), and the run's
time metrics are scaled by ``REF_S / median(kernel wall)``: seconds on a
host where the kernel takes ``REF_S``. Pass walls use the samples taken
right after the passes; set-up uses every sample of the run. The engine never runs the kernel, so a change to the engine moves
the pass and not the divisor. Raw walls stay in the run's report.

The kernel runs in ``nproc`` worker processes started with ``subprocess``
(``python3 calibrate.py --serve``), one kernel per worker per sample, so
all cores run it at once; :meth:`Calibrator.close` ends and waits for them.
"""

from __future__ import annotations

import statistics
import subprocess
import sys
import time

import numpy as np

# The kernel's median wall on a quiet 4-core x86 VM: the median over the
# nine runs whose tools/host_probe.py solo reading was at most 0.38 s
# (0.28-0.34 s; 0.28-0.48 s over all 119 runs of that build). Only ratios
# of scaled walls are ever compared, so this constant cancels out of them.
REF_S = 0.31


def _kernel() -> float:
    a = np.arange(2_500_000, dtype=np.float64)  # 20 MB
    t0 = time.perf_counter()
    s = 0.0
    for _ in range(24):
        s += float((a * 1.0000001).sum())
    d: dict[int, int] = {}
    for i in range(600_000):
        d[i & 1023] = d.get(i & 1023, 0) + i
    return time.perf_counter() - t0


def _serve() -> None:
    """Worker loop: one kernel wall per line read, until stdin closes."""
    for _ in sys.stdin:
        print(repr(_kernel()), flush=True)


class Calibrator:
    """``nproc`` kernel workers that time the kernel together."""

    def __init__(self, nproc: int):
        self.nproc = nproc
        self.samples: list[float] = []
        self._procs = []
        try:
            for _ in range(nproc):
                self._procs.append(subprocess.Popen(
                    [sys.executable, __file__, "--serve"], stdin=subprocess.PIPE,
                    stdout=subprocess.PIPE, text=True))
        except BaseException:
            self.close()
            raise

    def sample(self) -> float:
        for p in self._procs:
            p.stdin.write("go\n")
            p.stdin.flush()
        walls = [float(p.stdout.readline()) for p in self._procs]
        self.samples.append(statistics.median(walls))
        return self.samples[-1]

    @staticmethod
    def factor(samples: list[float]) -> float:
        """Multiply a wall measured next to ``samples`` by this to get
        reference-host seconds."""
        return REF_S / statistics.median(samples)

    def pids(self) -> list[int]:
        return [p.pid for p in self._procs]

    def close(self) -> None:
        """Close every worker's stdin and wait for it to end."""
        for p in self._procs:
            try:
                p.stdin.close()
            except OSError:
                pass
        for p in self._procs:
            try:
                p.wait(timeout=30)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
            p.stdout.close()
        self._procs = []


if __name__ == "__main__" and sys.argv[1:] == ["--serve"]:
    _serve()
