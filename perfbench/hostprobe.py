"""Host-speed control for the end-to-end metrics.

The benchmark runs on shared machines whose speed drifts by far more
than any bound within minutes (a `curate` pass read 8.7 s and, ten
minutes later on the same code, 4.8 s; set-up time moved with it). A
probe that shares nothing with the program under test measures that
speed in each run: a fixed integer loop run once on each of ``cores``
worker processes at the same time. Its wall time is what a fixed amount
of CPU work costs on the host right now.

The probe runs before the inputs are built and the JVM starts, and
again after the JVM has exited, so it brackets the run and nothing the
program leaves running can slow it. The end-to-end times are reported at
a reference host speed: ``raw wall * PROBE_REF_S / median probe wall``.
``PROBE_REF_S`` only sets the scale (about the probe wall on the 4-core
VM the benchmark was tuned on); the raw walls and every probe wall go
into ``run.json``.
"""

from __future__ import annotations

import ctypes
import multiprocessing
import signal
import statistics
import time
from concurrent.futures import ProcessPoolExecutor

LOOP_N = 3_000_000
PROBE_REF_S = 0.25
PR_SET_PDEATHSIG = 1


def spin(n: int) -> int:
    """Fixed CPU work: no allocation that grows, no I/O."""
    s = 0
    for i in range(n):
        s += (i * 7) ^ (i >> 3)
    return s


def _die_with_parent() -> None:
    # a probe worker must not outlive a benchmark that is killed
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_PDEATHSIG, signal.SIGKILL)


class HostProbe:
    """``cores`` probe processes, all forked at once when the probe is
    made, so make it while the process has no other threads."""

    def __init__(self, cores: int) -> None:
        self.cores = cores
        self.walls: list[float] = []
        self.pool = ProcessPoolExecutor(
            cores, mp_context=multiprocessing.get_context("fork"),
            initializer=_die_with_parent)
        # the first round after the fork reads up to 4x slow: discard it
        list(self.pool.map(spin, [LOOP_N] * cores))

    def measure(self, rounds: int = 5) -> None:
        for _ in range(rounds):
            t = time.perf_counter()
            list(self.pool.map(spin, [LOOP_N] * self.cores))
            self.walls.append(time.perf_counter() - t)

    def scale(self) -> float:
        """Factor that takes a wall time to the reference host speed."""
        return PROBE_REF_S / statistics.median(self.walls)

    def close(self) -> None:
        """Stop the probe processes and wait for them to exit."""
        self.pool.shutdown(wait=True)
