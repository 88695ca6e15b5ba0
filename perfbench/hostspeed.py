"""The host's current single-thread speed, sampled between ops.

On a shared host the speed of a core drifts with the load other tenants
put on the machine: on a 4-core VM the same plan_sweep pass, in the same
process, took anywhere from 3.4 s to 6.5 s within a few minutes, and a
fixed Python loop slowed by about the same factor at the same time.  A
wall-clock figure per run then measures the host more than the program.
So the benchmark scales each op's wall time to a nominal host speed: by
``NOMINAL_S`` over the reference loop's time, sampled before the first
op of a pass and after every op.  A change that makes the program faster
lowers the scaled time; a host that slows everything down leaves it
where it was.

Which samples estimate the speed an op ran at depends on where it ran.
plan_sweep's ops run on the sampling thread, and the host's speed moves
within seconds, so an op takes the mean of the two samples before it and
the two after it.  The Spark workloads' ops run in the JVM on every
core, and a sample taken next to one is noisy (0.4-2.2 ms where a quiet
thread reads 0.8 ms), so each op takes the median of the run's samples.

Spread of ten runs (distance between quartiles over the median; cold
pass, warm pass, op p50, op p90), in wall seconds / scaled:

- plan_sweep, seeds 1-10: 0.27 0.12 0.14 0.20 / 0.09 0.05 0.09 0.06;
  with the run's median sample instead: 0.24 0.30 0.36 0.27.
- pipeline_ops, seeds 1-10 (two of the runs in a slow phase of the
  host): 0.25 0.23 0.23 0.30 / 0.12 0.11 0.13 0.20; with the samples
  around each op instead: 0.14 0.22 0.21 0.28.
- join_exec, seeds 1-10 (a quiet host): 0.06 0.04 0.06 0.06 / 0.11
  0.06 0.09 0.10.

The loop does the kind of work the planners' inner loops do: it looks
up frozenset keys in a dict of 40,000 entries (a few megabytes, so the
caches the host shares are in play too), builds small objects and
unions sets.  A loop over a working set that fits in the first-level
cache tracked the planners about half as well.  Its time is read from
this thread's CPU clock, so another thread of the process holding the
interpreter lock, or the scheduler running something else on this
core, does not lengthen it.
"""

from __future__ import annotations

import statistics
import time

LOOP_N = 600  # about 1 ms a run on a 2 GHz Xeon core
RUNS = 3  # a sample is the fastest of this many runs
NOMINAL_S = 0.85e-3  # the loop's median time on a 2 GHz Xeon core
TABLE = {frozenset((i, i * 7 % 1000, i * 13 % 997)): i for i in range(40_000)}
KEYS = list(TABLE)


class _Node:
    __slots__ = ("left", "right")

    def __init__(self, left, right) -> None:
        self.left = left
        self.right = right


def _loop() -> int:
    acc = 0
    for j in range(LOOP_N):
        key = KEYS[j * 7919 % len(KEYS)]
        node = _Node(TABLE[key], len(key))
        acc += node.left + node.right + TABLE.get(key | {j}, 0)
    return acc


def probe() -> float:
    """Seconds of this thread's CPU time one reference loop takes now."""
    best = float("inf")
    for _ in range(RUNS):
        t0 = time.thread_time()
        _loop()
        best = min(best, time.thread_time() - t0)
    return best


def scaled(walls: list[float], probes: list[float], local: bool = True) -> list[float]:
    """Each op's wall time at the nominal speed.  ``probes[i]`` was
    sampled just before op ``i`` and ``probes[i + 1]`` just after it;
    with ``local`` false, every op takes the median of ``probes``."""
    if not local:
        speed = NOMINAL_S / statistics.median(probes)
        return [wall * speed for wall in walls]
    out = []
    for i, wall in enumerate(walls):
        near = probes[max(0, i - 1):i + 3]
        out.append(wall * NOMINAL_S * len(near) / sum(near))
    return out
