"""CPU time of the benchmark's process tree, read from ``/proc``.

The driver Python process starts the driver JVM (``java``) as a child;
the JVM starts the PySpark worker daemon, which forks the Python
workers. A snapshot sums CPU seconds per class:

- ``driver_py``: the benchmark's own process (all its threads);
- ``jvm``: the driver JVM's own user + system time;
- ``pyworker``: every process under the JVM, plus the CPU of children
  they (or the JVM) have already reaped.

Reaped children's CPU is read from the parent's ``cutime``/``cstime``,
so a worker that starts and exits between two snapshots still counts,
as long as its parent lives. Deltas between two snapshots give the CPU
a pass spent in each class.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

TICK = os.sysconf("SC_CLK_TCK")


@dataclass(frozen=True)
class Proc:
    pid: int
    comm: str
    ppid: int
    own_s: float  # utime + stime
    reaped_s: float  # cutime + cstime


def read_proc(pid: int, root: str = "/proc") -> Proc | None:
    try:
        with open(f"{root}/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces and parentheses: split on the LAST ')'
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    rest = raw[raw.rindex(")") + 2 :].split()
    # fields after comm: state(0) ppid(1) ... utime(11) stime(12)
    # cutime(13) cstime(14), in clock ticks
    utime, stime, cutime, cstime = (int(x) for x in rest[11:15])
    return Proc(pid, comm, int(rest[1]), (utime + stime) / TICK,
                (cutime + cstime) / TICK)


def process_table(root: str = "/proc") -> dict[int, Proc]:
    table = {}
    for name in os.listdir(root):
        if name.isdigit():
            p = read_proc(int(name), root)
            if p is not None:
                table[p.pid] = p
    return table


def descendants(table: dict[int, Proc], pid: int) -> list[Proc]:
    kids: dict[int, list[Proc]] = {}
    for p in table.values():
        kids.setdefault(p.ppid, []).append(p)
    out, todo = [], [pid]
    while todo:
        for child in kids.get(todo.pop(), []):
            out.append(child)
            todo.append(child.pid)
    return out


def classify(table: dict[int, Proc], driver_pid: int) -> dict[str, float]:
    """CPU seconds so far, per class, for the tree under ``driver_pid``."""
    me = table[driver_pid]
    below = descendants(table, driver_pid)
    jvm = next((p for p in below if p.comm == "java"), None)
    if jvm is None:
        return {"driver_py": me.own_s, "jvm": 0.0, "pyworker": 0.0}
    workers = descendants(table, jvm.pid)
    return {
        "driver_py": me.own_s,
        "jvm": jvm.own_s,
        "pyworker": jvm.reaped_s + sum(p.own_s + p.reaped_s for p in workers),
    }


def snapshot(driver_pid: int | None = None) -> dict[str, float]:
    return classify(process_table(), driver_pid or os.getpid())


def delta(before: dict[str, float], after: dict[str, float]) -> dict[str, float]:
    return {k: after[k] - before[k] for k in after}
