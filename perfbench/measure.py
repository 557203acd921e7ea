"""Timing statistics and /proc readings for a process tree.

CPU time of a tree is ``utime + stime + cutime + cstime`` summed over
its live processes: a child that exits and is reaped moves its time
into its parent's ``cutime``/``cstime``, so a difference of two
readings counts it either way.  The split by role follows the shape
the program runs in: the Python driver, the JVM it launches, and the
Python daemon and workers the JVM forks.
"""

from __future__ import annotations

import math
import os
import statistics

CLK_TCK = os.sysconf("SC_CLK_TCK")
TAIL_LADDER = (75.0, 90.0, 95.0, 99.0, 99.9)
MIN_BEYOND = 10


def summarize(samples: list[float]) -> dict:
    """Median, sample count, and the highest percentile of `TAIL_LADDER`
    with at least `MIN_BEYOND` samples above it (nearest rank).  With
    fewer samples than that needs, only the median is given."""
    xs = sorted(samples)
    out = {"n": len(xs), "p50": statistics.median(xs)}
    for p in TAIL_LADDER:
        rank = math.ceil(round(p * len(xs) / 100.0, 9))
        if len(xs) - rank >= MIN_BEYOND:
            out["tail_pct"], out["tail"] = p, xs[rank - 1]
    return out


def read_stat(pid: int) -> tuple[str, int, int, int] | None:
    """(comm, ppid, own cpu clock ticks, reaped children's ticks)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:  # exited between listing and reading
        return None
    comm = s[s.index("(") + 1 : s.rindex(")")]
    rest = s[s.rindex(")") + 2 :].split()
    own, reaped = int(rest[11]) + int(rest[12]), int(rest[13]) + int(rest[14])
    return comm, int(rest[1]), own, reaped


def tree(root: int) -> dict[int, tuple[str, int, int, int]]:
    """Every live process under `root` (included), keyed by pid."""
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = read_stat(int(name))
            if st is not None:
                procs[int(name)] = st
    kids: dict[int, list[int]] = {}
    for pid, st in procs.items():
        kids.setdefault(st[1], []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in procs:
            out[pid] = procs[pid]
            todo.extend(kids.get(pid, ()))
    return out


def cpu_split(root: int) -> dict[str, float]:
    """CPU seconds of the tree under `root`, split into ``driver`` (the
    root and non-JVM processes outside the JVM), ``jvm`` and
    ``pyworker`` (everything under the JVM, plus the JVM's reaped
    children)."""
    procs = tree(root)
    jvms = {pid for pid, st in procs.items() if st[0] == "java"}
    under_jvm: set[int] = set()
    for pid in procs:
        p = pid
        while p in procs and p != root:
            if procs[p][1] in jvms:
                under_jvm.add(pid)
                break
            p = procs[p][1]
    split = {"driver": 0.0, "jvm": 0.0, "pyworker": 0.0}
    for pid, (_comm, _ppid, own, reaped) in procs.items():
        if pid in jvms:
            split["jvm"] += own / CLK_TCK
            split["pyworker"] += reaped / CLK_TCK
        elif pid in under_jvm:
            split["pyworker"] += (own + reaped) / CLK_TCK
        else:
            split["driver"] += (own + reaped) / CLK_TCK
    return split


def steal_s() -> float:
    """Seconds the hypervisor took from this machine's CPUs (all CPUs
    summed): time in which a runnable process could not run."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / CLK_TCK


def tree_cpu_s(root: int) -> float:
    return sum(st[2] + st[3] for st in tree(root).values()) / CLK_TCK


def tree_peak_rss_mb(root: int) -> float:
    """Sum over the live tree of each process's peak resident set
    (``VmHWM``): the JVM's heap rarely shrinks, so this tracks the
    tree's peak without a sampling thread."""
    kb = 0
    for pid in tree(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                kb += next((int(ln.split()[1]) for ln in f if ln.startswith("VmHWM:")), 0)
        except OSError:
            pass
    return kb / 1024
