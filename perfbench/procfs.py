"""Process figures from ``/proc``: the benchmark's process tree and its
CPU time.

The tree is this Python driver, the Spark JVM it launched and the
JVM's Python UDF workers.  CPU time counts user and system time of every
live process in it plus what its exited, reaped children used.  Time the
hypervisor gives to other guests (steal) is charged to none of them, so
on a shared host this figure moves far less than wall time.  The JVM's
JIT compiler threads are counted apart: their time falls pass by pass
as the JVM warms, whatever the program does.
"""

from __future__ import annotations

import os

TICK = os.sysconf("SC_CLK_TCK")


def _table() -> dict[int, tuple[str, list[str]]]:
    """pid → (command name, the fields of ``/proc/<pid>/stat`` after it)."""
    out = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    s = f.read()
                out[int(d)] = (s[s.index("(") + 1:s.rindex(")")],
                               s[s.rindex(")") + 1:].split())
            except (OSError, ValueError):
                pass
    return out


def descendants(pid: int, table: dict | None = None) -> set[int]:
    table = _table() if table is None else table
    kids: dict[int, list[int]] = {}
    for p, (_, fields) in table.items():
        kids.setdefault(int(fields[1]), []).append(p)
    out, todo = set(), [pid]
    while todo:
        found = kids.get(todo.pop(), [])
        out.update(found)
        todo.extend(found)
    return out


# HotSpot's JIT compiler threads, as /proc shows their names; the JVM is
# started with -XX:-UseDynamicNumberOfCompilerThreads so they never exit
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _ticks(fields: list[str], end: int = 15) -> int:
    """utime + stime + cutime + cstime; ``end=13`` for a thread's own
    utime + stime (a thread's cutime/cstime are its process's)."""
    return sum(int(x) for x in fields[11:end])


def _jit_ticks(pid: int) -> int:
    total = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for t in tids:
        try:
            with open(f"/proc/{pid}/task/{t}/stat") as f:
                s = f.read()
        except OSError:
            continue
        if s[s.index("(") + 1:s.rindex(")")].startswith(JIT_THREADS):
            total += _ticks(s.rsplit(")", 1)[1].split(), 13)
    return total


def tree_cpu(root: int | None = None) -> dict[str, float]:
    """CPU seconds used so far under ``root`` (this process by default):
    ``driver`` (``root`` itself), ``jvm`` (the Spark JVM less its JIT
    compiler threads), ``workers`` (the JVM's descendants, the Python UDF
    workers) and ``jit``.  Each is utime + stime + cutime + cstime."""
    root = os.getpid() if root is None else root
    table = _table()
    out = {"driver": _ticks(table[root][1]), "jvm": 0, "workers": 0, "jit": 0}
    for p in descendants(root, table):
        if table[p][0] == "java":
            jit = _jit_ticks(p)
            out["jvm"] += _ticks(table[p][1]) - jit
            out["jit"] += jit
            under = descendants(p, table)
            out["workers"] += sum(_ticks(table[c][1]) for c in under)
    return {k: v / TICK for k, v in out.items()}


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM in /proc status")
