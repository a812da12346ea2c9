"""Resource use of the benchmark process and everything it started
(the Spark JVM and its Python workers), read from /proc."""

from __future__ import annotations

import os
import sys

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int | str) -> list[str]:
    """The fields of /proc/<pid>/stat after the command name."""
    with open(f"/proc/{pid}/stat") as f:
        return f.read().rsplit(")", 1)[1].split()


def descendants(pid: int) -> set[int]:
    """``pid`` and every process below it, from the parent ids in /proc."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            ppid = int(_stat_fields(name)[1])
        except OSError:
            continue
        kids.setdefault(ppid, []).append(int(name))
    out, todo = set(), [pid]
    while todo:
        p = todo.pop()
        if p not in out:
            out.add(p)
            todo.extend(kids.get(p, []))
    return out


# Threads of the JVM's own just-in-time compiler: warm-up that a
# long-running session pays once, and in a fresh JVM the largest and
# least steady part of its CPU time. Spark's code generation runs in
# Spark's own threads and stays counted.
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre", "Sweeper thread")


def cpu_seconds() -> float:
    """User plus system CPU seconds of this process tree so far, the
    reaped children of each process included, less the JVM's JIT
    compiler threads. Time the host takes away from the virtual CPUs
    (steal) is not charged to any process, so on a shared host this moves
    much less than wall time does."""
    ticks = 0
    for pid in descendants(os.getpid()):
        try:
            fields = _stat_fields(pid)
        except OSError:
            continue
        # utime, stime, cutime, cstime (fields 14-17 of proc(5))
        ticks += sum(int(x) for x in fields[11:15])
        ticks -= _jit_ticks(pid)
    return ticks / CLK_TCK


def _jit_ticks(pid: int) -> int:
    """utime + stime of the live JIT compiler threads of ``pid``."""
    ticks = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                if not f.read().startswith(JIT_THREADS):
                    continue
            fields = _stat_fields(f"{pid}/task/{tid}")
        except OSError:
            continue
        ticks += int(fields[11]) + int(fields[12])
    return ticks


def peak_rss_mb() -> float:
    """Sum of the peak resident set (VmHWM) of this process tree."""
    total_kb = 0
    for pid in sorted(descendants(os.getpid())):
        try:
            with open(f"/proc/{pid}/status") as f:
                status = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        hwm = int(status.get("VmHWM", "0 kB").split()[0])
        print(f"peak rss {pid} {status['Name'].strip()}: {hwm // 1024} MB", file=sys.stderr)
        total_kb += hwm
    return total_kb / 1024
