"""Process-tree CPU and memory from /proc, plus a note of what else runs.

The benchmark's work is spread over three kinds of process: this Python
driver, the JVM it launches, and the Python workers the JVM forks. Each
reading below covers the whole tree rooted at this process.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list:
    with open(f"/proc/{pid}/stat") as f:
        data = f.read()
    # the command name is parenthesised and may itself hold spaces
    return data[data.rindex(")") + 2 :].split()


def _children_map() -> dict:
    kids: dict = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            ppid = int(_stat_fields(int(name))[1])
        except (OSError, ValueError, IndexError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pids(root: int | None = None) -> list:
    """root and all its live descendants."""
    root = root or os.getpid()
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_cpu_s() -> float:
    """User + system CPU seconds of the tree, including reaped children."""
    total = 0
    for pid in tree_pids():
        try:
            f = _stat_fields(pid)
        except OSError:
            continue
        # utime, stime, cutime, cstime (fields 14-17 of /proc/<pid>/stat)
        total += sum(int(x) for x in f[11:15])
    return total / _TICK


def tree_peak_rss_by_process() -> dict:
    """Peak resident size of each live process of the tree, by pid and
    command name."""
    out = {}
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/status") as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
            out[f"{pid}:{fields['Name'].strip()}"] = int(fields["VmHWM"].split()[0]) * 1024
        except (OSError, KeyError, ValueError):
            continue
    return out


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


def load_average() -> list:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def other_benchmarks() -> list:
    """Command lines of other live benchmark processes (bench.py or this
    benchmark), so a run contaminated by a concurrent one shows it."""
    mine = set(tree_pids())
    mine.add(os.getppid())
    found = []
    for name in os.listdir("/proc"):
        if not name.isdigit() or int(name) in mine:
            continue
        try:
            with open(f"/proc/{name}/cmdline", "rb") as f:
                argv = f.read().decode(errors="replace").split("\0")
        except OSError:
            continue
        if any(a.endswith(("bench.py", "perfbench/run.py")) for a in argv):
            found.append(" ".join(a for a in argv if a))
    return found
