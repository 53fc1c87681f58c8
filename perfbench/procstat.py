"""Samplers over Linux /proc: process-tree CPU, host steal, load, PSS.

Wall-clock figures on a shared VM move with hypervisor steal; CPU seconds
consumed by the benchmark's own process tree do not. Each sampler takes an
optional ``root`` so the tests can point it at a fake /proc tree.
"""

from __future__ import annotations

import os
import threading

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _read(path: str) -> str:
    with open(path, "r", encoding="ascii", errors="replace") as f:
        return f.read()


def parse_stat_line(text: str) -> tuple[int, int, list[int]]:
    """(pid, ppid, fields after the command) from a /proc/<pid>/stat line.

    The command sits in parentheses and may itself hold spaces or ')', so
    the split happens at the LAST ')'."""
    lp, rp = text.index("("), text.rindex(")")
    pid = int(text[:lp])
    rest = text[rp + 2:].split()
    # rest[0] is state, rest[1] ppid; utime/stime/cutime/cstime are
    # fields 14-17 of the line, i.e. rest[11:15]
    return pid, int(rest[1]), [int(x) for x in rest[11:15]]


def _processes(root: str) -> dict[int, tuple[int, list[int]]]:
    out: dict[int, tuple[int, list[int]]] = {}
    for name in os.listdir(root):
        if not name.isdigit():
            continue
        try:
            pid, ppid, times = parse_stat_line(_read(os.path.join(root, name, "stat")))
        except (OSError, ValueError, IndexError):
            continue  # exited between listdir and read
        out[pid] = (ppid, times)
    return out


def _tree(procs: dict[int, tuple[int, list[int]]], pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for p, (pp, _) in procs.items():
        kids.setdefault(pp, []).append(p)
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        if p in procs:
            out.append(p)
            todo.extend(kids.get(p, []))
    return out


def tree_pids(pid: int, root: str = "/proc") -> list[int]:
    """`pid` and all its live descendants."""
    return _tree(_processes(root), pid)


def tree_cpu_s(pid: int, root: str = "/proc") -> float:
    """User+sys CPU seconds of `pid`'s process tree: every live process's
    own time plus the time of children it has reaped (cutime/cstime). A
    reaped child's time is counted once, at its parent; a live one's
    at itself, so nothing is counted twice."""
    procs = _processes(root)
    return sum(sum(procs[p][1]) for p in _tree(procs, pid)) / CLK_TCK


def host_steal_s(root: str = "/proc") -> float:
    """Host-wide steal seconds since boot (the 8th value of the `cpu` line
    of /proc/stat; summed over all CPUs)."""
    for line in _read(os.path.join(root, "stat")).splitlines():
        if line.startswith("cpu "):
            vals = line.split()[1:]
            return (int(vals[7]) if len(vals) > 7 else 0) / CLK_TCK
    raise ValueError("no aggregate cpu line in /proc/stat")


def loadavg_1m(root: str = "/proc") -> float:
    return float(_read(os.path.join(root, "loadavg")).split()[0])


def pss_kb(pid: int, root: str = "/proc") -> int:
    """Proportional set size of one process in kB (0 if it has exited)."""
    try:
        text = _read(os.path.join(root, str(pid), "smaps_rollup"))
    except OSError:
        return 0
    for line in text.splitlines():
        if line.startswith("Pss:"):
            return int(line.split()[1])
    return 0


def tree_pss_mb(pid: int, root: str = "/proc") -> float:
    return sum(pss_kb(p, root) for p in tree_pids(pid, root)) / 1024.0


class PeakPss:
    """Background sampler of the tree's PSS; `peak_mb` is the largest
    sample seen between start() and stop()."""

    def __init__(self, pid: int, interval_s: float = 0.5, root: str = "/proc") -> None:
        self.pid, self.interval_s, self.root = pid, interval_s, root
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _sample(self) -> None:
        self.peak_mb = max(self.peak_mb, tree_pss_mb(self.pid, self.root))

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def start(self) -> "PeakPss":
        self._sample()
        self._thread = threading.Thread(target=self._loop, name="peak-pss", daemon=True)
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=10)
        self._sample()
        return self.peak_mb


class HostContext:
    """Steal seconds and 1-min load over an interval: context printed
    beside a run, never used to select or drop runs."""

    def __init__(self, root: str = "/proc") -> None:
        self.root = root
        self.steal0 = host_steal_s(root)
        self.load0 = loadavg_1m(root)

    def finish(self) -> dict:
        return {
            "steal_s": round(host_steal_s(self.root) - self.steal0, 2),
            "loadavg_1m_start": self.load0,
            "loadavg_1m_end": loadavg_1m(self.root),
        }
