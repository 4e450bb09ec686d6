"""Process-tree CPU and memory, read from /proc outside the measured job.

A ``TreeSampler`` thread polls every process descended from one root pid
(the job's Python driver, its JVM and the JVM's Python workers). It keeps
each process's CPU, a time series of the Python workers' cumulative CPU and
the tree's peak memory. CPU of a process that exits stays at its last
sampled value, so the series never goes down. Memory is the JVM's resident
set plus the Python processes' PSS, so the pages forked Python workers
share count once (PSS of the JVM itself is the same number but costs a
page-table walk per sample).
"""

from __future__ import annotations

import os
import threading
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> tuple[int, str, str, float, int] | None:
    """(ppid, comm, state, cpu seconds, rss bytes) of one pid, None if gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    rest = raw[raw.rindex(")") + 2 :].split()
    # rest[0] is field 3 (state); utime/stime/rss are fields 14/15/24
    cpu = (int(rest[11]) + int(rest[12])) / CLK_TCK
    return int(rest[1]), comm, rest[0], cpu, int(rest[21]) * PAGE


def pss(pid: int) -> int:
    """Proportional set size in bytes, 0 if the process is gone."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def alive(pid: int) -> bool:
    st = _stat(pid)
    return st is not None and st[2] != "Z"


def tree(root: int) -> dict[int, tuple[int, str, str, float, int]]:
    """Live (non-zombie) processes of the tree rooted at ``root``."""
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                procs[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, st in procs.items():
        children.setdefault(st[0], []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in procs and procs[pid][2] != "Z":
            out[pid] = procs[pid]
        todo.extend(children.get(pid, []))
    return out


def role(pid: int, root: int, comm: str) -> str:
    if pid == root:
        return "driver"
    return "jvm" if comm == "java" else "pyworker"


class TreeSampler(threading.Thread):
    """Samples the tree under ``root`` every ``interval`` seconds until
    ``stop()``. ``series`` rows are (t, cumulative Python-worker CPU)."""

    def __init__(self, root: int, interval: float = 0.5):
        super().__init__(daemon=True)
        self.root, self.interval = root, interval
        self.last_cpu: dict[int, tuple[str, float]] = {}
        self.series: list[tuple[float, float]] = []
        self.peak_mem = 0
        self._halt = threading.Event()

    def sample(self) -> None:
        now = time.time()
        mem = 0
        for pid, (_, comm, _, cpu, rss) in tree(self.root).items():
            r = role(pid, self.root, comm)
            self.last_cpu[pid] = (r, cpu)
            mem += rss if r == "jvm" else pss(pid)
        self.peak_mem = max(self.peak_mem, mem)
        self.series.append(
            (now, sum(c for r, c in self.last_cpu.values() if r == "pyworker"))
        )

    def run(self) -> None:
        while not self._halt.is_set():
            self.sample()
            self._halt.wait(self.interval)

    def stop(self) -> None:
        self._halt.set()
        self.join()

    @property
    def cpu_s(self) -> float:
        return sum(cpu for _, cpu in self.last_cpu.values())

    def pyworker_cpu_at(self, t: float) -> float:
        """Cumulative Python-worker CPU at time ``t``, linearly interpolated."""
        prev = None
        for row in self.series:
            if row[0] >= t:
                if prev is None:
                    return row[1]
                span = row[0] - prev[0]
                w = (t - prev[0]) / span if span > 0 else 1.0
                return prev[1] + w * (row[1] - prev[1])
            prev = row
        return self.series[-1][1] if self.series else 0.0


def host_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = list(map(int, f.readline().split()[1:9]))
    return vals[7], sum(vals)
