"""What the benchmark reads from ``/proc``: process-tree memory and
CPU time, and the run-condition stamps (load, CPU steal, versions) that
let a contaminated run label itself."""

from __future__ import annotations

import os
import subprocess
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int):
    """(ppid, utime+stime, cutime+cstime, rss bytes) or None."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    rest = raw[raw.rindex(")") + 2:].split()
    # fields after the command: state ppid ... utime(12) stime(13)
    # cutime(14) cstime(15) ... rss(22)
    return (int(rest[1]), (int(rest[11]) + int(rest[12])) / _TICK,
            (int(rest[13]) + int(rest[14])) / _TICK, int(rest[21]) * _PAGE)


def process_tree(root: int) -> dict:
    """pid -> stat tuple for ``root`` and all its descendants."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
    kids: dict = {}
    for pid, st in stats.items():
        kids.setdefault(st[0], []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
            todo.extend(kids.get(pid, ()))
    return out


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def jvm_pid(root: int) -> "int | None":
    for pid in process_tree(root):
        if pid != root and _comm(pid) == "java":
            return pid
    return None


def cpu_split(root: int) -> dict:
    """CPU seconds so far of the driver, the JVM, and the JVM's Python
    workers (live descendants plus reaped ones, through each live
    descendant's cumulative child time)."""
    tree = process_tree(root)
    jpid = jvm_pid(root)
    out = {"driver": tree[root][1] if root in tree else 0.0,
           "jvm": tree[jpid][1] if jpid in tree else 0.0,
           "pyworkers": 0.0}
    if jpid is not None:
        for pid, st in process_tree(jpid).items():
            if pid != jpid:
                out["pyworkers"] += st[1] + st[2]
    return out


class RssSampler:
    """Samples the summed RSS of the process tree in a thread and keeps
    the peak.  Use as a context manager."""

    def __init__(self, root: int, period: float = 0.1) -> None:
        self.root, self.period = root, period
        self.peak = 0
        self.load_max = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        rss = sum(st[3] for st in process_tree(self.root).values())
        self.peak = max(self.peak, rss)
        self.load_max = max(self.load_max, os.getloadavg()[0])

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            self.sample()

    def __enter__(self) -> "RssSampler":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()


def proc_stat_cpu():
    """(total jiffies, steal jiffies) from the aggregate cpu line."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:9]]
    return sum(vals), vals[7]


def steal_share(stat_a, stat_b) -> float:
    """Share of all CPU time between two :func:`proc_stat_cpu` readings
    that the hypervisor gave to other guests."""
    total = stat_b[0] - stat_a[0]
    return (stat_b[1] - stat_a[1]) / total if total > 0 else 0.0


def java_version() -> str:
    try:
        out = subprocess.run(["java", "-version"], capture_output=True,
                             text=True, timeout=30).stderr
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    lines = [ln for ln in out.splitlines()
             if not ln.startswith("Picked up JAVA_TOOL_OPTIONS")]
    return lines[0] if lines else "unknown"


class Conditions:
    """Run-condition stamps: loadavg at start and end and the mid-run
    max, CPU steal share over the run, nproc, versions."""

    def __init__(self) -> None:
        self.t0 = time.time()
        self.load_start = os.getloadavg()
        self.stat_start = proc_stat_cpu()

    def finish(self, load_midrun_max: float) -> dict:
        import pyspark
        return {
            "loadavg_start": [round(x, 2) for x in self.load_start],
            "loadavg_end": [round(x, 2) for x in os.getloadavg()],
            "loadavg_midrun_max": round(load_midrun_max, 2),
            "cpu_steal_pct": round(
                100.0 * steal_share(self.stat_start, proc_stat_cpu()), 2),
            "nproc": os.cpu_count(),
            "pyspark": pyspark.__version__,
            "java": java_version(),
        }
