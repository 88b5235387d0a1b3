"""Process-tree CPU and memory from ``/proc``, and the environment stamp.

The benchmark's Python process is the root of the tree: it launches the
JVM, and the JVM forks the Python workers.  CPU is split three ways:

- ``driver_py``: the root process itself;
- ``jvm``: every ``java`` process in the tree;
- ``pyworker``: every other process below a ``java`` process.

Each process counts utime + stime plus cutime + cstime, the CPU of children
it has already reaped, so a Python worker that exits between two samples is
still counted, through the daemon that forked it.  The root's own reaped
children are left out: they are the JVM once it is stopped, which is
already counted under ``jvm``.
"""

from __future__ import annotations

import os
import threading

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _read_stat(proc: str, pid: int) -> tuple[str, int, list[int]] | None:
    """(comm, ppid, [utime, stime, cutime, cstime]) in clock ticks."""
    try:
        with open(os.path.join(proc, str(pid), "stat")) as fh:
            raw = fh.read()
    except OSError:
        return None
    # comm is parenthesised and may itself contain spaces or ')'.
    lpar, rpar = raw.index("("), raw.rindex(")")
    rest = raw[rpar + 2:].split()
    # rest[0] is field 3 (state); utime is field 14 -> rest[11].
    return raw[lpar + 1:rpar], int(rest[1]), [int(v) for v in rest[11:15]]


def tree_cpu(root: int, proc: str = "/proc") -> dict[str, float]:
    """CPU seconds used so far by ``root`` and its descendants, by category."""
    stats = {}
    for entry in os.listdir(proc):
        if entry.isdigit():
            st = _read_stat(proc, int(entry))
            if st is not None:
                stats[int(entry)] = st
    children: dict[int, list[int]] = {}
    for pid, (_, ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    out = {"driver_py": 0.0, "jvm": 0.0, "pyworker": 0.0}
    if root not in stats:
        return out
    out["driver_py"] = sum(stats[root][2][:2]) / CLK_TCK
    todo = [(c, False) for c in children.get(root, [])]
    while todo:
        pid, under_java = todo.pop()
        comm, _, ticks = stats[pid]
        if comm == "java":
            out["jvm"] += sum(ticks) / CLK_TCK
            under_java = True
        elif under_java:
            out["pyworker"] += sum(ticks) / CLK_TCK
        todo.extend((c, under_java) for c in children.get(pid, []))
    return out


def tree_pids(root: int, proc: str = "/proc") -> list[int]:
    parents = {}
    for entry in os.listdir(proc):
        if entry.isdigit():
            st = _read_stat(proc, int(entry))
            if st is not None:
                parents[int(entry)] = st[1]
    out, frontier = [root], {root}
    while frontier:
        frontier = {p for p, pp in parents.items() if pp in frontier}
        out.extend(frontier)
    return out


def rss_mb(pids: list[int], proc: str = "/proc") -> float:
    total_kb = 0
    for pid in pids:
        try:
            with open(os.path.join(proc, str(pid), "status")) as fh:
                for line in fh:
                    if line.startswith("VmRSS:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


class PeakRss:
    """Samples the summed RSS of the process tree every ``interval`` s."""

    def __init__(self, root: int, interval: float = 0.2) -> None:
        self.root, self.interval, self.peak = root, interval, 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pids = tree_pids(self.root)
        n = 0
        while not self._stop.wait(self.interval):
            n += 1
            if n % 10 == 0:  # new Python workers appear over the run
                pids = tree_pids(self.root)
            self.peak = max(self.peak, rss_mb(pids))

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, rss_mb(tree_pids(self.root)))


def cpu_jiffies(proc: str = "/proc") -> tuple[int, int]:
    """(steal, busy) jiffies from /proc/stat.  Busy leaves out idle and
    iowait: steal competes only with time the guest wanted to run."""
    with open(os.path.join(proc, "stat")) as fh:
        vals = [int(v) for v in fh.readline().split()[1:]]
    steal = vals[7] if len(vals) > 7 else 0
    return steal, sum(vals[:8]) - vals[3] - vals[4]


def count_other_jvms(own: set[int], proc: str = "/proc") -> int:
    n = 0
    for entry in os.listdir(proc):
        if entry.isdigit() and int(entry) not in own:
            try:
                with open(os.path.join(proc, entry, "comm")) as fh:
                    n += fh.read().strip() == "java"
            except OSError:
                continue
    return n


def env_stamp(jiffies_start: tuple[int, int], root: int) -> dict:
    steal0, busy0 = jiffies_start
    steal1, busy1 = cpu_jiffies()
    d_steal, d_busy = steal1 - steal0, busy1 - busy0
    return {
        "steal_pct": round(100.0 * d_steal / d_busy, 2) if d_busy else 0.0,
        "steal_jiffies": d_steal,
        "busy_jiffies": d_busy,
        "load1": round(os.getloadavg()[0], 2),
        "nproc": len(os.sched_getaffinity(0)),
        "other_jvms": count_other_jvms(set(tree_pids(root))),
    }
