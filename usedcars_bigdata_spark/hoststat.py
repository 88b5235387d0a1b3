"""Host stamps shared by the bench recorders (bench.py and
scripts/bench_isolated.py), so both attribute a slow record with the same
arithmetic.

On a VM sharing its host, one r12 record measured episodic 5–30× inflation
of individual queries (ref_like_not_filter 2.7 s → 95.3 s) at load1 = 1.5
with 32 idle cores — invisible to loadavg, fully explained by /proc/stat
steal. The recorders snapshot jiffies around a run
and stamp steal with loadavg and the concurrent-JVM count, so a noisy
record is attributable on sight instead of by re-running.
"""

from __future__ import annotations

import os


def cpu_jiffies(stat: str = "/proc/stat") -> tuple[int, int] | None:
    """(steal, busy) jiffies from the aggregate ``cpu`` line of ``stat``,
    or None where it cannot be read.

    busy is user + nice + system + irq + softirq + steal. It leaves out
    idle and iowait, because steal only competes with time the guest wanted
    to run: on a mostly idle 32-core box, dividing by all jiffies diluted a
    fully stolen busy core to ~3 %. It also leaves out guest and guest_nice
    (the fields after steal), which the kernel already counts inside user
    and nice. Steal stays in busy, so ``steal_pct`` is stolen / (ran +
    stolen)."""
    try:
        with open(stat) as fh:
            vals = [int(v) for v in fh.readline().split()[1:]]
        steal = vals[7] if len(vals) > 7 else 0
        return steal, sum(vals[:8]) - vals[3] - vals[4]
    except (OSError, ValueError, IndexError):
        return None


def steal_pct(start: tuple[int, int] | None,
              end: tuple[int, int] | None) -> float | None:
    """Steal between two ``cpu_jiffies`` snapshots, as % of busy jiffies."""
    if not start or not end:
        return None
    dsteal = end[0] - start[0]
    dbusy = end[1] - start[1]
    return round(100.0 * dsteal / max(dbusy, 1), 2)


def env_fingerprint() -> dict:
    """loadavg and the number of running JVMs: the r8 driver-vs-committed
    bench delta (+27 % uniform) could only be adjudicated by re-running;
    with these in the record the next such delta is attributable."""
    try:
        load1, load5, _ = os.getloadavg()
    except OSError:
        load1 = load5 = -1.0
    n_java = 0
    try:
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/comm") as fh:
                    if fh.read().strip() == "java":
                        n_java += 1
            except OSError:
                continue
    except OSError:
        n_java = -1
    return {"load1": round(load1, 2), "load5": round(load5, 2), "n_java": n_java}
