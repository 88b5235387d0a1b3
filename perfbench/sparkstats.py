"""Spark-side counts, read from the outside through public handles.

- ``StatusDrain`` reads new jobs and their stages from the driver's
  ``AppStatusStore``.  It keeps only the last 1000 jobs and stages by
  default, and one pipelines pass runs about 300 stages, so the benchmark
  drains it after every operation instead of once at the end.
- ``phase_ms`` reads a DataFrame's ``QueryExecution.tracker`` phases.
- ``ProgressListener`` is a ``StreamingQueryListener`` the benchmark attaches
  itself to count micro-batches, input rows, trigger and state-commit time.
"""

from __future__ import annotations

from pyspark.sql.streaming import StreamingQueryListener

STAGE_FIELDS = {
    "task_run_ms": "executorRunTime",
    "task_cpu_ms": "executorCpuTime",  # ns, converted below
    "gc_ms": "jvmGcTime",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "spill_bytes": ("memoryBytesSpilled", "diskBytesSpilled"),
}


def _epoch_s(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class StatusDrain:
    def __init__(self, spark) -> None:
        sc = spark.sparkContext._jsc.sc()
        self._store = sc.statusStore()
        self._bus = sc.listenerBus()
        self._last_job = -1

    def drain(self) -> list[dict]:
        """Every job finished since the last drain, oldest first."""
        self._bus.waitUntilEmpty()
        jobs = self._store.jobsList(None)  # newest first
        out = []
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if j.jobId() <= self._last_job:
                break
            out.append(self._job(j))
        if out:
            self._last_job = max(j["id"] for j in out)
        return out[::-1]

    def _job(self, j) -> dict:
        rec = {"id": j.jobId(), "submit": _epoch_s(j.submissionTime()),
               "end": _epoch_s(j.completionTime()), "status": j.status().toString(),
               "stages": 0, "tasks": 0, "failed_tasks": 0}
        rec.update({k: 0 for k in STAGE_FIELDS})
        ids = j.stageIds()
        for k in range(ids.size()):
            s = self._store.lastStageAttempt(ids.apply(k))
            if s.status().toString() == "SKIPPED":
                continue
            rec["stages"] += 1
            rec["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
            rec["failed_tasks"] += s.numFailedTasks()
            for key, getter in STAGE_FIELDS.items():
                getters = getter if isinstance(getter, tuple) else (getter,)
                rec[key] += sum(getattr(s, g)() for g in getters)
        rec["task_cpu_ms"] /= 1e6
        return rec


def phase_ms(df) -> dict[str, float]:
    """Catalyst phase times recorded so far on ``df``'s QueryExecution."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("parsing", "analysis", "optimization", "planning"):
        opt = phases.get(name)
        if opt.isDefined():
            out[name] = float(opt.get().durationMs())
    return out


class ProgressListener(StreamingQueryListener):
    def __init__(self) -> None:
        self.batches: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        d = p.durationMs or {}
        ops = p.stateOperators or []
        self.batches.append({
            "input_rows": p.numInputRows,
            "trigger_ms": d.get("triggerExecution", 0),
            "add_batch_ms": d.get("addBatch", 0),
            "state_commit_ms": sum(o.commitTimeMs for o in ops),
            "state_rows": sum(o.numRowsTotal for o in ops),
        })

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass
