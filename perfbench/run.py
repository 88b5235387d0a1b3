#!/usr/bin/env python3
"""Benchmark entry point.  Run it from the root of a checkout:

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 10 --trace 0

One process runs one workload on ``local[nproc]`` with a single client
thread: it starts the session, prepares the fixed inputs, runs warm-up
passes that also check every output, then times whole passes until
``--seconds`` have elapsed.  It prints every metric as ``name value unit``,
then, as the last line, one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``, the
per-layer ones with ``--trace 1``).  ``--trace 1`` wraps the layer
functions from the outside and records spans; end-to-end numbers come from
runs with tracing off.  Everything the run writes stays under the current
directory: scratch data in ``.perfbench_work/`` (removed at exit) and the
run record, plus spans when traced, in ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import glob
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import procstat  # noqa: E402
import stats  # noqa: E402
from spans import Tracer, attribute, clip, self_ms, union_ms  # noqa: E402

# op_p90_ms is printed and recorded but not in BENCHMARK.json: a pass has
# at most 16 ops, so fewer than ten samples lie beyond the 90th percentile.
# Nor is peak_rss_mb: it follows how far G1 grows the heap, which depends
# on GC timing more than on what the program keeps (quartile spread
# 0.13-0.20 over 20 runs per workload).  retained_heap_mb, the heap still
# in use after a full GC, is gated in its place (spread 0.01-0.08).
END_TO_END = {
    "setup_s": "s", "op_p50_ms": "ms", "op_p90_ms": "ms", "ops_per_s": "1/s",
    "pass_s": "s", "cpu_s_per_pass": "s", "retained_heap_mb": "MB", "peak_rss_mb": "MB",
}
GATED = [k for k in END_TO_END if k not in ("op_p90_ms", "peak_rss_mb")]
# Per-layer metrics in the JSON line: the ones every workload moves on every
# run.  The record and the printed lines carry the rest (sources.*, which
# the timed streaming pass never calls; spark.analysis_ms and spark.gc_ms,
# whole milliseconds that often repeat exactly; the ml.*, streaming.* and
# proc.pyworker_cpu_s metrics of one workload each).
PER_LAYER = {
    "session.start_ms": "ms", "build.ms": "ms", "build.self_ms": "ms",
    "spark.action_ms": "ms", "spark.driver_gap_ms": "ms",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.task_run_ms": "ms", "spark.task_cpu_ms": "ms",
    "spark.shuffle_read_bytes": "bytes", "spark.shuffle_write_bytes": "bytes",
    "proc.jvm_cpu_s": "s", "proc.driver_py_cpu_s": "s",
}
WARMUP_PASSES = 1
# The driver heap's upper limit.  Neither fixed nor pre-touched, so RSS
# follows what the JVM commits; 4g rather than the engine's 16g default
# because the benchmark shares the host's memory and 16g let a pipelines
# run reach 8.4 GB of RSS.
DRIVER_MEMORY = "4g"


def process_start() -> float:
    """Epoch time at which this process started, from /proc (10 ms ticks)."""
    with open("/proc/self/stat") as fh:
        raw = fh.read()
    start_ticks = int(raw[raw.rindex(")") + 2:].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return time.time() - uptime + start_ticks / procstat.CLK_TCK


class Bench:
    def __init__(self, args, work: str, started: float) -> None:
        self.args, self.work, self.started = args, work, started
        self.tracer = Tracer() if args.trace else None
        self.jobs: list[dict] = []
        self.op_log: list[dict] = []
        self.listener = None

    def span(self, name: str, **attrs):
        return self.tracer.span(name, **attrs) if self.tracer else contextlib.nullcontext()

    def spark_conf(self) -> dict[str, str]:
        tmp = os.path.join(self.work, "tmp")
        return {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        }

    def instrument(self, spark) -> None:
        """Wrap the layer functions where their callers bind them."""
        import usedcars_bigdata_spark.sources.io as sio
        from usedcars_bigdata_spark import sources
        from usedcars_bigdata_spark.ml import regress
        from usedcars_bigdata_spark.pipelines import pricing
        from sparkstats import ProgressListener, StatusDrain

        t = self.tracer
        load_table = sio.load_table
        for mod in list(sys.modules.values()):
            if (getattr(mod, "__name__", "").startswith("usedcars_bigdata_spark")
                    and getattr(mod, "load_table", None) is load_table):
                t.wrap(mod, "load_table", "sources.load_table")
        t.wrap(sources, "read_csv", "sources.read_csv")
        t.wrap(pricing, "prepare_features", "ml.features")
        t.wrap(regress, "fit_and_evaluate", "ml.fit",
               model=lambda a, kw: kw.get("model_name", a[2] if len(a) > 2 else None))
        self.drain = StatusDrain(spark)
        self.listener = ProgressListener()
        spark.streams.addListener(self.listener)

    def run_step(self, step, warm: bool) -> tuple[bool, dict]:
        from sparkstats import phase_ms

        df, ok = None, False
        t0 = time.time()
        try:
            with self.span(step.span, step=step.name):
                df = step.build()
            with self.span("spark.action", step=step.name):
                value = (step.check_action if warm else step.timed_action)(df)
                if step.after:
                    step.after()
            dt = time.time() - t0
            ok = step.verify(value) if warm else step.key(value) == step.expected
            if not ok:
                print(f"step {step.name}: output check failed", file=sys.stderr)
        except Exception:  # noqa: BLE001 - a failing step is counted, not fatal
            dt = time.time() - t0
            print(f"step {step.name} failed:\n{traceback.format_exc(limit=3)}",
                  file=sys.stderr)
        entry = {"name": step.name, "ms": dt * 1000, "ok": ok}
        if self.tracer:
            if df is not None and hasattr(df, "_jdf"):
                entry["phases"] = phase_ms(df)
            self.jobs.extend(self.drain.drain())
        return ok, entry

    def run_pass(self, wl, rng, warm: bool) -> dict:
        t_pass = time.time()
        failed, lat, stages = 0, [], {}
        for op in wl.ops(rng):
            t0 = time.time()
            with self.span("op", op=op.name):
                results = [self.run_step(step, warm) for step in op.steps]
            dt = time.time() - t0
            ok = all(r[0] for r in results)
            failed += not ok
            self.op_log.append({"name": op.name, "ms": dt * 1000, "ok": ok, "warm": warm,
                                "steps": [r[1] for r in results]})
            lat.append(dt * 1000)
            stages[op.stage] = stages.get(op.stage, 0.0) + dt
        return {"s": time.time() - t_pass, "lat_ms": lat, "failed": failed, "stages": stages}

    def run(self) -> dict:
        import numpy as np

        from usedcars_bigdata_spark.session import get_session
        from workloads import WORKLOADS

        a = self.args
        pid = os.getpid()
        jiffies = procstat.cpu_jiffies()
        with procstat.PeakRss(pid) as rss:
            t = t_session = time.time()
            with self.span("session.get_session"):
                spark = get_session(extra_conf=self.spark_conf())
            session_ms = (time.time() - t) * 1000
            try:
                t = time.time()
                wl = WORKLOADS[a.workload](spark, self.work, a.seed)
                wl.prepare()
                prepare_s = time.time() - t
                if self.tracer:
                    self.instrument(spark)
                rng = np.random.default_rng(a.seed)
                warm = [self.run_pass(wl, rng, warm=True) for _ in range(WARMUP_PASSES)]
                if self.tracer:  # keep only what the timed passes do
                    self.drain.drain()
                    self.tracer.spans.clear()
                    self.listener.batches.clear()
                    self.jobs.clear()
                t_first = time.time()
                cpu0 = procstat.tree_cpu(pid)
                timed = []
                while not timed or time.time() - t_first < a.seconds:
                    timed.append(self.run_pass(wl, rng, warm=False))
                t_end = time.time()
                cpu1 = procstat.tree_cpu(pid)
                heap_mb = retained_heap_mb(spark)
            finally:
                if self.listener:
                    spark.streams.removeListener(self.listener)
                if self.tracer:
                    self.tracer.unwrap_all()
                stop_spark(spark)
        env = procstat.env_stamp(jiffies, pid)
        n = len(timed)
        lat = [x for p in timed for x in p["lat_ms"]]
        cpu = {k: (cpu1[k] - cpu0[k]) / n for k in cpu0}
        p90 = stats.percentile(lat, 90)
        failed = sum(p["failed"] for p in warm + timed)
        attempted = sum(len(p["lat_ms"]) for p in warm + timed)
        rec = {
            "workload": a.workload, "seed": a.seed, "trace": a.trace, "seconds": a.seconds,
            "correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {
                "setup_s": t_first - self.started,
                "op_p50_ms": statistics.median(lat),
                "op_p90_ms": p90["value"],
                "ops_per_s": len(lat) / (t_end - t_first),
                "pass_s": statistics.median(p["s"] for p in timed),
                "cpu_s_per_pass": sum(cpu.values()),
                "retained_heap_mb": heap_mb,
                "peak_rss_mb": rss.peak,
            },
            "error_rate": failed / attempted,
            "op_p90_samples": {"n": p90["n"], "beyond": p90["beyond"],
                               "trusted_percentile": stats.highest_trusted_percentile(p90["n"])},
            "passes": n,
            "pass_times_s": {"warmup": [p["s"] for p in warm], "timed": [p["s"] for p in timed]},
            "stage_s": {k: sum(p["stages"].get(k, 0.0) for p in timed) / n
                        for k in timed[0]["stages"]},
            "proc_cpu_s_per_pass": cpu,
            "env": env,
            "setup_split_s": {"to_session": t_session - self.started,
                              "session": session_ms / 1000, "prepare": prepare_s,
                              "warmup": sum(p["s"] for p in warm)},
            "ops": self.op_log,
        }
        if self.tracer:
            rec["layers"] = self.layers(n, session_ms, cpu)
        return rec

    def layers(self, n: int, session_ms: float, cpu: dict) -> dict:
        spans = self.tracer.spans
        jobs = [j for j in self.jobs if j["submit"] is not None]

        def named(pred):
            return [s for s in spans if pred(s.name)]

        owner = {j["id"]: attribute(spans, j["submit"]) for j in jobs}

        def jobs_in(prefix):
            return sum(1 for j in jobs if owner[j["id"]] and owner[j["id"]].name.startswith(prefix))

        src = named(lambda x: x.startswith("sources."))
        load = named(lambda x: x == "sources.load_table")
        builds = named(lambda x: x == "plans.build" or x.startswith("pipelines."))
        plans = named(lambda x: x == "plans.build")
        actions = named(lambda x: x == "spark.action")
        gap = sum(a.ms - union_ms(clip([(j["submit"], j["end"] or a.end) for j in jobs],
                                       a.start, a.end)) for a in actions)
        analysis = sum(s.get("phases", {}).get("analysis", 0.0)
                       for e in self.op_log if not e["warm"] for s in e["steps"])
        batches = self.listener.batches
        out = {
            "session.start_ms": session_ms,
            "sources.calls": len(src),
            "sources.ms": sum(s.ms for s in src),
            "sources.jobs": jobs_in("sources."),
            "sources.load_table_calls": len(load),
            "sources.load_table_ms": sum(s.ms for s in load),
            "sources.read_csv_ms": sum(s.ms for s in named(lambda x: x == "sources.read_csv")),
            "build.ms": sum(s.ms for s in builds),
            "build.self_ms": sum(self_ms(s, spans) for s in builds),
            "plans.build_ms": sum(s.ms for s in plans),
            "plans.build_self_ms": sum(self_ms(s, spans) for s in plans),
            "spark.analysis_ms": analysis,
            "spark.action_ms": sum(a.ms for a in actions),
            "spark.driver_gap_ms": gap,
            "spark.jobs": len(jobs),
            "ml.features_ms": sum(s.ms for s in named(lambda x: x == "ml.features")),
            "ml.jobs": jobs_in("ml."),
            "streaming.batches": len(batches),
            "proc.jvm_cpu_s": cpu["jvm"],
            "proc.driver_py_cpu_s": cpu["driver_py"],
            "proc.pyworker_cpu_s": cpu["pyworker"],
        }
        for key in ("stages", "tasks", "failed_tasks", "task_run_ms", "task_cpu_ms",
                    "gc_ms", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
            out[f"spark.{key}"] = sum(j[key] for j in jobs)
        for model in ("linear", "decision_tree", "random_forest"):
            out[f"ml.fit_ms.{model}"] = sum(
                s.ms for s in spans if s.name == "ml.fit" and s.attrs.get("model") == model)
        for key in ("input_rows", "trigger_ms", "add_batch_ms", "state_commit_ms", "state_rows"):
            out[f"streaming.{key}"] = sum(b[key] for b in batches)
        per_pass = {k: v / n for k, v in out.items()}
        per_pass["session.start_ms"] = session_ms  # once per run, not per pass
        return per_pass


def retained_heap_mb(spark) -> float:
    """Driver heap still in use after a full GC: what the session keeps
    between queries (caches, listeners, query state), whatever the heap's
    size.  Python's collector runs first so that py4j releases the JVM
    objects of dead proxies; the second full GC comes after Spark's
    ContextCleaner has had a moment to drop the broadcast blocks of
    DataFrames the first one found unreachable."""
    gc.collect()
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    time.sleep(0.5)
    jvm.java.lang.System.gc()
    runtime = jvm.java.lang.Runtime.getRuntime()
    return (runtime.totalMemory() - runtime.freeMemory()) / 2**20


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    with contextlib.suppress(Py4JError):
        gateway.shutdown()
    if proc is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:  # never leave a JVM behind
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def tracing_overhead(out_dir: str, rec: dict) -> dict:
    """Traced minus untraced op_p50_ms and pass_s, against the median of
    the untraced runs of the same workload recorded in this checkout."""
    base = []
    for path in glob.glob(os.path.join(out_dir, f"{rec['workload']}-*-trace0.json")):
        with open(path) as fh:
            base.append(json.load(fh)["metrics"])
    if not base:
        return {"untraced_runs": 0}
    out = {"untraced_runs": len(base)}
    for key in ("op_p50_ms", "pass_s"):
        ref = statistics.median(b[key] for b in base)
        out[key] = {"traced": rec["metrics"][key], "untraced": ref,
                    "delta_pct": 100.0 * (rec["metrics"][key] - ref) / ref}
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["interactive", "pipelines", "streaming"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    started = process_start()
    # On SIGTERM, unwind through the finally blocks: stop the JVM, remove
    # the scratch directory.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(root, ".perfbench_out")
    os.makedirs(os.path.join(work, "tmp"))
    nproc = len(os.sched_getaffinity(0))
    os.environ.update({
        "TMPDIR": os.path.join(work, "tmp"),  # stream entries' sinks and checkpoints
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
    })
    tempfile.tempdir = None
    sys.path.insert(0, root)  # the engine package sits at the checkout root
    bench = Bench(args, work, started)
    try:
        rec = bench.run()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))
    tag = f"{args.workload}-seed{args.seed}-{os.getpid()}-trace{args.trace}"
    os.makedirs(out_dir, exist_ok=True)
    if bench.tracer:
        rec["tracing_overhead"] = tracing_overhead(out_dir, rec)
        bench.tracer.dump(os.path.join(out_dir, f"{tag}.spans.jsonl"))
    with open(os.path.join(out_dir, f"{tag}.json"), "w") as fh:
        json.dump(rec, fh, indent=1, default=str)

    print(f"workload {args.workload} seed {args.seed} trace {args.trace} "
          f"passes {rec['passes']} env {json.dumps(rec['env'])}")
    for k, v in rec["metrics"].items():
        print(f"{k} {v:.6g} {END_TO_END[k]}")
    print(f"error_rate {rec['error_rate']:.6g} ratio ({rec['failed']}/{rec['attempted']})")
    print(f"op_p90_ms samples {rec['op_p90_samples']}")
    for k, v in rec["stage_s"].items():
        print(f"{k}_s {v:.6g} s")
    for k, v in rec.get("layers", {}).items():
        print(f"{k} {v:.6g}")
    if "tracing_overhead" in rec:
        print(f"tracing_overhead {json.dumps(rec['tracing_overhead'])}")
    chosen = rec["layers"] if args.trace else rec["metrics"]
    units = PER_LAYER if args.trace else {k: END_TO_END[k] for k in GATED}
    print(json.dumps({
        "correct": rec["correct"], "attempted": rec["attempted"], "failed": rec["failed"],
        "metrics": {k: {"value": chosen[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
