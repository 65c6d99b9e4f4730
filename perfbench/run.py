#!/usr/bin/env python3
"""Benchmark for the belb_spark ER engine.

    python3 perfbench/run.py --workload er_tiny --seed 42 --seconds 5 --trace 0

Runs one workload (see ``workloads.py``) on ``local[<cores>]`` in this
process, from the root of a source checkout, and reads and writes only
under ``.perfbench_work/`` there, which it removes on exit.

One run: set up (Spark session, Python-worker warm-up, seeded inputs), one
cold iteration, warm iterations until ``--seconds`` of them have been timed
and the workload's ``warm_iterations`` have run, output checks, then two
more set-ups from a stopped session so that ``setup_s`` is a median of
three. With ``--trace 1`` the last set-up enables Spark's event log and one
traced iteration follows; its per-layer metrics replace the end-to-end ones
on the last line.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (``{name: {"value", "unit"}}``); the line before
it holds the details (counts, per-iteration noise stamps, check results).
The exit code is 1 if any output check failed.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()  # process start, for the first setup_s sample

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import pathlib  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

ROOT = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import eventlog  # noqa: E402
from perfbench.tracing import Tracer  # noqa: E402
from perfbench.workloads import WORKLOADS, ERWorkload, QueryWorkload  # noqa: E402

WORK_DIR = ".perfbench_work"
CORES = len(os.sched_getaffinity(0))
SETUPS = 3

END_TO_END = {
    "setup_s": "s",
    "cold_s": "s",
    "wall_s": "s",
    "f1": "ratio",
    "jvm_live_heap_mb": "MB",
}
MODULES = (
    "normalize", "blocking", "pairs", "scoring", "clustering", "evaluate",
    "dedup", "similarity", "relational", "temporal", "spans", "text",
)
MODULE_METRICS = {
    "call_s": "s", "action_s": "s", "jobs": "count", "tasks": "count",
    "task_s": "s", "shuffle_write_mb": "MB", "spill_mb": "MB", "gc_s": "s",
    "task_skew": "ratio",
}
PYTHON_MODULES = ("normalize", "blocking", "scoring")
PYTHON_METRICS = {"python_s": "s", "python_start_s": "s"}
EXTRA_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "checkpoint.write_mb": "MB",
    "checkpoint.commit_s": "s",
    "pairs.cap_ratio": "ratio",
    "clustering.rounds": "count",
    "scoring.pairs_scored": "count",
    "trace.unattributed_jobs": "count",
    "trace.overhead_s": "s",
}


def per_layer_units() -> dict[str, str]:
    out = {f"{m}.{k}": u for m in MODULES for k, u in MODULE_METRICS.items()}
    out.update({f"{m}.{k}": u for m in PYTHON_MODULES for k, u in PYTHON_METRICS.items()})
    out.update(EXTRA_LAYER)
    return out


def cpu_stamp() -> tuple[int, int]:
    """(steal, total) jiffies since boot, from the aggregate cpu line."""
    with open("/proc/stat", encoding="ascii") as f:
        vals = [int(v) for v in f.readline().split()[1:9]]
    return vals[7], sum(vals)


def noise_since(stamp: tuple[int, int]) -> dict[str, float]:
    s1, j1 = cpu_stamp()
    return {
        "steal_pct": round(100 * (s1 - stamp[0]) / max(1, j1 - stamp[1]), 2),
        "loadavg_1m": os.getloadavg()[0],
    }


def jvm_memory_mb(spark) -> dict[str, float]:
    """The driver JVM's (in local mode: the whole engine but its Python
    workers) heap still in use after a full collection, and its peak
    resident set (VmHWM). The first is what the engine keeps; the second
    moves with collector timing by a quarter or more between runs, so it
    is reported only in the details. The pause between two collections lets
    Spark's ContextCleaner drop the blocks of RDDs the first one found
    unreachable."""
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    time.sleep(1)
    jvm.java.lang.System.gc()
    live = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    out = {"jvm_live_heap_mb": live.getHeapMemoryUsage().getUsed() / eventlog.MB}
    pid = jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                out["jvm_peak_rss_mb"] = int(line.split()[1]) * 1024 / eventlog.MB
    return out


def stop_engine(spark) -> None:
    """Stop the session, then end the JVM PySpark launched for this process
    (it exits when its stdin closes) and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


class Runner:
    def __init__(self, workload, seed: int, seconds: float, trace: bool, work: pathlib.Path):
        self.w, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.work = work
        self.spark = None
        self.attempted = 0
        self.failures: list[str] = []
        self.iterations: list[dict] = []
        self.setups: list[dict] = []
        self.memory: dict[str, float] = {}
        self.trace_detail: dict[str, int] = {}

    # ------------------------------------------------------------ set-up
    def _session(self, event_log: pathlib.Path | None):
        from belb_spark.session import get_spark

        conf = {
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
            # keep the JVM's temp files (and its perf-data file) in the checkout
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work / 'tmp'} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        }
        if event_log is not None:
            event_log.mkdir(parents=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log.as_uri(),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        spark = get_spark("perfbench", master=f"local[{CORES}]", extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def setup(self, t_start: float, event_log: pathlib.Path | None = None) -> None:
        """Session start, Python-worker warm-up, seeded inputs."""
        from pyspark.sql import functions as F

        t1 = time.perf_counter()
        self.spark = self._session(event_log)
        t2 = time.perf_counter()
        plus_one = F.pandas_udf(lambda s: s + 1, "long")
        self.spark.range(0, 4 * CORES, 1, CORES).select(plus_one("id")).write.format(
            "noop"
        ).mode("overwrite").save()
        t3 = time.perf_counter()
        self.w.prepare(self.seed, self.work / f"input-{len(self.setups)}")
        self.w.load(self.spark)
        t4 = time.perf_counter()
        self.setups.append({
            "setup_s": t4 - t_start, "before_s": t1 - t_start, "session_s": t2 - t1,
            "warmup_s": t3 - t2, "inputs_s": t4 - t3,
        })

    def restart(self, event_log: pathlib.Path | None = None) -> None:
        t0 = time.perf_counter()
        self.spark.stop()
        self.setup(t0, event_log)

    # ------------------------------------------------------------ iterations
    def iterate(self, kind: str, tracer: Tracer | None = None) -> float:
        stamp = cpu_stamp()
        self.window = [time.time(), None]
        try:
            it = self.w.iterate(self.spark, self.work, tracer=tracer)
        except Exception as e:  # noqa: BLE001 - a failed operation is counted, not fatal
            self.attempted += 1
            self.failures.append(f"{kind}: {type(e).__name__}: {e}"[:500])
            self.iterations.append({"kind": kind, "error": str(e)[:200]})
            return float("nan")
        self.window[1] = time.time()
        self.attempted += it.attempted
        self.failures += it.failures
        self.iterations.append({"kind": kind, "wall_s": it.wall_s, **noise_since(stamp)})
        return it.wall_s

    def run(self) -> dict[str, float]:
        self.setup(T0)
        cold = self.iterate("cold")
        warm: list[float] = []
        while len(warm) < self.w.warm_iterations or sum(warm) < self.seconds:
            warm.append(self.iterate("warm"))
        self.failures += self.w.check(self.work)
        self.memory = jvm_memory_mb(self.spark)
        log_dir = self.work / "eventlog"
        for k in range(1, SETUPS):
            self.restart(log_dir if self.trace and k == SETUPS - 1 else None)
        wall = statistics.median(warm)
        metrics = {
            "setup_s": statistics.median(s["setup_s"] for s in self.setups),
            "cold_s": cold,
            "wall_s": wall,
            "f1": self.w.f1(),
            "jvm_live_heap_mb": self.memory["jvm_live_heap_mb"],
        }
        if not self.trace:
            return {k: (v, END_TO_END[k]) for k, v in metrics.items()}
        return self.traced(wall, log_dir)

    def traced(self, untraced_wall: float, log_dir: pathlib.Path) -> dict[str, tuple[float, str]]:
        tracer = Tracer(self.spark)
        wall = self.iterate("traced", tracer=tracer)
        self.spark.stop()  # flushes and closes the event log
        jobs, tasks = eventlog.read(log_dir)
        # the log also holds the set-up's jobs (warm-up, input schema reads)
        lo, hi = (t * 1000 for t in self.window)
        jobs = [j for j in jobs if lo <= j.submitted_ms <= hi]
        missing = eventlog.attribute(jobs, tracer.spans)
        layers = eventlog.rollup(jobs, tasks, tracer.spans)
        units = per_layer_units()
        out = {k: 0.0 for k in units}
        for module, vals in layers.items():
            for k, v in vals.items():
                if f"{module}.{k}" in out:
                    out[f"{module}.{k}"] = v
        first = self.setups[0]
        out["session.start_s"] = first["session_s"]
        out["session.warmup_s"] = first["warmup_s"]
        out["trace.unattributed_jobs"] = missing
        out["trace.overhead_s"] = wall - untraced_wall
        if isinstance(self.w, ERWorkload):
            m = self.w.last_metrics
            out["checkpoint.write_mb"] = self.w.checkpoint_bytes / eventlog.MB
            out["checkpoint.commit_s"] = eventlog.commit_seconds(jobs, tracer.spans)
            out["pairs.cap_ratio"] = m["pairs_capped_estimate"] / max(1, m["pairs_theoretical"])
            out["scoring.pairs_scored"] = m["pairs_scored"]
        out["clustering.rounds"] = eventlog.checkpoint_rounds(jobs, tracer.spans)
        self.trace_detail = {"jobs": len(jobs), "tasks": len(tasks), "spans": len(tracer.spans)}
        return {k: (v, units[k]) for k, v in out.items()}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, help="scale factor of the queries "
                    f"workload's tables (default {QueryWorkload.sf})")
    args = ap.parse_args(argv)

    work = ROOT / WORK_DIR / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    tempfile.tempdir = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    # Python workers import belb_spark from this checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)

    workload = QueryWorkload(args.sf) if args.workload == "queries" else ERWorkload()
    runner = Runner(workload, args.seed, args.seconds, bool(args.trace), work)
    try:
        metrics = runner.run()
    finally:
        if runner.spark is not None:
            stop_engine(runner.spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            (ROOT / WORK_DIR).rmdir()
        except OSError:
            pass  # another run still holds a directory there

    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "cores": CORES,
        "trace": args.trace,
        **workload.details(),
        "setups": runner.setups,
        "memory": runner.memory,
        "iterations": runner.iterations,
        "failures": runner.failures,
        **({"trace_detail": runner.trace_detail} if args.trace else {}),
    }
    print(json.dumps(detail, default=str))
    result = {
        "correct": not runner.failures,
        "attempted": runner.attempted,
        "failed": len(runner.failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
