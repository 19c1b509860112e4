"""Benchmark entry point.

    python3 perfbench/run.py --workload wiki_dump --seed 1 --seconds 10 --trace 0

Run model: one fresh Python process per run, one Spark session at
``local[nproc]``, and one caller executing the workload's pipeline in a
closed loop (each execution waits for its collected, checked result
before the next starts). The first execution is reported on its own;
``wall_s`` is the median of the later ones.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` enables the
Spark event log and, after the first execution, alternates untraced and
traced executions (one Spark job group per layer) for the window; it
prints the per-layer metrics, medians over the traced executions. The
last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``.

Everything the run writes (input cache, Spark local dirs, event logs,
temp files) lives under ``.bench_build/perfbench`` in the checkout.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()  # process start, for setup_s

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

from pyspark import SparkContext  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)  # the engine and this package import from the checkout

# fails at once, before any input is generated, when the engine is absent
from pagerank_hadoop_spark.session import get_spark  # noqa: E402
from perfbench import eventlog, workloads as W  # noqa: E402

WORK = os.path.join(ROOT, ".bench_build", "perfbench")
NPROC = len(os.sched_getaffinity(0))

MIN_LATER = 3  # later executions per run, even past --seconds

E2E_UNITS = {
    "setup_s": "s",
    "first_wall_s": "s",
    "first_cpu_s": "s",
    "wall_s": "s",
    "ok_frac": "ratio",
}
LAYER_UNITS = {
    "s": "s",
    "jobs": "count",
    "tasks": "count",
    "task_s": "s",
    "busy_frac": "ratio",
    "shuffle_mb": "MB",
    "spill_mb": "MB",
}
EXTRA_UNITS = {
    "wiki.pages": "count",
    "wikitext.links": "count",
    "wikitext.keep_ratio": "ratio",
    "pagerank.rounds": "count",
    "pagerank.round_s": "s",
    "pagerank.pinned_rdds": "count",
    "jvm.peak_rss_mb": "MB",
    "trace.wall_s": "s",
    "trace.unaccounted_s": "s",
    "trace.overhead_s": "s",
}
PER_LAYER_UNITS = {
    f"{layer}.{k}": u for layer in W.LAYERS for k, u in LAYER_UNITS.items()
} | EXTRA_UNITS


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def configure_env(eventlog_dir: str | None) -> None:
    """Environment for the Spark JVM and its Python workers. Must run
    before the first session is created."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(NPROC)
    # Python workers import the engine by module path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # HotSpot writes its perf-counter file under /tmp whatever the
    # tmpdir; the launcher JVM and the driver JVM both skip it
    no_perf_file = "-XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = no_perf_file
    args = [
        "--conf", f"spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
        "--driver-java-options", f"-Djava.io.tmpdir={tmp} {no_perf_file}",
        "--conf", "spark.ui.showConsoleProgress=false",
    ]
    if eventlog_dir:
        args += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{eventlog_dir}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def start_session():
    """get_spark plus a trivial first job: the session a caller can use."""
    spark = get_spark("perfbench")
    spark.range(1).count()
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at EOF on its stdin
        proc.wait(timeout=60)


def jvm_pid(spark) -> int:
    return spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()


def process_cpu_s(pid: int) -> float:
    """User plus system CPU seconds of process ``pid``, all threads."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def jvm_peak_rss_mb(spark) -> float:
    pid = jvm_pid(spark)
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def cpu_steal_frac(before: list[int], after: list[int]) -> float:
    """Share of this machine's CPU time the hypervisor gave to others
    between two ``/proc/stat`` samples; it explains slow runs."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


class Loop:
    """Closed-loop executor: counts attempts and failures, and records
    each execution's wall time and CPU time (Spark JVM plus this Python
    driver, all threads)."""

    def __init__(self, workload: str, answer: dict, jvm: int):
        self.workload = workload
        self.answer = answer
        self.jvm = jvm
        self.attempted = 0
        self.failed = 0
        self.cpu: list[float] = []

    def _cpu(self) -> float:
        t = os.times()
        return process_cpu_s(self.jvm) + t.user + t.system

    def run(self, fn) -> float:
        self.attempted += 1
        c = self._cpu()
        t = time.perf_counter()
        try:
            n, rows = fn()
        except Exception:  # an execution that raises counts as failed
            self.failed += 1
            log(traceback.format_exc())
            n, rows = None, None
        wall = time.perf_counter() - t
        self.cpu.append(self._cpu() - c)
        if rows is not None:
            problem = W.check(self.workload, n, rows, self.answer)
            if problem:
                self.failed += 1
                log(f"execution {self.attempted}: wrong result: {problem}")
        return wall


def measure(args) -> dict:
    """Untraced run: the end-to-end metrics."""
    configure_env(None)
    spark = start_session()
    setup = time.perf_counter() - T0
    path, meta = W.prepare(args.workload, args.seed, os.path.join(WORK, "inputs"))
    loop = Loop(args.workload, meta["answer"], jvm_pid(spark))
    t_start = time.perf_counter()
    cpu0 = cpu_times()
    first = loop.run(lambda: W.execute(args.workload, spark, path))
    later = []
    while len(later) < MIN_LATER or time.perf_counter() - t_start < args.seconds:
        later.append(loop.run(lambda: W.execute(args.workload, spark, path)))
    stop_session(spark)
    log(f"setup {setup:.3f} first {first:.3f} later {[round(x, 3) for x in later]}")
    log(f"cpu first {loop.cpu[0]:.2f} later {[round(x, 2) for x in loop.cpu[1:]]}")
    log(f"failed_frac {loop.failed / loop.attempted} steal_frac {cpu_steal_frac(cpu0, cpu_times()):.3f}")
    metrics = {
        "setup_s": setup,
        "first_wall_s": first,
        "first_cpu_s": loop.cpu[0],
        "wall_s": statistics.median(later),
        "ok_frac": 1.0 - loop.failed / loop.attempted,
    }
    return result(loop, metrics, E2E_UNITS)


def measure_traced(args) -> dict:
    """Traced run: the per-layer metrics."""
    logdir = os.path.join(WORK, "eventlog", f"{os.getpid()}-{time.time_ns()}")
    os.makedirs(logdir)
    configure_env(logdir)
    spark = start_session()
    path, meta = W.prepare(args.workload, args.seed, os.path.join(WORK, "inputs"))
    loop = Loop(args.workload, meta["answer"], jvm_pid(spark))
    t_start = time.perf_counter()
    pinned_before = persistent_rdds(spark)
    loop.run(lambda: W.execute(args.workload, spark, path))
    pinned = persistent_rdds(spark) - pinned_before
    # untraced and traced executions alternate, so JIT warm-up still
    # going on after the first execution biases neither side of
    # trace.overhead_s
    untraced: list[float] = []
    traces: list = []
    while not traces or time.perf_counter() - t_start < args.seconds:
        untraced.append(loop.run(lambda: W.execute(args.workload, spark, path)))
        tr = W.Trace(spark, str(len(traces)))
        before = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
        t = time.perf_counter()
        loop.run(lambda: W.execute_traced(args.workload, spark, path, tr))
        tr.counts["trace.wall_s"] = time.perf_counter() - t
        traces.append(tr)
        # release the trace's own checkpoints so traced executions
        # don't accumulate pinned state across the run
        rdds = spark.sparkContext._jsc.getPersistentRDDs()
        for rid in set(rdds.keySet()) - before:
            rdds.get(rid).unpersist(False)
    rss = jvm_peak_rss_mb(spark)
    stop_session(spark)
    (logfile,) = [os.path.join(logdir, f) for f in os.listdir(logdir)]
    ledger = eventlog.parse(logfile)
    shutil.rmtree(logdir)

    per_exec = []
    for tr in traces:
        m = {}
        for layer in W.LAYERS:
            s = tr.seconds.get(layer, 0.0)
            led = ledger.get(tr.group(layer), eventlog.GroupLedger())
            m[f"{layer}.s"] = s
            m[f"{layer}.jobs"] = led.jobs
            m[f"{layer}.tasks"] = led.tasks
            m[f"{layer}.task_s"] = led.task_s
            m[f"{layer}.busy_frac"] = led.task_s / (s * NPROC) if s else 0.0
            m[f"{layer}.shuffle_mb"] = led.shuffle_mb
            m[f"{layer}.spill_mb"] = led.spill_mb
        for name in EXTRA_UNITS:
            m[name] = tr.counts.get(name, 0.0)
        m["pagerank.pinned_rdds"] = pinned
        m["jvm.peak_rss_mb"] = rss
        m["trace.unaccounted_s"] = m["trace.wall_s"] - sum(tr.seconds.values())
        per_exec.append(m)
    metrics = {k: statistics.median(m[k] for m in per_exec) for k in per_exec[0]}
    metrics["trace.overhead_s"] = metrics["trace.wall_s"] - statistics.median(untraced)
    log(f"untraced {[round(x, 3) for x in untraced]} traced {[round(m['trace.wall_s'], 3) for m in per_exec]}")
    return result(loop, metrics, PER_LAYER_UNITS)


def result(loop: Loop, metrics: dict, units: dict) -> dict:
    return {
        "correct": loop.failed == 0,
        "attempted": loop.attempted,
        "failed": loop.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("wiki_dump", "link_graph"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    out = measure_traced(args) if args.trace else measure(args)
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
