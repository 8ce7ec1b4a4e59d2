"""Benchmark of the engine: three closed-loop workloads, one client each.

    python3 perfbench/run.py --workload skew_backfill --seed 1 --seconds 5 --trace 0

Run from the repository root.  The run pins the session to this
machine (``SPARK_GRAFT_CPUS`` from the CPU affinity, the repository on
``PYTHONPATH`` for the Python workers, Spark's local and temp
directories inside ``perfbench/.work``), stages the workload's inputs
from ``--seed``, runs one untimed warm pass, then runs whole passes for
``--seconds`` (at least one) and checks every result against a
reference answer outside the timed region.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``).  The line before it holds
the details: box, set-up split, the wall-clock figures with their tail
percentiles and sample counts, and, when traced, the per-query layer
split.  ``--fingerprint`` prints the box fingerprint
instead (isolated ``pricing_summary``/``multi_join_revenue`` medians and
one single-core skew drain).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
from collections import defaultdict
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("skew_backfill", "index_replay", "batch_mix")

END_TO_END_UNITS = {"setup_s": "s", "cpu_s": "s", "peak_rss_mb": "MB"}
PER_LAYER_UNITS = {
    "session.start_s": "s",
    "sources.stage_s": "s",
    "sources.load_table_s": "s",
    "queries.construct_s": "s",
    "catalyst.plan_s": "s",
    "exec.task_run_s": "s",
    "exec.task_cpu_s": "s",
    "exec.task_gc_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "arrow.python_s": "s",
    "arrow.rows": "count",
    "arrow.bytes_sent": "bytes",
    "arrow.bytes_returned": "bytes",
    "stream.triggers": "count",
    "stream.query_planning_ms": "ms",
    "stream.add_batch_ms": "ms",
    "stream.latest_offset_ms": "ms",
    "stream.get_batch_ms": "ms",
    "stream.wal_commit_ms": "ms",
    "stream.commit_offsets_ms": "ms",
    "state.commit_ms": "ms",
    "state.rows_total_max": "count",
    "state.memory_bytes_max": "bytes",
    "state.rows_removed": "count",
    "state.rows_dropped_by_watermark": "count",
    "sinks.bytes_written": "bytes",
    "sinks.records_written": "count",
    "tracing.overhead_pct": "%",
}
MAX_LAYERS = {"state.rows_total_max", "state.memory_bytes_max"}


def process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def process_tree(root: int) -> dict[int, tuple[str, int]]:
    """``root`` and every live process below it (the JVM, the pyspark
    daemon and its Python workers): pid -> (command name, CPU ticks used
    by the process and its exited children)."""
    procs = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                comm, rest = f.read().split(" (", 1)[1].rsplit(")", 1)
        except OSError:  # exited while listing
            continue
        fields = rest.split()
        procs[int(entry)] = (int(fields[1]), comm, sum(int(x) for x in fields[11:15]))
    tree = {}
    for pid, (_, comm, ticks) in procs.items():
        p = pid
        while p > 1 and p != root:
            p = procs[p][0] if p in procs else 0
        if p == root:
            tree[pid] = (comm, ticks)
    return tree


def tree_cpu(root: int) -> dict[str, float]:
    """CPU seconds used so far by the process tree of ``root``, by
    command name, counting exited children through their parents.  Time
    the hypervisor stole is not in it."""
    out: dict[str, float] = defaultdict(float)
    for comm, ticks in process_tree(root).values():
        out[comm] += ticks / os.sysconf("SC_CLK_TCK")
    return out


def peak_rss_mb(root: int) -> dict[str, float]:
    """Peak resident set sizes (VmHWM) of the live processes in the tree
    of ``root``, summed by command name.  The kernel tracks each peak, so
    reading it costs nothing while the workload runs.  Python workers
    that already exited are not in it; with worker reuse on (Spark's
    default) they stay up for the whole session."""
    out: dict[str, float] = defaultdict(float)
    for pid, (comm, _) in process_tree(root).items():
        try:
            with open(f"/proc/{pid}/status") as f:
                hwm = next(line for line in f if line.startswith("VmHWM:"))
        except (OSError, StopIteration):  # exited, or holds no memory
            continue
        out[comm] += int(hwm.split()[1]) / 1024
    return out


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def steal_pct(since: tuple[int, int]) -> float:
    """Share of CPU time the hypervisor gave to other guests since
    ``since``: a run measured while it is high is a noisy-neighbour run."""
    steal, total = cpu_ticks()
    return 100.0 * (steal - since[0]) / max(1, total - since[1])


def pin_environment(work: str) -> int:
    """Environment the session and its Python workers start with."""
    cpus = len(os.sched_getaffinity(0))
    dirs = {k: os.path.join(work, k) for k in ("local", "tmp", "jtmp", "warehouse", "eventlog")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["TMPDIR"] = dirs["tmp"]
    # -XX:-UsePerfData: the JVM would otherwise keep a file under /tmp.
    os.environ["JDK_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={dirs['jtmp']} -XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    sys.path.insert(0, ROOT)
    return cpus


class Session:
    """The engine's SparkSession plus the listener every workload uses."""

    def __init__(self, work: str):
        import tracing

        self.work = work
        self.progress_log = tracing.ProgressLog()
        self.spark = None

    def start(self, event_log: bool = False, master: str | None = None):
        from flink_repartition_watermark_example_spark import get_spark

        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if event_log:
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + os.path.join(self.work, "eventlog"),
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        self.spark = get_spark(master=master, extra_conf=conf)
        self.spark.streams.addListener(self.progress_log)
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        self.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None


def no_tag(spark, group: str) -> None:
    pass


def job_group(spark, group: str) -> None:
    spark.sparkContext.setJobGroup(group, group)


def run_one(workload, spark, name: str, tag):
    from workloads import Op

    start = time.time()
    try:
        return workload.run(spark, name, tag)
    except Exception as e:  # a failed operation is counted, not fatal
        return Op(name, start, end=time.time(), error=f"{type(e).__name__}: {e}")


@dataclass
class Pass:
    """One round over a workload's operations, with its wall time and
    the CPU time every process of the run spent on it."""

    ops: list
    wall_s: float
    cpu_by_process_s: dict[str, float]

    @property
    def cpu_s(self) -> float:
        return sum(self.cpu_by_process_s.values())


def closed_loop(workload, spark, seconds: float, tag, names: list[str]) -> list[Pass]:
    """Whole passes over ``names``, one operation at a time: at least one,
    then another only while the last pass says it would end within
    ``seconds``."""
    passes, t0 = [], time.perf_counter()
    while True:
        t, cpu = time.perf_counter(), tree_cpu(os.getpid())
        ops = [run_one(workload, spark, name, tag) for name in names]
        wall = time.perf_counter() - t
        used = {k: v - cpu.get(k, 0.0) for k, v in tree_cpu(os.getpid()).items()}
        passes.append(Pass(ops, wall, used))
        if time.perf_counter() - t0 + wall > seconds:
            return passes


def all_ops(passes: list[Pass]) -> list:
    return [op for p in passes for op in p.ops]


def run_seconds(passes: list[Pass]) -> float:
    return statistics.median(p.wall_s for p in passes)


def tail(values: list[float]) -> dict:
    """The highest whole percentile with at least ten samples beyond it."""
    n = len(values)
    if n <= 10:
        return {"n": n, "percentile": None, "value": None}
    pct = math.floor(100 * (n - 10) / n)
    rank = max(1, math.ceil(pct / 100 * n))
    return {"n": n, "percentile": pct, "value": sorted(values)[rank - 1]}


def per_pass(ops: list, values: list[dict]) -> dict[str, float]:
    """Per-operation numbers folded into one pass: the mean over the
    executions of each operation, summed over operations (max for
    high-water marks)."""
    by_name = defaultdict(list)
    for op, v in zip(ops, values):
        by_name[op.name].append(v)
    out: dict[str, float] = defaultdict(float)
    for runs in by_name.values():
        for key in {k for r in runs for k in r}:
            xs = [r.get(key, 0.0) for r in runs]
            if key in MAX_LAYERS:
                out[key] = max(out[key], max(xs))
            else:
                out[key] += statistics.fmean(xs)
    return out


def wall_clock(passes: list[Pass]) -> dict:
    """The wall-clock figures a user of each workload waits on.  They
    swing with the load other machines put on the host, so they are
    reported here, not gated as end-to-end metrics."""
    ops = all_ops(passes)
    out = {"run_s": run_seconds(passes), "passes": len(passes)}
    triggers = [t for op in ops for t in op.triggers_ms]
    if triggers:
        out["events_per_s"] = sum(op.input_rows for op in ops) / sum(op.wall for op in ops)
        out["trigger_p50_ms"] = statistics.median(triggers)
        out["trigger_tail_ms"] = tail(triggers)
    else:
        walls = [op.wall for op in ops]
        out["query_p50_s"] = statistics.median(walls)
        out["query_tail_s"] = tail(walls)
    lags = [x for op in ops for x in op.lags_ms]
    if lags:
        out["emit_lag_p50_ms"] = statistics.median(lags)
        out["emit_lag_tail_ms"] = tail(lags)
    by_name = defaultdict(list)
    for op in ops:
        by_name[op.name].append(op.wall)
    out["op_wall_s"] = {name: statistics.median(w) for name, w in by_name.items()}
    return out


def layers(workload, ops: list, log, session_start_s: float, overhead_pct: float):
    """Per-layer metrics of a traced pass, plus the per-query split of
    wall time into construction, planning and execution.  Each split
    also carries two signals the split is not built from: the interval
    from the first job's submission to the last job's end, relative to
    the operation's start, and the task run time of those jobs."""
    import tracing

    values, split = [], []
    for op in ops:
        start_ms, built_ms, end_ms = op.start * 1e3, op.built * 1e3, op.end * 1e3
        v = {"queries.construct_s": op.built - op.start}
        v.update(log.exec_layers(start_ms - 1, end_ms + 1))
        v.update(tracing.stream_layers(op.progress))
        group = f"{op.name}:run"
        span = log.executions(built_ms - 1, end_ms + 1, group)
        jobs = log.jobs_in(built_ms - 1, end_ms + 1, group)
        if span is not None and jobs:
            v["catalyst.plan_s"] = (span[0] - built_ms) / 1e3
            split.append(
                {
                    "query": op.name,
                    "wall_s": op.wall,
                    "construct_s": op.built - op.start,
                    "plan_s": (span[0] - built_ms) / 1e3,
                    "exec_s": (span[1] - span[0]) / 1e3,
                    "jobs_s": [
                        (min(j["submit"] for j in jobs) - start_ms) / 1e3,
                        (max(j["end"] for j in jobs) - start_ms) / 1e3,
                    ],
                    "task_run_s": log.exec_layers(built_ms - 1, end_ms + 1, group)[
                        "exec.task_run_s"
                    ],
                }
            )
        values.append(v)
    out = {k: 0.0 for k in PER_LAYER_UNITS}
    out.update(per_pass(ops, values))
    out["session.start_s"] = session_start_s
    out["sources.stage_s"] = workload.stage_s
    out["sources.load_table_s"] = workload.load_table_s
    out["tracing.overhead_pct"] = overhead_pct
    return out, split


def versions(spark, cpus: int) -> dict:
    import pyspark

    return {
        "cpus": cpus,
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
    }


def benchmark(args, work: str, cpus: int) -> tuple[dict, dict]:
    import tracing
    import workloads

    session = Session(work)
    try:
        t = time.perf_counter()
        spark = session.start()
        session_start_s = time.perf_counter() - t
        workload = workloads.make(args.workload, work, session.progress_log)
        workload.stage(spark, args.seed)
        t = time.perf_counter()
        warm = all_ops(closed_loop(workload, spark, 0, no_tag, workload.warm_ops()))
        for op in warm:
            if op.error:
                raise RuntimeError(f"warm pass failed: {op.name}: {op.error}")
        warm_s = time.perf_counter() - t
        setup_s = process_age_s()
        ticks = cpu_ticks()
        passes = closed_loop(workload, spark, args.seconds, no_tag, workload.ops())
        steal = steal_pct(ticks)
        peak = peak_rss_mb(os.getpid())
        metrics = {
            "setup_s": setup_s,
            "cpu_s": statistics.median(p.cpu_s for p in passes),
            "peak_rss_mb": sum(peak.values()),
        }
        detail = {
            "box": {**versions(spark, cpus), "steal_pct": steal},
            "setup_parts_s": {
                "session_start": session_start_s,
                "stage": workload.stage_s,
                "load_table": workload.load_table_s,
                "warm_pass": warm_s,
            },
            "warm_op_s": {op.name: op.wall for op in warm},
            "wall_clock": wall_clock(passes),
            "cpu_by_process_s": [p.cpu_by_process_s for p in passes],
            "peak_rss_by_process_mb": peak,
        }
        checked = all_ops(passes)
        if args.trace:
            # The same work on a fresh session that writes the event log
            # and tags every call with a job group, then once more
            # untraced: the JVM keeps warming up, so the traced pass is
            # compared with the mean of the untraced passes around it.
            phases = []
            for traced in (True, False):
                session.stop()
                spark = session.start(event_log=traced)
                workload.reload(spark)
                tag = job_group if traced else no_tag
                closed_loop(workload, spark, 0, tag, workload.warm_ops())
                phases.append(closed_loop(workload, spark, args.seconds, tag, workload.ops()))
            session.stop()
            untraced_s = (run_seconds(passes) + run_seconds(phases[1])) / 2
            overhead = 100.0 * (run_seconds(phases[0]) / untraced_s - 1.0)
            log = tracing.EventLog(os.path.join(work, "eventlog"))
            metrics, detail["layer_split"] = layers(
                workload, all_ops(phases[0]), log, session_start_s, overhead
            )
            checked += all_ops(phases[0]) + all_ops(phases[1])
    finally:
        session.shutdown()
    failures = workload.check(checked)
    detail["error_rate"] = len(failures) / len(checked)
    detail["failures"] = failures[:20]
    result = {
        "correct": not failures,
        "attempted": len(checked),
        "failed": len(failures),
        "metrics": metrics,
    }
    return result, detail


def fingerprint(work: str, cpus: int, seed: int) -> dict:
    """Box-speed fingerprint: isolated medians of two batch queries at
    every core, then one skew drain on a single-core session."""
    import workloads

    session = Session(work)
    try:
        spark = session.start()
        batch = workloads.BatchMix(work)
        batch.stage(spark, seed)
        out = {"box": versions(spark, cpus)}
        for q in ("pricing_summary", "multi_join_revenue"):
            walls = [batch.run(spark, q, no_tag).wall for _ in range(6)][1:]
            out[f"{q}_s"] = statistics.median(walls)
        skew = workloads.SkewBackfill(os.path.join(work, "skew"), session.progress_log)
        skew.stage(spark, seed)
        session.stop()
        os.environ["SPARK_GRAFT_CPUS"] = "1"
        spark = session.start(master="local[1]")
        skew.reload(spark)
        skew.run(spark, "drain", no_tag)
        out["skew_drain_local1_s"] = skew.run(spark, "drain", no_tag).wall
    finally:
        session.shutdown()
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--fingerprint", action="store_true")
    args = ap.parse_args(argv)
    if not args.fingerprint and args.workload is None:
        ap.error("--workload is required")

    sys.path.insert(0, ROOT)
    try:
        import flink_repartition_watermark_example_spark  # noqa: F401
    except ImportError as e:
        print(f"error: the engine package is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2

    work = os.path.join(HERE, ".work", f"{args.workload or 'fingerprint'}-{os.getpid()}")
    try:
        cpus = pin_environment(work)
        if args.fingerprint:
            print(json.dumps(fingerprint(work, cpus, args.seed)), flush=True)
            return 0
        result, detail = benchmark(args, work, cpus)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run still uses it
            pass
    units = PER_LAYER_UNITS if args.trace else END_TO_END_UNITS
    result["metrics"] = {
        k: {"value": float(result["metrics"][k]), "unit": u} for k, u in units.items()
    }
    print(json.dumps({"detail": {"workload": args.workload, "seed": args.seed, **detail}}))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
