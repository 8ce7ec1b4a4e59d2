"""Tests of the benchmark itself.

The fast tests cover the pass loop, the CPU accounting, the statistics
helpers, the seeded inputs and the refusal to run without the engine.
The three end-to-end tests (marked ``slow``) run three short
benchmarks, about three minutes in all:

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import datagen  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def bench(workload: str, trace: int, seed: int = 5) -> tuple[dict, dict]:
    """Run the benchmark as the command line does; (detail, result)."""
    proc = subprocess.run(
        [*SPEC["command"], "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2])["detail"], json.loads(lines[-1])


slow = pytest.mark.slow


@pytest.fixture(scope="module")
def traced_skew():
    return bench("skew_backfill", 1)


@pytest.fixture(scope="module")
def traced_batch():
    return bench("batch_mix", 1)


def test_tail_keeps_ten_samples_beyond():
    values = [float(i) for i in range(1, 31)]
    t = run.tail(values)
    assert t == {"n": 30, "percentile": 66, "value": 20.0}
    assert sum(v > t["value"] for v in values) >= 10
    assert run.tail(values[:10])["percentile"] is None


def test_closed_loop_runs_whole_passes():
    class Counter:
        def run(self, spark, name, tag):
            return workloads.Op(name, 0.0, end=0.0)

    passes = run.closed_loop(Counter(), None, 0, run.no_tag, ["a", "b", "c"])
    assert [[op.name for op in p.ops] for p in passes] == [["a", "b", "c"]]


def test_tree_cpu_counts_children():
    before = sum(run.tree_cpu(os.getpid()).values())
    spin = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.5: pass"
    subprocess.run([sys.executable, "-c", spin], check=True)
    assert sum(run.tree_cpu(os.getpid()).values()) - before >= 0.4


def test_tables_are_a_function_of_the_seed():
    a, b, c = datagen.make_tables(3), datagen.make_tables(3), datagen.make_tables(4)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".work", "__pycache__"))
    proc = subprocess.run(
        [*SPEC["command"], "--workload", "batch_mix", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


@slow
def test_output_names_every_metric_with_its_unit(traced_skew):
    detail, untraced = bench("index_replay", 0)
    for result, key in ((untraced, "end_to_end"), (traced_skew[1], "per_layer")):
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
        assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
        want = {m["name"]: m["unit"] for m in SPEC[key]}
        got = {name: m["unit"] for name, m in result["metrics"].items()}
        assert got == want
    assert all(m["value"] > 0 for m in untraced["metrics"].values())
    assert {"run_s", "events_per_s", "trigger_p50_ms", "trigger_tail_ms"} <= set(detail["wall_clock"])
    assert {"emit_lag_p50_ms", "emit_lag_tail_ms"} <= set(traced_skew[0]["wall_clock"])
    assert detail["error_rate"] == 0


@slow
def test_traced_layers_add_up_to_each_query(traced_batch):
    detail, result = traced_batch
    assert result["correct"]
    split = detail["layer_split"]
    assert {s["query"] for s in split} == set(workloads.BATCH_QUERIES)
    cpus = detail["box"]["cpus"]
    for s in split:
        parts = s["construct_s"] + s["plan_s"] + s["exec_s"]
        assert abs(parts - s["wall_s"]) <= 0.1 * s["wall_s"], s
        # The parts telescope, so check execution against the job events:
        # every job of the query runs inside its execution part, and the
        # tasks of those jobs fit in that part on the session's cores.
        exec_from = s["construct_s"] + s["plan_s"]
        first_submit, last_end = s["jobs_s"]
        assert exec_from - 0.001 <= first_submit <= last_end <= exec_from + s["exec_s"] + 0.001, s
        assert s["task_run_s"] <= s["exec_s"] * cpus + 0.001, s
    assert result["metrics"]["arrow.python_s"]["value"] > 0


@slow
def test_skew_backfill_bypasses_arrow_and_drops_nothing(traced_skew):
    _, result = traced_skew
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert result["correct"]
    assert m["arrow.python_s"] == 0
    assert m["state.rows_dropped_by_watermark"] == 0
    assert m["stream.triggers"] > 0 and m["state.rows_removed"] > 0
