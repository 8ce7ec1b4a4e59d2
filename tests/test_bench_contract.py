"""The driver-facing bench contract (VERDICT r10 #3): stdout must be
ONE JSON line small enough for the driver's ~2000-char tail window —
BENCH_r{N}.json.parsed was null for four rounds because the full
per-query map outgrew it.  The line builder is pure; only the JIT
policy test reads a live JVM."""

from __future__ import annotations

import json
import platform

import pytest

import bench
from flink_repartition_watermark_example_spark.session import TIER4_THRESHOLDS


def _fake_timings():
    # every benched name at a worst-case-width float, so the length
    # pin covers the REAL registry size (and keeps covering it as the
    # bench set grows)
    from flink_repartition_watermark_example_spark.queries import QUERIES

    names = list(QUERIES) + list(bench.BENCH_EXTRAS)
    assert len(names) >= 100
    return {n: 123.4567 for n in names}


def test_compact_line_fits_the_driver_window_and_parses():
    line = bench.compact_line(_fake_timings(), sf=0.1)
    assert "\n" not in line
    assert len(line) < 1500, len(line)  # 2000-char window with headroom
    d = json.loads(line)
    # the driver contract keys
    assert d["metric"] == "engine_bench_total"
    assert d["unit"] == "sec"
    assert isinstance(d["queries"], dict) and len(d["queries"]) == 5
    assert d["n_queries"] == len(_fake_timings())
    assert len(d["queries_sha256"]) == 16
    assert d["full_artifact"] == "BENCH_local.json"


def test_compact_line_hash_is_stable_and_order_insensitive():
    t = {"b": 2.0, "a": 1.0, "c": 3.0}
    h1 = json.loads(bench.compact_line(t, 0.1))["queries_sha256"]
    h2 = json.loads(bench.compact_line(dict(reversed(list(t.items()))), 0.1))[
        "queries_sha256"
    ]
    assert h1 == h2
    # any value change moves the hash
    h3 = json.loads(bench.compact_line({**t, "a": 1.01}, 0.1))["queries_sha256"]
    assert h3 != h1


def test_compact_line_geomean_vs_prev():
    # VERDICT r12 #3/#8: round-over-round visibility rides the SAME
    # bounded line — geomean speedup over the full common set of the
    # previous artifact's per-query map
    t = {"a": 1.0, "b": 2.0, "c": 4.0}
    prev = {"sf": 0.1, "cpus": 4, "queries": {"a": 2.0, "b": 2.0, "d": 9.0}}
    d = json.loads(bench.compact_line(t, 0.1, prev, cpus=4))
    assert d["n_common_prev"] == 2  # a and b; d not in this run
    # speedups: a 2.0/1.0=2.0, b 1.0 -> geomean sqrt(2)
    assert abs(d["geomean_vs_prev"] - 1.414) < 0.001
    # no previous artifact -> nulls, line still parses
    d0 = json.loads(bench.compact_line(t, 0.1, None, cpus=4))
    assert d0["geomean_vs_prev"] is None and d0["n_common_prev"] == 0
    # the length pin covers the new fields at full registry size
    line = bench.compact_line(
        _fake_timings(),
        0.1,
        {"sf": 0.1, "cpus": 32, "queries": {n: 123.4567 for n in _fake_timings()}},
        cpus=32,
    )
    assert len(line) < 1500 and "\n" not in line


def test_compact_line_compares_only_same_sf_and_cpus():
    # ADVICE r13 #1: a previous artifact from another scale factor or
    # core count (or one that never recorded its cores) yields null,
    # not a cross-box "speedup"; the line carries this run's cpus.
    t = {"a": 1.0, "b": 2.0}
    queries = {"a": 2.0, "b": 4.0}
    same = {"sf": 0.1, "cpus": 4, "queries": queries}
    assert json.loads(bench.compact_line(t, 0.1, same, cpus=4))[
        "geomean_vs_prev"
    ] == 2.0
    for prev, cpus in [
        ({**same, "sf": 1.0}, 4),
        ({**same, "cpus": 32}, 4),
        ({"sf": 0.1, "queries": queries}, 4),
        (same, None),
    ]:
        d = json.loads(bench.compact_line(t, 0.1, prev, cpus=cpus))
        assert d["geomean_vs_prev"] is None and d["n_common_prev"] == 0, prev
        assert d["cpus"] == cpus


def test_artifacts_record_the_python_version():
    # A Python task's fixed cost depends on the interpreter (the worker
    # daemon's zip-cache guard applies below CPython 3.13), so the line
    # and the artifact both carry it.
    d = json.loads(bench.compact_line({"a": 1.0}, 0.1, None, cpus=4))
    assert d["python"] == platform.python_version()
    assert "python" in bench.OWN_KEYS


def test_artifacts_record_the_jit_policy(spark):
    # The JVM rows' warm-up cost depends on the driver's C2 compile
    # thresholds (session.py pins them), so the line and the artifact
    # carry the values the live JVM runs with.
    jit = bench.jit_tier4(spark)
    assert jit == TIER4_THRESHOLDS
    d = json.loads(bench.compact_line({"a": 1.0}, 0.1, None, cpus=4, jit=jit))
    assert d["jit_tier4"] == jit
    assert "jit_tier4" in bench.OWN_KEYS


def test_consumes_map_names_benched_queries_and_build_keys():
    # VERDICT r12 #6: every consumes entry must reference a benched
    # query and an artifact build key the harness actually writes
    from flink_repartition_watermark_example_spark.queries import QUERIES

    benched = set(QUERIES) | set(bench.BENCH_EXTRAS)
    build_keys = {"cluster_build_sec", "kmeans_train_sec", "lsh_index_build_sec"}
    assert bench.CONSUMES, "consumes map must not be empty"
    for q, keys in bench.CONSUMES.items():
        assert q in benched, q
        assert keys and set(keys) <= build_keys, (q, keys)


def test_stream_shuffle_width_env_override(monkeypatch):
    # VERDICT r12 #2: the documented override must exist and the
    # default must derive from the session cpu helper
    from flink_repartition_watermark_example_spark.queries_streaming import (
        stream_shuffle_width,
    )

    monkeypatch.setenv("SPARK_GRAFT_STREAM_SHUFFLE", "5")
    assert stream_shuffle_width() == 5
    monkeypatch.delenv("SPARK_GRAFT_STREAM_SHUFFLE")
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "32")
    assert stream_shuffle_width() == 8  # bench config: unchanged width
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "8")
    assert stream_shuffle_width() == 2
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "64")
    assert stream_shuffle_width() == 8  # clamped


def test_stream_shuffle_width_rejects_bad_override(monkeypatch):
    # ADVICE r13 #5: a set value that is not a positive integer fails
    # loudly, naming the variable, instead of being guessed at
    from flink_repartition_watermark_example_spark.queries_streaming import (
        stream_shuffle_width,
    )

    for bad in ("", "0", "-3", "8.0", "eight"):
        monkeypatch.setenv("SPARK_GRAFT_STREAM_SHUFFLE", bad)
        with pytest.raises(ValueError, match="SPARK_GRAFT_STREAM_SHUFFLE"):
            stream_shuffle_width()


def test_accepted_regressions_are_recorded():
    # VERDICT r10 #7: the accepted-cost ledger ships with the artifact
    # writer and names the r10 recall trade
    ar = bench.ACCEPTED_REGRESSIONS
    assert "ivf_ann_filtered_topk" in ar
    entry = ar["ivf_ann_filtered_topk"]
    assert entry["round"] == 10 and "recall" in entry["reason"]
