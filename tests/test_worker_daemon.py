"""The engine's PySpark worker daemon (worker_daemon.py): a per-task
import-cache refresh that re-reads a zip archive only when it changed,
pinned by get_spark, with the engine importable by every worker."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from flink_repartition_watermark_example_spark import session, worker_daemon
from flink_repartition_watermark_example_spark.session import (
    DAEMON_MODULE_CONF,
    ENGINE_ROOT,
    ENGINE_WORKER_DAEMON,
    PYSPARK_DAEMON,
)

STAT_GUARDED = sys.version_info < (3, 13)


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.mark.skipif(
    not STAT_GUARDED, reason="CPython 3.13+ keeps the stdlib's lazy refresh"
)
def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"wd_probe_a": "X = 1\n"})
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        worker_daemon.stat_guarded_invalidate_caches,
    )
    monkeypatch.syspath_prepend(archive)
    reads = []
    read_directory = zipimport._read_directory

    def counting_read(path):
        if path == archive:
            reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    try:
        assert importlib.import_module("wd_probe_a").X == 1
        importlib.invalidate_caches()  # stamps the archive
        reads.clear()
        for _ in range(5):
            importlib.invalidate_caches()
        assert reads == []

        _write_zip(archive, {"wd_probe_a": "X = 1\n", "wd_probe_b": "Y = 2\n"})
        importlib.invalidate_caches()
        assert reads == [archive]
        assert importlib.import_module("wd_probe_b").Y == 2
    finally:
        for name in ("wd_probe_a", "wd_probe_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)


def test_workers_run_the_engine_refresh(spark):
    def origin(it):
        import zipimport

        import pandas as pd

        path = zipimport.zipimporter.invalidate_caches.__code__.co_filename
        for pdf in it:
            yield pd.DataFrame({"path": [path] * len(pdf)})

    paths = {
        r.path
        for r in spark.range(4, numPartitions=2)
        .mapInPandas(origin, "path string")
        .collect()
    }
    (path,) = paths
    from_engine = os.path.exists(path) and os.path.samefile(
        path, worker_daemon.__file__
    )
    assert from_engine == STAT_GUARDED, path


def test_daemon_is_pinned_and_extra_conf_override_is_kept(session_builder):
    session.get_spark()
    assert session_builder.conf[DAEMON_MODULE_CONF] == ENGINE_WORKER_DAEMON
    assert session_builder.conf["spark.executorEnv.PYTHONPATH"] == ENGINE_ROOT
    assert os.path.isfile(
        os.path.join(ENGINE_ROOT, *ENGINE_WORKER_DAEMON.split(".")) + ".py"
    )

    session.get_spark(extra_conf={DAEMON_MODULE_CONF: PYSPARK_DAEMON})
    assert session_builder.conf[DAEMON_MODULE_CONF] == PYSPARK_DAEMON


def test_workers_import_the_engine_from_any_directory(tmp_path):
    """A driver outside the repository root, with PYTHONPATH unset:
    the workers find the engine through spark.executorEnv.PYTHONPATH,
    not through the daemon's working directory."""
    script = tmp_path / "probe.py"
    script.write_text(
        textwrap.dedent(
            f"""
            import sys
            sys.path.insert(0, {ENGINE_ROOT!r})
            from flink_repartition_watermark_example_spark import get_spark
            from flink_repartition_watermark_example_spark.operators.multimodal import (
                decode_image,
                synth_image_payload,
            )
            spark = get_spark(master="local[1]", shuffle_partitions=1)
            docs = spark.range(3).withColumnRenamed("id", "doc_id")
            print("ROWS", len(decode_image(synth_image_payload(docs)).collect()))
            """
        )
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, str(script)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert "ROWS 3" in proc.stdout, proc.stderr[-4000:]
