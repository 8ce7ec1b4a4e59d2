"""Session-scoped index artifacts (artifacts.py): one store for every
cached index artifact, scoped to the application and released per
source directory."""

from __future__ import annotations

import ast
import os
import subprocess
import sys
import textwrap

from flink_repartition_watermark_example_spark import artifacts
from flink_repartition_watermark_example_spark.operators import kmeans as KM
from flink_repartition_watermark_example_spark.operators.linalg import (
    pca_components,
)
from flink_repartition_watermark_example_spark.session import ENGINE_ROOT
from flink_repartition_watermark_example_spark.sources.tables import load_table

PACKAGE = os.path.join(ENGINE_ROOT, "flink_repartition_watermark_example_spark")


def _kinds() -> set[str]:
    return {k.kind for k in artifacts._MEMO}


def test_release_drops_quantizer_and_pca_entries(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    KM.train(emb)
    pca_components(emb)
    assert {"train", "pca_components"} <= _kinds()
    assert artifacts.release("/nonexistent/dir") == 0
    assert artifacts.release(sf_dir) >= 2
    assert not {"train", "pca_components"} & _kinds()


def test_bucketed_table_survives_a_new_session(sf_dir, tmp_path):
    """A new session in the same process starts with an empty catalog:
    the bucketed table's name must be registered again from the files
    the first session wrote, not served from the old session's entry."""
    script = tmp_path / "probe.py"
    script.write_text(
        textwrap.dedent(
            f"""
            import sys
            sys.path.insert(0, {ENGINE_ROOT!r})
            from flink_repartition_watermark_example_spark import get_spark
            from flink_repartition_watermark_example_spark.storage import (
                bucketed_table,
            )

            def rows(spark):
                name = bucketed_table(
                    spark, {sf_dir!r}, "orders", ["o_orderkey"], 4
                )
                return name, spark.table(name).count()

            spark = get_spark(master="local[1]", shuffle_partitions=1)
            first = rows(spark)
            spark.stop()
            spark = get_spark(master="local[1]", shuffle_partitions=1)
            print("SAME", rows(spark) == first, first[1] > 0)
            """
        )
    )
    # the bucketed copy lands under the temp dir; keep it in tmp_path
    env = dict(os.environ, TMPDIR=str(tmp_path))
    proc = subprocess.run(
        [sys.executable, str(script)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert "SAME True True" in proc.stdout, proc.stderr[-4000:]


def test_only_the_artifacts_module_binds_a_memo():
    """A new index artifact goes through artifacts.get_or_build, not a
    cache of its own with its own key rule."""
    offenders, scanned = [], 0
    for root, _, files in os.walk(PACKAGE):
        for f in files:
            path = os.path.join(root, f)
            if not f.endswith(".py") or path == artifacts.__file__:
                continue
            scanned += 1
            with open(path) as fh:
                tree = ast.parse(fh.read(), path)
            offenders += [
                f"{path}:{n.lineno} {n.id}"
                for n in ast.walk(tree)
                if isinstance(n, ast.Name)
                and isinstance(n.ctx, ast.Store)
                and n.id.endswith("_MEMO")
            ]
    assert scanned > 20 and not offenders, offenders
