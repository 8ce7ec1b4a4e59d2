"""Each testdata table's schema is inferred once per session
(``sources.tables.table_schema``): a schema-less parquet read runs a
footer-reading Spark job, so ``load_table`` reads with the schema the
first read inferred.  The schema must be exactly the one Spark infers,
a repeat read must launch no job, and a rewritten file, a released
dir or a new application must infer again."""

from __future__ import annotations

import glob
import os
import shutil
import subprocess
import sys
import textwrap

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql import types as T

from flink_repartition_watermark_example_spark import artifacts
from flink_repartition_watermark_example_spark.datamodel import TABLES
from flink_repartition_watermark_example_spark.queries import QUERIES
from flink_repartition_watermark_example_spark.session import ENGINE_ROOT
from flink_repartition_watermark_example_spark.sources.tables import (
    load_table,
    table_schema,
)

sys.path.insert(0, os.path.join(ENGINE_ROOT, "scripts"))

from gen_scale import scale_table  # noqa: E402


def _inferred(spark, sf_dir: str, name: str):
    """What ``load_table`` returned when every call inferred the schema."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and isinstance(df.schema["ts"].dataType, T.LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def _schema_entries(sf_dir: str) -> list:
    root = os.path.join(os.path.abspath(sf_dir), "")
    return [
        k
        for k in artifacts._MEMO
        if k.kind == "table_schema"
        and any(p.startswith(root) for p, _, _ in k.sources)
    ]


def test_schema_is_the_inferred_one_in_every_testdata_dir(spark, sf_dir):
    dirs = sorted(glob.glob(os.path.join(os.path.dirname(sf_dir), "sf*")))
    assert sf_dir in dirs
    for d in dirs:
        for name in TABLES:
            path = os.path.join(d, f"{name}.parquet")
            assert load_table(spark, d, name).schema == spark.read.parquet(path).schema, (
                d,
                name,
            )


def test_a_second_load_launches_no_job(spark, sf_dir, count_jobs):
    for name in TABLES:
        load_table(spark, sf_dir, name)
        df, jobs = count_jobs(lambda: load_table(spark, sf_dir, name))
        assert jobs == 0, name
        assert df.schema == _inferred(spark, sf_dir, name).schema, name
    q = QUERIES["multi_join_revenue"]
    q.spark(spark, sf_dir)
    _, jobs = count_jobs(lambda: q.spark(spark, sf_dir))
    assert jobs == 0


def test_directory_shaped_table(spark, sf_dir, tmp_path, count_jobs):
    out = str(tmp_path)
    scale_table(spark, sf_dir, out, "orders", 2)
    assert os.path.isdir(os.path.join(out, "orders.parquet"))
    df, jobs = count_jobs(lambda: load_table(spark, out, "orders"))
    assert jobs == 1
    assert df.schema == _inferred(spark, out, "orders").schema
    assert sorted(df.collect()) == sorted(_inferred(spark, out, "orders").collect())
    assert count_jobs(lambda: load_table(spark, out, "orders"))[1] == 0


def test_int64_nanos_events(spark, sf_dir, tmp_path, count_jobs):
    """An events file whose ts is parquet TIMESTAMP(NANOS): the schema
    is inferred with nanosAsLong set (ts as long), and load_table still
    rescales ts to a microsecond timestamp."""
    tbl = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    i = tbl.schema.get_field_index("ts")
    tbl = tbl.set_column(i, "ts", tbl["ts"].cast(pa.timestamp("ns")))
    pq.write_table(tbl, str(tmp_path / "events.parquet"))
    d = str(tmp_path)
    schema = table_schema(spark, d, "events")
    assert isinstance(schema["ts"].dataType, T.LongType)
    assert schema == spark.read.parquet(os.path.join(d, "events.parquet")).schema
    df, jobs = count_jobs(lambda: load_table(spark, d, "events"))
    assert jobs == 0
    assert isinstance(df.schema["ts"].dataType, T.TimestampType)
    assert sorted(df.collect()) == sorted(_inferred(spark, d, "events").collect())


def test_rewritten_file_infers_again(spark, sf_dir, tmp_path, count_jobs):
    d = str(tmp_path)
    path = os.path.join(d, "region.parquet")
    shutil.copy(os.path.join(sf_dir, "region.parquet"), path)
    assert count_jobs(lambda: load_table(spark, d, "region"))[1] == 1
    assert count_jobs(lambda: load_table(spark, d, "region"))[1] == 0

    # new bytes: one more column
    tbl = pq.read_table(path)
    pq.write_table(tbl.append_column("r_extra", pa.array([1] * len(tbl))), path)
    df, jobs = count_jobs(lambda: load_table(spark, d, "region"))
    assert jobs == 1
    assert df.columns[-1] == "r_extra" and df.where("r_extra = 1").count() == len(tbl)

    # same bytes, new mtime
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns - 10**9))
    df, jobs = count_jobs(lambda: load_table(spark, d, "region"))
    assert jobs == 1 and df.columns[-1] == "r_extra"


def test_release_drops_the_schema_entries(spark, sf_dir, tmp_path, count_jobs):
    d = str(tmp_path)
    for name in ("nation", "region"):
        shutil.copy(os.path.join(sf_dir, f"{name}.parquet"), d)
        load_table(spark, d, name)
    assert len(_schema_entries(d)) == 2
    assert artifacts.release(d) == 2
    assert _schema_entries(d) == []
    assert count_jobs(lambda: load_table(spark, d, "region"))[1] == 1


def test_a_new_application_infers_again(sf_dir, tmp_path):
    """The schema entry belongs to the application: a new SparkSession
    in the same process infers every table again."""
    script = tmp_path / "probe.py"
    script.write_text(
        textwrap.dedent(
            f"""
            import sys
            sys.path.insert(0, {ENGINE_ROOT!r})
            from flink_repartition_watermark_example_spark import get_spark
            from flink_repartition_watermark_example_spark.sources.tables import (
                load_table,
            )

            def jobs(spark, group):
                sc = spark.sparkContext
                sc.setJobGroup(group, group)
                load_table(spark, {sf_dir!r}, "orders")
                sc._jsc.sc().listenerBus().waitUntilEmpty()
                return len(sc.statusTracker().getJobIdsForGroup(group))

            spark = get_spark(master="local[1]", shuffle_partitions=1)
            first = jobs(spark, "a"), jobs(spark, "b")
            spark.stop()
            spark = get_spark(master="local[1]", shuffle_partitions=1)
            print("JOBS", first, (jobs(spark, "a"), jobs(spark, "b")))
            """
        )
    )
    proc = subprocess.run(
        [sys.executable, str(script)],
        cwd=tmp_path,
        env=dict(os.environ, TMPDIR=str(tmp_path)),
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert "JOBS (1, 0) (1, 0)" in proc.stdout, proc.stderr[-4000:]
