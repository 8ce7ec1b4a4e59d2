"""The reference experiment, automated (SURVEY §5.2 'streaming replay
test'): two event-time-skewed sources, union, min-of-sources watermark,
keyed hourly windowed count, append emission.

Asserts the three invariants of reference README.md:49-58:
1. conservation — Σ emitted window counts == #input events, every
   window emitted exactly once;
2. no premature fire — a window emitted in batch N has window_end <=
   the min source watermark reached after batch N-1's data (we check
   the weaker, order-robust form: window_end <= final watermark, and
   windows whose end exceeds the slow source's progress at batch k are
   not emitted in batches <= k);
3. stream == batch — the union of all emitted rows equals the plain
   batch groupBy over the same inputs.
"""

from __future__ import annotations

import re
from datetime import datetime, timezone

import pytest
from pyspark.sql import functions as F

from flink_repartition_watermark_example_spark import session, sinks
from flink_repartition_watermark_example_spark.session import (
    CHECKPOINT_MANAGER_CONF,
    FILECONTEXT_CHECKPOINT_MANAGER,
    FILESYSTEM_CHECKPOINT_MANAGER,
)
from flink_repartition_watermark_example_spark.sources.generator import pageviews
from flink_repartition_watermark_example_spark.streaming.replica import (
    run_skew_experiment,
    windowed_count_stream,
    write_close_sentinel,
)

pytestmark = pytest.mark.slow  # streaming replays: minute-class


def _utc(*a):
    return datetime(*a, tzinfo=timezone.utc)


@pytest.fixture(scope="module")
def skew_dirs(spark, tmp_path_factory):
    """Scaled-down skew fixture (FIXTURES.md §A): 2 partitions × 6 h of
    events at 1 event/4s, skewed by 3 h; each partition written as
    several files in event-time order so the file stream replays it
    across micro-batches."""
    base = tmp_path_factory.mktemp("skew")
    intervals = [
        (_utc(2016, 2, 1, 0), _utc(2016, 2, 1, 6)),
        (_utc(2016, 2, 1, 3), _utc(2016, 2, 1, 9)),
    ]
    dirs = []
    for i, (s, e) in enumerate(intervals):
        df = pageviews(spark, s, e, millis_between_events=4000, seed=42 + i)
        d = str(base / f"part{i}")
        # One file per event-time hour, written in order → the stream
        # consumes hour k of both partitions in batch k.
        chunks = df.withColumn("h", F.hour("ts")).persist()
        for j, h in enumerate(sorted(r.h for r in chunks.select("h").distinct().collect())):
            chunks.where(F.col("h") == h).drop("h").coalesce(1).write.mode(
                "append"
            ).parquet(d)
        chunks.unpersist()
        write_close_sentinel(spark, d)
        dirs.append(d)
    return dirs


@pytest.fixture(scope="module")
def replay(spark, skew_dirs):
    return run_skew_experiment(spark, skew_dirs, files_per_trigger=1)


def test_conservation_and_single_fire(replay):
    # 2 partitions × 6h × 900 events/h
    rows = replay.emitted_rows
    assert sum(r.aggregate for r in rows) == 2 * 6 * 900
    keys = [(r.window_start, r.url) for r in rows]
    assert len(keys) == len(set(keys)), "a window fired more than once"


def test_stream_equals_batch(spark, skew_dirs, replay):
    batch = (
        windowed_count_stream([spark.read.parquet(d) for d in skew_dirs])
        .collect()
    )
    assert sorted(map(tuple, replay.emitted_rows)) == sorted(map(tuple, batch))


def test_no_premature_fire(replay):
    """Min-of-sources semantics: the slow source starts 3 h behind, so
    no window may fire before both sources' data for it is complete.
    Overlap-region windows (3h-6h) must not be emitted while only the
    fast source has delivered them — i.e. every emitted window's end
    precedes the watermark reached by the *end of the previous batch*
    (Spark advances the watermark to min over sources after each batch).
    """
    assert len(replay.batches) > 1, "replay collapsed into one batch"
    # Reconstruct watermark-by-batch from progress; windows emitted in
    # batch b must satisfy end <= watermark(after batches < b)... Spark
    # emits when watermark >= end, with watermark from previous batch.
    wm = dict(replay.watermarks)
    for batch_id, rows in replay.batches:
        if not rows:
            continue
        prior = [w for b, w in wm.items() if b <= batch_id]
        assert prior, f"batch {batch_id} emitted rows before any watermark"
        max_wm = max(prior)
        for r in rows:
            assert r.window_end.isoformat() <= max_wm.replace("Z", ""), (
                f"window {r.window_start}..{r.window_end} fired before "
                f"watermark {max_wm} (batch {batch_id})"
            )


def test_state_store_is_rocksdb(spark):
    """SURVEY §7.4: streaming state must live in RocksDB (disk-bounded)
    rather than the in-heap HDFSBackedStateStore map."""
    assert "RocksDBStateStoreProvider" in spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass"
    )


def _checkpoint_manager(spark, path: str):
    jvm = spark.sparkContext._jvm
    return jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(path),
        spark._jsparkSession.sessionState().newHadoopConf(),
    )


def test_checkpoint_manager_is_filesystem_based(spark, tmp_path):
    """Checkpoint files are renamed with FileSystem.rename, which forks
    no `readlink` per file on a local filesystem without libhadoop
    (session.py)."""
    mgr = _checkpoint_manager(spark, f"file://{tmp_path}")
    assert mgr.getClass().getName() == FILESYSTEM_CHECKPOINT_MANAGER


def test_checkpoint_create_atomic_never_overwrites(spark, tmp_path):
    """The metadata logs commit batch N by an atomic create of file N
    that must fail if N exists: a second writer (or a replay racing the
    first) must not replace a committed log entry."""
    from py4j.protocol import Py4JJavaError

    mgr = _checkpoint_manager(spark, f"file://{tmp_path}")
    path = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(f"file://{tmp_path}/0")
    first = mgr.createAtomic(path, False)
    first.write(1)
    first.close()
    second = mgr.createAtomic(path, False)
    second.write(2)
    with pytest.raises(Py4JJavaError, match="already exists"):
        second.close()
    assert (tmp_path / "0").read_bytes() == b"\x01"


@pytest.mark.parametrize(
    "start",
    [
        lambda df, ck: sinks.stream_to_console(df, ck),
        lambda df, ck: sinks.stream_to_parquet(df, "/tmp/unused", ck),
        lambda df, ck: sinks.stream_to_parquet_idempotent(df, "/tmp/unused", ck),
        lambda df, ck: sinks.stream_to_memory(df, "unused", ck),
    ],
    ids=["console", "parquet", "parquet_idempotent", "memory"],
)
def test_sinks_refuse_remote_checkpoint(spark, start):
    """The FileSystem manager's no-overwrite rename is only as strong as
    FileContext's on file: paths, so a remote checkpoint is refused
    before the query starts, with the conf that lifts the refusal."""
    df = spark.readStream.format("rate").load()
    with pytest.raises(ValueError, match=re.escape(CHECKPOINT_MANAGER_CONF)):
        start(df, "hdfs://localhost:9/ckpt")
    assert not spark.streams.active


def test_schemeless_checkpoint_follows_default_fs(spark, tmp_path):
    """A path without a scheme lives on fs.defaultFS, so it is refused
    when that is not the local filesystem."""
    assert sinks._checkpoint(spark.range(1), str(tmp_path)) == str(tmp_path)
    spark.conf.set("fs.defaultFS", "hdfs://localhost:9")
    try:
        with pytest.raises(ValueError, match="not on the local filesystem"):
            sinks._checkpoint(spark.range(1), str(tmp_path))
    finally:
        spark.conf.unset("fs.defaultFS")


def test_extra_conf_checkpoint_manager_override_is_kept(
    spark, session_builder, monkeypatch, tmp_path
):
    """get_spark(extra_conf=...) can put the FileContext manager back;
    the pin must not win over it, and the sinks then accept any
    checkpoint location."""
    session.get_spark(
        extra_conf={CHECKPOINT_MANAGER_CONF: FILECONTEXT_CHECKPOINT_MANAGER}
    )
    assert (
        session_builder.conf[CHECKPOINT_MANAGER_CONF]
        == FILECONTEXT_CHECKPOINT_MANAGER
    )

    monkeypatch.undo()
    previous = spark.conf.get(CHECKPOINT_MANAGER_CONF)
    spark.conf.set(CHECKPOINT_MANAGER_CONF, FILECONTEXT_CHECKPOINT_MANAGER)
    try:
        mgr = _checkpoint_manager(spark, f"file://{tmp_path}")
        assert mgr.getClass().getName() == FILECONTEXT_CHECKPOINT_MANAGER
        remote = "hdfs://localhost:9/ckpt"
        assert sinks._checkpoint(spark.range(1), remote) == remote
    finally:
        spark.conf.set(CHECKPOINT_MANAGER_CONF, previous)


def test_checkpoint_restart_does_not_reemit(spark, skew_dirs, tmp_path):
    """S10 exactly-once across restarts: draining the same inputs a
    second time from the same checkpoint must emit nothing new — the
    WAL/state commit, not the sink, is the source of truth."""
    schema = spark.read.parquet(skew_dirs[0]).schema
    ckpt = str(tmp_path / "ckpt")

    def run() -> int:
        sources = [
            spark.readStream.schema(schema).parquet(d) for d in skew_dirs
        ]
        out = windowed_count_stream(sources)
        emitted = []
        q = (
            out.writeStream.outputMode("append")
            .foreachBatch(lambda df, bid: emitted.append(df.count()))
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.awaitTermination()
        return sum(emitted)

    first = run()
    assert first > 0
    assert run() == 0, "restart from checkpoint re-emitted rows"


def test_late_row_into_evicted_window_is_dropped(spark, tmp_path):
    """The finality half of S10: once the watermark passes a window and
    it fires, later rows for that window are discarded — the window is
    NEVER emitted twice (Spark's drop of too-late data is best-effort
    while a window's state is still open, but eviction makes firing
    final; append mode may not retract).

    Replay: 6 rows in [10:00,11:00), a 12:30 row that advances the
    watermark to 11:30 (1 h delay), a 13:00 batch during which [10,11)
    fires and evicts, then a 10:07 straggler that must vanish."""
    d = str(tmp_path / "late")
    files = [
        [("u", f"2016-02-01 10:{m:02d}:00") for m in range(0, 60, 10)],
        [("u", "2016-02-01 12:30:00")],
        [("u", "2016-02-01 13:00:00")],
        [("u", "2016-02-01 10:07:00"), ("u", "2016-02-01 14:00:00")],
    ]
    for rows in files:
        spark.createDataFrame(rows, ["url", "s"]).select(
            "url", F.col("s").cast("timestamp").alias("ts")
        ).coalesce(1).write.mode("append").parquet(d)
    write_close_sentinel(spark, d)
    schema = spark.read.parquet(d).schema
    src = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(d)
    out = windowed_count_stream([src], watermark_delay="1 hour")
    emitted = []
    q = (
        out.writeStream.outputMode("append")
        .foreachBatch(lambda df, bid: emitted.extend(df.collect()))
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination()
    fired = [(r.window_start.hour, r.aggregate) for r in emitted]
    assert sorted(fired) == [(10, 6), (12, 1), (13, 1), (14, 1)], fired
    # exactly-once: no window key appears twice
    assert len({h for h, _ in fired}) == len(fired)


def test_late_row_within_watermark_delay_is_included(spark, tmp_path):
    """Bounded lateness (the engine-side generalization the reference's
    delay-0 assigner doesn't need, Flink-next's allowedLateness): a
    straggler older than the max event time seen but still above the
    delayed watermark must be counted into its still-open window.

    Replay (delay 1 h): 6 rows in [10:00,11:00), an 11:30 row pushing
    the watermark to only 10:30 (window still open), a 10:55 straggler
    → included; a 13:00 row then fires [10,11) with SEVEN rows."""
    d = str(tmp_path / "bounded_late")
    files = [
        [("u", f"2016-02-01 10:{m:02d}:00") for m in range(0, 60, 10)],
        [("u", "2016-02-01 11:30:00")],
        [("u", "2016-02-01 10:55:00")],  # late, but watermark is 10:30
        [("u", "2016-02-01 13:00:00")],
    ]
    for rows in files:
        spark.createDataFrame(rows, ["url", "s"]).select(
            "url", F.col("s").cast("timestamp").alias("ts")
        ).coalesce(1).write.mode("append").parquet(d)
    write_close_sentinel(spark, d)
    schema = spark.read.parquet(d).schema
    src = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(d)
    out = windowed_count_stream([src], watermark_delay="1 hour")
    emitted = []
    q = (
        out.writeStream.outputMode("append")
        .foreachBatch(lambda df, bid: emitted.extend(df.collect()))
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination()
    fired = sorted((r.window_start.hour, r.aggregate) for r in emitted)
    assert fired == [(10, 7), (11, 1), (13, 1)], fired


def test_batched_replay_fpt_equals_batch(spark, sf_dir, monkeypatch):
    """SPARK_GRAFT_STREAM_FPT > 1 (the sf100 sweep's batching knob —
    k files per micro-batch instead of one) must not change the
    emitted window SET: the replay dir pads k copies of the first
    close sentinel so a batch boundary always separates the two
    sentinels, and the final windows still flush.  Full-row equality
    vs the batch GROUP BY, exactly the driver-gate contract."""
    from flink_repartition_watermark_example_spark.queries import QUERIES

    monkeypatch.setenv("SPARK_GRAFT_STREAM_FPT", "4")
    stream = QUERIES["streaming_windowed_count"].spark(spark, sf_dir)
    batch = QUERIES["windowed_count"].spark(spark, sf_dir)
    got = sorted(map(tuple, stream.collect()))
    want = sorted(map(tuple, batch.collect()))
    assert got and got == want
