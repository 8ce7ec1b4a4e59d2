"""End-to-end CDC upsert sink: a change stream materialized as a
MERGE'd snapshot via foreachBatch (sinks.cdc_merge_writer), proven
exactly-once under restart-replay — VERDICT round-2 action #6.

The contract under test:
  stream(changes) -> snapshot  ==  batch apply_changes(empty, changes)
and the snapshot is unchanged by (a) re-running a drained stream from
its checkpoint and (b) a crash-replayed micro-batch (same batch id
re-applied)."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T

from flink_repartition_watermark_example_spark.operators.cdc import apply_changes
from flink_repartition_watermark_example_spark.sinks import (
    cdc_merge_writer,
    read_cdc_snapshot,
)

pytestmark = pytest.mark.slow  # streaming replays: minute-class

SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType()),
        T.StructField("val", T.StringType()),
        T.StructField("op", T.StringType()),
        T.StructField("seq", T.LongType()),
    ]
)

# three change files = three micro-batches (maxFilesPerTrigger=1)
BATCH_1 = [(1, "a1", "I", 1), (2, "b1", "I", 2), (3, "c1", "I", 3)]
BATCH_2 = [(2, "b2", "U", 4), (3, None, "D", 5), (4, "d1", "I", 6)]
BATCH_3 = [(4, "d2", "U", 7), (1, None, "D", 8), (5, "e1", "I", 9)]


def _write_change_file(spark, d: str, idx: int, rows) -> None:
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(d, f"{idx:04d}"))


def _drain(spark, src: str, ckpt: str, snap: str) -> None:
    q = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.parquet")
        .parquet(src)
        .writeStream.outputMode("append")
        .foreachBatch(cdc_merge_writer(snap, ["k"]))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def _state(spark, snap: str) -> set[tuple]:
    return {
        (r["k"], r["val"])
        for r in read_cdc_snapshot(spark, snap).collect()
    }


def _expected(spark, rows) -> set[tuple]:
    base = spark.createDataFrame([], T.StructType(SCHEMA.fields[:2]))
    out = apply_changes(base, spark.createDataFrame(rows, SCHEMA), ["k"])
    return {(r["k"], r["val"]) for r in out.collect()}


def test_cdc_stream_merges_to_batch_state_and_survives_restart(
    spark, tmp_path
):
    src = str(tmp_path / "changes")
    ckpt = str(tmp_path / "ckpt")
    snap = str(tmp_path / "snapshot")
    os.makedirs(src)

    # phase 1: two change files, drain
    _write_change_file(spark, src, 1, BATCH_1)
    _write_change_file(spark, src, 2, BATCH_2)
    _drain(spark, src, ckpt, snap)
    assert _state(spark, snap) == _expected(spark, BATCH_1 + BATCH_2)

    # restart with NO new data: a drained checkpoint must not re-emit
    before = _state(spark, snap)
    _drain(spark, src, ckpt, snap)
    assert _state(spark, snap) == before

    # phase 2: new file arrives, restart from the same checkpoint —
    # only the new batch is processed, state advances correctly
    _write_change_file(spark, src, 3, BATCH_3)
    _drain(spark, src, ckpt, snap)
    assert _state(spark, snap) == _expected(spark, BATCH_1 + BATCH_2 + BATCH_3)


def test_replayed_micro_batch_is_idempotent(spark, tmp_path):
    """Crash-replay simulation: re-invoking the writer with the same
    (batch_df, batch_id) — foreachBatch's at-least-once failure mode —
    must leave the snapshot byte-identical, because the replayed batch
    re-reads the same base version and overwrites its own v{N}."""
    snap = str(tmp_path / "snapshot")
    w = cdc_merge_writer(snap, ["k"])

    w(spark.createDataFrame(BATCH_1, SCHEMA), 0)
    w(spark.createDataFrame(BATCH_2, SCHEMA), 1)
    after_once = _state(spark, snap)

    # replay batch 1 (crash between sink write and WAL commit)
    w(spark.createDataFrame(BATCH_2, SCHEMA), 1)
    assert _state(spark, snap) == after_once

    # replay must also not have produced a new version
    from flink_repartition_watermark_example_spark.sinks import _snapshot_versions

    assert _snapshot_versions(snap) == [0, 1]


def test_deletes_and_upserts_resolve_latest_seq(spark, tmp_path):
    snap = str(tmp_path / "snapshot")
    w = cdc_merge_writer(snap, ["k"])
    w(spark.createDataFrame(BATCH_1 + BATCH_2 + BATCH_3, SCHEMA), 0)
    # k1 deleted(seq8), k2->b2, k3 deleted(seq5), k4->d2, k5 inserted
    assert _state(spark, snap) == {(2, "b2"), (4, "d2"), (5, "e1")}


def test_time_travel_and_vacuum(spark, tmp_path):
    from flink_repartition_watermark_example_spark.sinks import (
        _snapshot_versions,
        vacuum_cdc_snapshot,
    )

    snap = str(tmp_path / "snapshot")
    w = cdc_merge_writer(snap, ["k"])
    w(spark.createDataFrame(BATCH_1, SCHEMA), 0)
    w(spark.createDataFrame(BATCH_2, SCHEMA), 1)
    w(spark.createDataFrame(BATCH_3, SCHEMA), 2)

    # AS OF version 0: only the inserts
    at0 = {
        (r["k"], r["val"])
        for r in read_cdc_snapshot(spark, snap, version=0).collect()
    }
    assert at0 == {(1, "a1"), (2, "b1"), (3, "c1")}

    # vacuum keeps the newest 2; time travel to v0 now fails loudly
    assert vacuum_cdc_snapshot(snap, keep_last=2) == [0]
    assert _snapshot_versions(snap) == [1, 2]
    with pytest.raises(FileNotFoundError):
        read_cdc_snapshot(spark, snap, version=0)
    # latest unaffected
    assert _state(spark, snap) == {(2, "b2"), (4, "d2"), (5, "e1")}


def test_vacuum_interrupted_mid_delete_leaves_no_short_version(
    spark, tmp_path, monkeypatch
):
    """An I/O error (or crash) while vacuum deletes a version: the
    delete has removed one data file of v0 and then fails.  Vacuum
    must raise rather than report v0 removed, and v0 must read as
    gone (FileNotFoundError), never as a snapshot short of rows."""
    import shutil

    from flink_repartition_watermark_example_spark.sinks import vacuum_cdc_snapshot

    snap = str(tmp_path / "snapshot")
    w = cdc_merge_writer(snap, ["k"])
    for bid, rows in enumerate((BATCH_1, BATCH_2, BATCH_3)):
        w(spark.createDataFrame(rows, SCHEMA), bid)

    def failing_rmtree(path, ignore_errors=False, *a, **kw):
        data = sorted(n for n in os.listdir(path) if n.endswith(".parquet"))
        os.remove(os.path.join(path, data[0]))
        if not ignore_errors:
            raise OSError(f"simulated I/O error deleting {path}")

    monkeypatch.setattr(shutil, "rmtree", failing_rmtree)
    with pytest.raises(OSError, match="simulated"):
        vacuum_cdc_snapshot(snap, keep_last=2)
    monkeypatch.undo()

    with pytest.raises(FileNotFoundError):
        read_cdc_snapshot(spark, snap, version=0)
    assert _state(spark, snap) == _expected(spark, BATCH_1 + BATCH_2 + BATCH_3)


def test_partial_version_without_success_marker_is_invisible(spark, tmp_path):
    """Crash DURING a version write: the v{N} directory exists but has
    no _SUCCESS marker — readers must serve the previous committed
    version, and the replayed batch must repair the partial write."""
    import shutil

    from flink_repartition_watermark_example_spark.sinks import _snapshot_versions

    snap = str(tmp_path / "snapshot")
    w = cdc_merge_writer(snap, ["k"])
    w(spark.createDataFrame(BATCH_1, SCHEMA), 0)
    committed = _state(spark, snap)

    # simulate the crash: batch 1 wrote files but died before commit
    w(spark.createDataFrame(BATCH_2, SCHEMA), 1)
    os.remove(os.path.join(snap, "v1", "_SUCCESS"))
    assert _snapshot_versions(snap) == [0]
    assert _state(spark, snap) == committed  # partial write invisible

    # recovery replays batch 1: overwrites the partial v1, commits it
    w(spark.createDataFrame(BATCH_2, SCHEMA), 1)
    assert _snapshot_versions(snap) == [0, 1]
    assert _state(spark, snap) == _expected(spark, BATCH_1 + BATCH_2)
    shutil.rmtree(snap)


def test_forget_keys_purges_all_retained_versions(spark, tmp_path):
    """GDPR purge contract: after forget_keys, the forgotten keys are
    gone from EVERY committed version — including time-travel reads of
    old versions — and a re-run is a no-op (idempotent)."""
    from flink_repartition_watermark_example_spark.sinks import _snapshot_versions, forget_keys

    src, ckpt, snap = (str(tmp_path / d) for d in ("src", "ckpt", "snap"))
    _write_change_file(spark, src, 0, BATCH_1)
    _write_change_file(spark, src, 1, BATCH_2)
    _drain(spark, src, ckpt, snap)
    versions = _snapshot_versions(snap)
    assert len(versions) >= 2

    # key 1 exists in every version (inserted in batch 1, updated later)
    for v in versions:
        assert 1 in {r["k"] for r in read_cdc_snapshot(spark, snap, version=v).collect()}

    forget = spark.createDataFrame([(1,), (999,)], "k long")  # 999 absent
    removed = forget_keys(spark, snap, forget, ["k"])
    assert set(removed) == set(versions)
    assert all(n >= 1 for n in removed.values())

    for v in _snapshot_versions(snap):
        keys = {r["k"] for r in read_cdc_snapshot(spark, snap, version=v).collect()}
        assert 1 not in keys, f"key 1 resurrected by time travel at v{v}"
    # surviving rows are untouched (3 was CDC-deleted in batch 2, so
    # the latest version carries {2, 4})
    assert {r["k"] for r in read_cdc_snapshot(spark, snap).collect()} >= {2, 4}

    # idempotent: nothing left to remove, no version rewritten
    assert all(n == 0 for n in forget_keys(spark, snap, forget, ["k"]).values())


def test_batch_deleting_every_key_commits_an_empty_version(spark, tmp_path):
    """An empty snapshot is a state: a batch that deletes every key
    commits an empty v{N}, and the latest read returns 0 rows instead
    of falling back to the previous version."""
    from flink_repartition_watermark_example_spark.sinks import _snapshot_versions

    snap = str(tmp_path / "snapshot")
    w = cdc_merge_writer(snap, ["k"])
    w(spark.createDataFrame(BATCH_1, SCHEMA), 0)
    w(spark.createDataFrame([(k, None, "D", 3 + k) for k in (1, 2, 3)], SCHEMA), 1)
    assert _snapshot_versions(snap) == [0, 1]
    assert read_cdc_snapshot(spark, snap).count() == 0


def test_forget_keys_interrupted_swap_leaves_no_short_version(
    spark, tmp_path, monkeypatch
):
    """An I/O error (or crash) while forget_keys replaces v0 with its
    purged rewrite: the delete of the old v0 removes the data file
    holding the most rows (the first part file of a CDC version is
    often empty) and then fails.  v0 must then read as purged or as
    gone (FileNotFoundError), never as a snapshot short of rows."""
    import re
    import shutil

    import pyarrow.parquet as pq

    from flink_repartition_watermark_example_spark.sinks import forget_keys

    batch_0 = BATCH_1 + [(k, f"x{k}", "I", 100 + k) for k in range(10, 46)]
    snap = str(tmp_path / "snapshot")
    w = cdc_merge_writer(snap, ["k"])
    for bid, rows in enumerate((batch_0, BATCH_2, BATCH_3)):
        w(spark.createDataFrame(rows, SCHEMA), bid)
    purged = {(k, v) for k, v, _, _ in batch_0 if k != 1}

    real = shutil.rmtree

    def failing_rmtree(path, *a, **kw):
        if not re.fullmatch(r"v\d+", os.path.basename(path)):
            return real(path, *a, **kw)
        data = [os.path.join(path, n) for n in os.listdir(path) if n.endswith(".parquet")]
        os.remove(max(data, key=lambda f: pq.read_metadata(f).num_rows))
        raise OSError(f"simulated I/O error deleting {path}")

    monkeypatch.setattr(shutil, "rmtree", failing_rmtree)
    with pytest.raises(OSError, match="simulated"):
        forget_keys(spark, snap, spark.createDataFrame([(1,)], "k long"), ["k"])
    monkeypatch.undo()

    try:
        at0 = {(r["k"], r["val"]) for r in read_cdc_snapshot(spark, snap, version=0).collect()}
    except FileNotFoundError:
        at0 = None
    assert at0 in (purged, None), f"v0 reads {len(at0)} of {len(purged)} rows"
    assert _state(spark, snap) == _expected(spark, batch_0 + BATCH_2 + BATCH_3)


def test_forget_keys_counts_rows_from_parquet_footers(spark, tmp_path, count_jobs):
    """The before/after row counts of each version come from parquet
    footers, not count() jobs, and the forget set and the store's
    schema are each found once per call: one call over three versions
    runs 9 Spark jobs, two to pin the forget set, one to infer the
    schema and two per version's rewrite, where two count()s per
    version made it 27, a per-version dedup 12 and a per-version schema
    inference 11."""
    from flink_repartition_watermark_example_spark.sinks import forget_keys

    snap = str(tmp_path / "snapshot")
    w = cdc_merge_writer(snap, ["k"])
    for bid, rows in enumerate((BATCH_1, BATCH_2, BATCH_3)):
        w(spark.createDataFrame(rows, SCHEMA), bid)
    forget = spark.createDataFrame([(1,)], "k long")
    purged, jobs = count_jobs(lambda: forget_keys(spark, snap, forget, ["k"]))
    assert purged == {0: 1, 1: 1, 2: 0}
    assert jobs <= 9, jobs


def test_forget_keys_on_an_empty_store_runs_no_job(spark, tmp_path, count_jobs):
    """A store with no version has nothing to purge: forget_keys returns
    {} before it deduplicates and pins the forget set, so the call runs
    zero Spark jobs."""
    from flink_repartition_watermark_example_spark.sinks import forget_keys

    forget = spark.createDataFrame([(1,), (1,)], "k long")
    purged, jobs = count_jobs(
        lambda: forget_keys(spark, str(tmp_path / "snapshot"), forget, ["k"])
    )
    assert purged == {}
    assert jobs == 0, jobs
