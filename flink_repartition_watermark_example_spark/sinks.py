"""Sinks.  The reference prints to stdout (S11, Main.scala:27); the
engine adds the sinks a pipeline actually ships with.

Scale notes baked in:
- Partitioned parquet writes include ``maxRecordsPerFile`` so a skewed
  partition key cannot produce one giant file, and the layout column
  (usually a date) makes downstream partition pruning free.
- Streaming writers default to append mode (the reference's
  exactly-once window emission contract, S10) with a mandatory
  checkpoint location, which must be on the local filesystem while the
  session pins the FileSystem checkpoint manager (``session.py``).
- The CDC snapshot sink and its maintenance (time travel, vacuum,
  ``forget_keys``) keep their versions through streaming/vstore.py,
  the one module that writes, replaces or deletes a ``v{N}`` dir.
"""

from __future__ import annotations

from urllib.parse import urlparse

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from flink_repartition_watermark_example_spark.session import (
    CHECKPOINT_MANAGER_CONF,
    FILECONTEXT_CHECKPOINT_MANAGER,
    FILESYSTEM_CHECKPOINT_MANAGER,
)
from flink_repartition_watermark_example_spark.streaming.vstore import (
    VersionedStore,
    versions as _snapshot_versions,
)


def _checkpoint(df: DataFrame, location: str) -> str:
    """``location``, once it is known to be safe for the session's
    checkpoint manager.  The FileSystem manager's no-overwrite rename
    (exists check, then rename) is only as strong as FileContext's on
    ``file:`` paths; on HDFS or an object store the metadata logs would
    lose their atomic no-overwrite commit, so such a location is
    refused unless the session uses another manager."""
    spark = df.sparkSession
    if spark.conf.get(CHECKPOINT_MANAGER_CONF, None) != FILESYSTEM_CHECKPOINT_MANAGER:
        return location
    scheme = urlparse(location).scheme or urlparse(
        spark._jsparkSession.sessionState().newHadoopConf().get(
            "fs.defaultFS", "file:///"
        )
    ).scheme
    if scheme != "file":
        raise ValueError(
            f"checkpoint location {location!r} is not on the local "
            f"filesystem, but {CHECKPOINT_MANAGER_CONF} is "
            f"{FILESYSTEM_CHECKPOINT_MANAGER}, whose rename is only "
            "no-overwrite-safe on file: paths; start the session with "
            f"get_spark(extra_conf={{{CHECKPOINT_MANAGER_CONF!r}: "
            f"{FILECONTEXT_CHECKPOINT_MANAGER!r}}})"
        )
    return location


def write_parquet_partitioned(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    max_records_per_file: int = 5_000_000,
    mode: str = "overwrite",
) -> None:
    w = df.write.mode(mode).option("maxRecordsPerFile", max_records_per_file)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def print_sink(df: DataFrame, n: int = 20) -> None:
    """Batch analogue of the reference's `.print()` (Main.scala:27)."""
    df.show(n, truncate=False)


def stream_to_console(df: DataFrame, checkpoint: str) -> StreamingQuery:
    """Streaming `.print()` — append mode so each window row appears
    exactly once, when its watermark passes (S10/S11)."""
    return (
        df.writeStream.outputMode("append")
        .format("console")
        .option("truncate", "false")
        .option("checkpointLocation", _checkpoint(df, checkpoint))
        .start()
    )


def stream_to_parquet(
    df: DataFrame,
    path: str,
    checkpoint: str,
    partition_by: list[str] | None = None,
) -> StreamingQuery:
    w = (
        df.writeStream.outputMode("append")
        .format("parquet")
        .option("path", path)
        .option("checkpointLocation", _checkpoint(df, checkpoint))
    )
    if partition_by:
        w = w.partitionBy(*partition_by)
    return w.start()


def batch_upsert_writer(path: str):
    """foreachBatch body giving EXACTLY-ONCE parquet output on top of
    the WAL's at-least-once batch replay.

    The parquet streaming sink's own log already makes plain appends
    exactly-once, but it cannot run arbitrary batch logic (joins,
    repartitioning, merges) per micro-batch — foreachBatch can, at the
    price of at-least-once replay after a crash.  Idempotence is
    restored by making the batch id part of the LAYOUT: each batch
    overwrites its own ``__batch_id=N`` partition (dynamic partition
    overwrite), so a replayed batch replaces its previous, possibly
    partial, output instead of appending duplicates.  Readers scan
    ``path`` recursively and drop the housekeeping column.

    Use with ``df.writeStream.foreachBatch(batch_upsert_writer(p))``.
    """
    from pyspark.sql import functions as F

    def write(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("__batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("__batch_id")
            .parquet(path)
        )

    return write


def stream_to_parquet_idempotent(
    df: DataFrame, path: str, checkpoint: str
) -> StreamingQuery:
    """Append-mode stream through :func:`batch_upsert_writer` — the
    fault-tolerant shape for sinks that need per-batch batch logic."""
    return (
        df.writeStream.outputMode("append")
        .foreachBatch(batch_upsert_writer(path))
        .option("checkpointLocation", _checkpoint(df, checkpoint))
        .start()
    )


def cdc_merge_writer(
    snapshot_path: str,
    key_cols: list[str],
    seq_col: str = "seq",
    op_col: str = "op",
):
    """foreachBatch body materializing a CDC stream as an upserted
    snapshot — MERGE INTO semantics on plain parquet, exactly-once
    under restart-replay.

    Each micro-batch applies :func:`operators.cdc.apply_changes`
    (latest-seq-wins upsert/delete) to the previous snapshot and
    writes the result as the whole of version ``v{batch_id}`` of a
    snapshot store under ``snapshot_path`` (streaming/vstore.py holds
    the protocol) — Delta-style versioning from first principles:

    - the base read is always the newest version BELOW the current
      batch id, so a crash-replayed batch N re-reads the same base it
      saw the first time and replaces its own ``v{N}`` instead of
      double-applying;
    - each version is staged and committed by one rename, so readers
      (:func:`read_cdc_snapshot`) never see a partial write, and a
      batch that deletes every key commits an empty snapshot;
    - old versions are retained for time travel / vacuum policy,
      exactly the transactional-table-format story.

    Use with ``stream.writeStream.foreachBatch(cdc_merge_writer(...))``.
    """
    from flink_repartition_watermark_example_spark.operators.cdc import apply_changes

    store = VersionedStore(snapshot_path)

    def write(batch_df: DataFrame, batch_id: int) -> None:
        bid = int(batch_id)
        payload = [c for c in batch_df.columns if c not in (seq_col, op_col)]
        base = store.base(batch_df.sparkSession, bid, batch_df.select(*payload).schema)
        store.put(apply_changes(base, batch_df, key_cols, seq_col, op_col), bid)

    return write


def read_cdc_snapshot(spark, snapshot_path: str, version: int | None = None) -> DataFrame:
    """Materialized state: the highest committed version, or — time
    travel — the state as of a specific ``version`` (batch id), the
    same AS OF contract transactional table formats expose."""
    return VersionedStore(snapshot_path).snapshot(spark, version)


def vacuum_cdc_snapshot(snapshot_path: str, keep_last: int = 2) -> list[int]:
    """Retention: drop all but the newest ``keep_last`` committed
    versions (each version is a full snapshot, so older ones are only
    needed for time travel).  Returns the removed version numbers.
    Never removes the newest version; ``keep_last < 1`` is rejected.
    A failed delete raises, and the version it was deleting is already
    invisible to readers, never short."""
    return VersionedStore(snapshot_path).retain(keep_last)


def forget_keys(
    spark,
    snapshot_path: str,
    keys_df: DataFrame,
    key_cols: list[str],
) -> dict[int, int]:
    """Right-to-be-forgotten purge over the versioned CDC snapshot:
    anti-join EVERY retained version against the forget set and
    rewrite it, so time travel (:func:`read_cdc_snapshot` with
    ``version=``) can no longer resurrect the forgotten rows — the
    semantic GDPR actually requires, and what distinguishes this from
    an ordinary CDC delete (which only affects versions from now on).

    Scale shape: the forget set is small relative to the base by
    construction (a deletion request batch), so it is pinned broadcast
    and each version rewrite is a map-side LEFT ANTI join — the base
    is scanned once per retained version and never shuffled.  Keep the
    version count bounded with :func:`vacuum_cdc_snapshot` first.

    Durability: each version is replaced through
    ``VersionedStore.rewrite``, so a crash leaves it whole, purged or
    transiently absent (the next read installs the purge), never
    short.  Re-runs are idempotent: a version with nothing to remove
    is not rewritten.  Maintenance path only, like compaction.

    Cost: the forget set is deduplicated once per call and pinned
    (``localCheckpoint``), and the store's schema is inferred once per
    call (every version shares it), so each version pays ONE broadcast
    anti-join pass (the rewrite) over the pinned set and no schema
    inference; the before/after row counts come from parquet footers.

    Returns {version: rows_removed}.
    """
    store = VersionedStore(snapshot_path)
    store.recover()
    vs = _snapshot_versions(snapshot_path)
    if not vs:
        return {}  # before pinning the forget set: no Spark job runs
    keys = (
        keys_df.select(*key_cols)
        .dropDuplicates()
        .localCheckpoint(eager=True)
        .hint("broadcast")
    )
    schema = store.snapshot(spark).schema
    return {
        v: store.rewrite(
            spark, v, lambda df: df.join(keys, key_cols, "left_anti"), schema
        )
        for v in vs
    }


def stream_to_memory(df: DataFrame, name: str, checkpoint: str) -> StreamingQuery:
    """Memory sink for tests/inspection (bounded data only)."""
    return (
        df.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", _checkpoint(df, checkpoint))
        .start()
    )
