"""Sinks.  The reference prints to stdout (S11, Main.scala:27); the
engine adds the sinks a pipeline actually ships with.

Scale notes baked in:
- Partitioned parquet writes include ``maxRecordsPerFile`` so a skewed
  partition key cannot produce one giant file, and the layout column
  (usually a date) makes downstream partition pruning free.
- Streaming writers default to append mode (the reference's
  exactly-once window emission contract, S10) with a mandatory
  checkpoint location.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from flink_repartition_watermark_example_spark.streaming.vstore import (
    versions as _snapshot_versions,
)


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
        .option("checkpointLocation", checkpoint)
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
        .option("checkpointLocation", checkpoint)
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
        .option("checkpointLocation", checkpoint)
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
    writes the result as ``v{batch_id}/`` under ``snapshot_path`` —
    Delta-style versioning from first principles:

    - the base read is always the newest version BELOW the current
      batch id, so a crash-replayed batch N re-reads the same base it
      saw the first time and OVERWRITES its own ``v{N}`` (possibly
      partial) output instead of double-applying;
    - readers resolve the snapshot as the highest complete version
      (:func:`read_cdc_snapshot`), so a partial write is never
      visible — the version directory is the commit point;
    - old versions are retained for time travel / vacuum policy,
      exactly the transactional-table-format story.

    Use with ``stream.writeStream.foreachBatch(cdc_merge_writer(...))``.
    """
    from flink_repartition_watermark_example_spark.operators.cdc import apply_changes

    def write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        payload = [c for c in batch_df.columns if c not in (seq_col, op_col)]
        prior = [
            v for v in _snapshot_versions(snapshot_path) if v < int(batch_id)
        ]
        if prior:
            base = spark.read.parquet(
                os.path.join(snapshot_path, f"v{max(prior)}")
            )
        else:
            base = spark.createDataFrame([], batch_df.select(*payload).schema)
        out = apply_changes(base, batch_df, key_cols, seq_col, op_col)
        out.write.mode("overwrite").parquet(
            os.path.join(snapshot_path, f"v{int(batch_id)}")
        )

    return write


def read_cdc_snapshot(spark, snapshot_path: str, version: int | None = None) -> DataFrame:
    """Materialized state: the highest committed version, or — time
    travel — the state as of a specific ``version`` (batch id), the
    same AS OF contract transactional table formats expose."""
    versions = _snapshot_versions(snapshot_path)
    if not versions:
        raise FileNotFoundError(f"no committed snapshot under {snapshot_path}")
    if version is None:
        version = versions[-1]
    elif version not in versions:
        raise FileNotFoundError(
            f"version {version} not committed under {snapshot_path}; "
            f"have {versions}"
        )
    return spark.read.parquet(os.path.join(snapshot_path, f"v{version}"))


def vacuum_cdc_snapshot(snapshot_path: str, keep_last: int = 2) -> list[int]:
    """Retention: drop all but the newest ``keep_last`` committed
    versions (each version is a full snapshot, so older ones are only
    needed for time travel).  Returns the removed version numbers.
    Never removes the newest version; ``keep_last < 1`` is rejected."""
    import shutil

    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    versions = _snapshot_versions(snapshot_path)
    doomed = versions[:-keep_last] if keep_last < len(versions) else []
    for v in doomed:
        shutil.rmtree(os.path.join(snapshot_path, f"v{v}"), ignore_errors=True)
    return doomed


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

    Durability: each rewrite lands in a ``v{N}_purge`` staging dir
    (invisible to readers — version resolution only accepts all-digit
    suffixes), then atomically swaps in via rename.  A crash between
    the rmtree and the rename leaves the completed rewrite in the
    staging dir and the version transiently ABSENT; the next
    forget_keys run repairs it FIRST (a committed ``v{N}_purge``
    whose ``v{N}`` is missing is renamed into place before any new
    work), so no version is ever lost and re-runs are idempotent.

    Cost per version: ONE broadcast anti-join pass (the staging
    write); the before/after row counts come from parquet footers,
    not data scans.

    Returns {version: rows_removed}.
    """
    import shutil

    from pyspark.sql import functions as F  # noqa: F401  (parity with callers)

    # Repair a prior crashed swap before doing new work.  A COMMITTED
    # staging dir wins unconditionally: the swap sequence is
    # rmtree(v{N}) then rename, so whatever remains at v{N} when a
    # committed v{N}_purge exists is either intact (crash before the
    # rmtree started) or a mid-rmtree truncation — in both cases the
    # staging holds the completed rewrite and must be installed.
    # Gating the install on `not isdir(target)` would route the
    # committed staging into the stale-partial branch whenever the
    # interrupted rmtree left the directory behind, deleting the
    # rewrite and keeping the truncated version (silent row loss if
    # its _SUCCESS survived, permanent version loss otherwise).
    for name in sorted(os.listdir(snapshot_path)):
        if not (name.startswith("v") and name.endswith("_purge")):
            continue
        n = name[1:-len("_purge")]
        tmp = os.path.join(snapshot_path, name)
        target = os.path.join(snapshot_path, f"v{n}")
        if n.isdigit() and os.path.exists(os.path.join(tmp, "_SUCCESS")):
            shutil.rmtree(target, ignore_errors=True)
            os.rename(tmp, target)  # finish the crashed swap
        else:
            shutil.rmtree(tmp, ignore_errors=True)  # stale partial

    keys = keys_df.select(*key_cols).dropDuplicates()
    removed: dict[int, int] = {}
    for v in _snapshot_versions(snapshot_path):
        vdir = os.path.join(snapshot_path, f"v{v}")
        base = spark.read.parquet(vdir)
        before = base.count()  # footer metadata, not a scan
        staging = os.path.join(snapshot_path, f"v{v}_purge")
        base.join(keys.hint("broadcast"), key_cols, "left_anti").write.mode(
            "overwrite"
        ).parquet(staging)
        after = spark.read.parquet(staging).count()
        removed[v] = before - after
        if removed[v] == 0:
            # idempotent: untouched versions are not swapped
            shutil.rmtree(staging)
            continue
        shutil.rmtree(vdir)
        os.rename(staging, vdir)
    return removed


def stream_to_memory(df: DataFrame, name: str, checkpoint: str) -> StreamingQuery:
    """Memory sink for tests/inspection (bounded data only)."""
    return (
        df.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", checkpoint)
        .start()
    )
