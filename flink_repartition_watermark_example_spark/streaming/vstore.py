"""The versioned parquet store every streaming index, snapshot and
per-batch output is kept in: the only module that names, writes,
replaces or deletes a ``v{N}`` directory.

One copy of the exactly-once sink protocol: a replayable source plus
an idempotent sink, the argument Structured Streaming makes.  The
stores keep only their own algebra — the fold that merges versions,
the ``partitionBy`` layout, and the order in which they write their
outputs before the index.

Layout under a store's root:

- ``v{N}`` — a committed version: the delta of micro-batch ``N`` (the
  nine streaming indexes), a compacted snapshot of every version
  ``<= N``, or the whole state or output of batch ``N`` (the CDC
  snapshot, the cluster map, pairs, survivors, docs).  Committed means
  it holds parquet's ``_SUCCESS``; a dir without it is invisible.
- ``v{N}/_COMPACTED`` — marks ``v{N}`` as a compacted snapshot.
- ``_tmp_v{N}`` — a stage: of batch ``N``'s version, of a compaction's
  merge of every version ``<= N``, or of a rewrite of ``v{N}``.  A
  stage holding a marker is committed, and the marker says what its
  install replaces: ``_COMPACTED`` every version ``<= N``,
  ``_REWRITE`` only ``v{N}``.  One without is a partial write.

Protocol:

- A writer's batch head is :meth:`VersionedStore.begin`.  It repairs
  crashed compactions and rewrites, deletes unmarked stages (the
  single writer is the only one that can have a stage in flight, and
  at its batch head it has none) and says whether the replayed batch
  id is a compacted snapshot.  A crash-replay of such a batch must
  skip its writes: its delta is already folded in, and overwriting
  ``v{N}`` would destroy every delta folded with it.  A rewritten
  ``v{N}`` is not skipped: its replay recomputes it.
- A delta is :meth:`staged <VersionedStore.stage>` with one Spark job,
  its row count read from the parquet footers, and then
  :meth:`committed <VersionedStore.commit>` by one rename.  An empty
  delta is never committed: it adds nothing to any fold, and an empty
  ``partitionBy`` write holds no data file, so a committed one would
  make every later read die on ``UNABLE_TO_INFER_SCHEMA``.  A replay
  of batch ``N`` restages and commits over its own ``v{N}``, so
  replays are idempotent.
- A whole version (:meth:`VersionedStore.put`) is written as given
  and committed even when empty: unpartitioned, an empty write still
  leaves a 0-row part file holding the schema, and an empty snapshot
  (every key deleted) is a state.  A snapshot writer's base
  (:meth:`VersionedStore.base`) is the newest version below its batch
  id, so a replay re-reads the base it saw the first time.
- A store whose batch also writes outputs (pairs, survivors, docs, a
  map) commits its delta last.  A committed delta then always implies
  committed outputs, so compaction while the stream is down can never
  fold a delta whose replay (skipped by the marker) would have to
  write them.
- :meth:`VersionedStore.compact` merges every version into
  ``_tmp_v{max}``, marks it, deletes the versions and renames the
  stage to ``v{max}``.  The snapshot reuses the max id: one past it is
  the resumed stream's next batch id, whose delta commit would replace
  the snapshot.
- :meth:`VersionedStore.recover` installs a committed compaction or
  rewrite left by a crash: it finishes the deletes and the rename.
  Readers, writers, compactors and rewriters all run it first, so
  state can be transiently absent but never silently partial.  Only
  the marker commits a stage, not parquet's ``_SUCCESS``: a
  compaction stage that crashed between its parquet commit and the
  marker, installed without the marker, would let a replay of batch
  ``N`` miss the compacted check and overwrite every folded delta.  Such a stage is a partial write; the writer's next
  batch head deletes it, and every version it merged is still in
  place because deletes only start after the marker.
- Nothing but ``begin`` deletes an unmarked stage: a reader or a
  compactor may run while a writer's stage is in flight (semdedup
  stages its index across the survivors write).

Not safe against a second concurrent writer: compaction, rewrites
(``sinks.forget_keys``) and retention belong on the maintenance path.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

STAGE_PREFIX = "_tmp_v"
COMPACTED_MARKER = "_COMPACTED"
REWRITE_MARKER = "_REWRITE"


def versions(path: str) -> list[int]:
    """Committed version ids under ``path``, ascending."""
    return [
        n for n in _version_ids(path)
        if os.path.exists(os.path.join(path, f"v{n}", "_SUCCESS"))
    ]


def read_outputs(spark: SparkSession, path: str, what: str) -> DataFrame:
    """Union of the per-batch output dirs ``v{N}`` a store's writer
    emits next to its index (pairs, survivors, docs).  They are
    unpartitioned, so one multi-path read suffices."""
    vs = versions(path)
    if not vs:
        raise FileNotFoundError(f"no committed {what} under {path}")
    return spark.read.parquet(*[os.path.join(path, f"v{v}") for v in vs])


def _version_ids(path: str) -> list[int]:
    if not os.path.isdir(path):
        return []
    return sorted(
        int(n[1:]) for n in os.listdir(path) if n.startswith("v") and n[1:].isdigit()
    )


def drop(vdir: str) -> None:
    """Delete the version dir ``vdir``.  ``_SUCCESS`` goes first, so a
    crash or I/O error mid-delete leaves an invisible dir instead of a
    committed version missing some of its files; the error raises."""
    if os.path.exists(os.path.join(vdir, "_SUCCESS")):
        os.remove(os.path.join(vdir, "_SUCCESS"))
    shutil.rmtree(vdir)


def parquet_rows(path: str) -> int:
    """Row count of a written parquet dir from its footers, with no
    Spark job.  Walks ``partitionBy`` subdirectories.  Names starting
    with ``_`` or ``.`` are metadata, as for Spark's reader; any other
    file that is not ``*.parquet`` raises, so a change in what the
    writer leaves behind cannot silently drop or publish a version."""
    import pyarrow.parquet as pq

    rows = 0
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for f in files:
            if f.startswith(("_", ".")):
                continue
            if not f.endswith(".parquet"):
                raise ValueError(f"non-parquet data file {os.path.join(root, f)}")
            rows += pq.read_metadata(os.path.join(root, f)).num_rows
    return rows


class VersionedStore:
    """A store rooted at ``path`` whose versions are written
    ``partitionBy(*partition_by)``, or as one file when unpartitioned
    (the algebraic stores' versions are small aggregates).  See the
    module docstring for the protocol."""

    def __init__(self, path: str, partition_by: tuple[str, ...] = ()):
        self.path = path
        self.partition_by = partition_by

    def _vdir(self, n: int) -> str:
        return os.path.join(self.path, f"v{n}")

    def _stage_dir(self, n: int) -> str:
        return os.path.join(self.path, f"{STAGE_PREFIX}{n}")

    def _stages(self) -> list[tuple[int, str, str | None]]:
        """(target id, dir, marker or None) of every stage, in id order."""
        if not os.path.isdir(self.path):
            return []
        out = []
        for name in os.listdir(self.path):
            n = name.removeprefix(STAGE_PREFIX)
            if name.startswith(STAGE_PREFIX) and n.isdigit():
                tmp = os.path.join(self.path, name)
                marker = next(
                    (m for m in (COMPACTED_MARKER, REWRITE_MARKER)
                     if os.path.exists(os.path.join(tmp, m))),
                    None,
                )
                out.append((int(n), tmp, marker))
        return sorted(out)

    def _write(self, df: DataFrame, path: str) -> None:
        if self.partition_by:
            df.write.mode("overwrite").partitionBy(*self.partition_by).parquet(path)
        else:
            df.coalesce(1).write.mode("overwrite").parquet(path)

    def recover(self) -> None:
        """Install every committed stage: delete the versions it
        replaces, then rename it into place."""
        for n, tmp, marker in self._stages():
            if marker:
                for v in _version_ids(self.path):
                    if v == n or (v < n and marker == COMPACTED_MARKER):
                        drop(self._vdir(v))
                os.rename(tmp, self._vdir(n))

    def read(self, spark: SparkSession, below: int | None = None) -> DataFrame | None:
        """Union of the committed versions (those ``< below`` when
        given), or None when there are none.  Each version is read on
        its own, then unioned by name: several partitioned roots in one
        read would make Spark hunt for a common base path and infer the
        ``v{N}`` dirs as partition values."""
        self.recover()
        vs = [v for v in versions(self.path) if below is None or v < below]
        if not vs:
            return None
        return reduce(
            DataFrame.unionByName, [spark.read.parquet(self._vdir(v)) for v in vs]
        )

    def merged(
        self, spark: SparkSession, fold: Callable[[DataFrame], DataFrame], empty: str
    ) -> DataFrame:
        """``fold`` over every committed version; an empty frame of
        DDL schema ``empty`` when there are none."""
        df = self.read(spark)
        return spark.createDataFrame([], empty) if df is None else fold(df)

    def begin(self, bid: int) -> bool:
        """The writer's batch head.  True when ``v{bid}`` is a
        compacted snapshot: the batch is a replay whose delta is
        already folded in, and it must write nothing."""
        self.recover()
        for _, tmp, marker in self._stages():
            if not marker:
                shutil.rmtree(tmp)
        return os.path.exists(os.path.join(self._vdir(bid), COMPACTED_MARKER))

    def stage(self, df: DataFrame, bid: int) -> int:
        """Write ``df`` as batch ``bid``'s stage with one Spark job and
        return its row count.  An empty stage is removed."""
        tmp = self._stage_dir(bid)
        self._write(df, tmp)
        rows = parquet_rows(tmp)
        if rows == 0:
            shutil.rmtree(tmp)
        return rows

    def read_stage(self, spark: SparkSession, bid: int) -> DataFrame:
        return spark.read.parquet(self._stage_dir(bid))

    def commit(self, bid: int) -> None:
        """Publish batch ``bid``'s stage as ``v{bid}``, replacing the
        version an earlier run of the same batch committed."""
        if os.path.isdir(self._vdir(bid)):
            drop(self._vdir(bid))
        os.rename(self._stage_dir(bid), self._vdir(bid))

    def publish(self, df: DataFrame, bid: int) -> int:
        """:meth:`stage` then :meth:`commit`, skipping an empty delta."""
        rows = self.stage(df, bid)
        if rows:
            self.commit(bid)
        return rows

    def put(self, df: DataFrame, bid: int) -> None:
        """Write ``df``, as given, as the whole of ``v{bid}``: staged,
        then committed, also when empty."""
        df.write.mode("overwrite").parquet(self._stage_dir(bid))
        self.commit(bid)

    def base(self, spark: SparkSession, bid: int, empty: str | StructType) -> DataFrame:
        """A snapshot writer's batch head: :meth:`begin`, then the
        newest committed version below ``bid`` — the state batch
        ``bid`` applies to — or an empty frame of schema ``empty``."""
        self.begin(bid)
        vs = [v for v in versions(self.path) if v < bid]
        if not vs:
            return spark.createDataFrame([], empty)
        return spark.read.parquet(self._vdir(vs[-1]))

    def snapshot(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """A snapshot store's newest committed version, or
        ``v{version}``; FileNotFoundError when it is not committed."""
        self.recover()
        vs = versions(self.path)
        if not vs:
            raise FileNotFoundError(f"no committed snapshot under {self.path}")
        if version is not None and version not in vs:
            raise FileNotFoundError(
                f"version {version} not committed under {self.path}; have {vs}"
            )
        return spark.read.parquet(self._vdir(vs[-1] if version is None else version))

    def retain(self, keep_last: int) -> list[int]:
        """Drop all but the newest ``keep_last`` committed versions of
        a snapshot store and return the dropped ids.  A failed delete
        raises, and its version is already invisible (:func:`drop`)."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        self.recover()
        doomed = versions(self.path)[:-keep_last]
        for v in doomed:
            drop(self._vdir(v))
        return doomed

    def rewrite(
        self,
        spark: SparkSession,
        n: int,
        fn: Callable[[DataFrame], DataFrame],
        schema: StructType,
    ) -> int:
        """Replace ``v{n}`` of a snapshot store by ``fn(v{n})``,
        written as given, and return the rows that removed (footer
        counts, no Spark job).  A rewrite that removes none is
        discarded; one that does is marked ``_REWRITE`` and installed
        by :meth:`recover`, so a crash leaves ``v{n}`` whole,
        rewritten or transiently absent, never short.  ``v{n}`` is
        opened with ``schema``, the store's, so no schema-inference
        job runs per version."""
        tmp = self._stage_dir(n)
        src = spark.read.schema(schema).parquet(self._vdir(n))
        fn(src).write.mode("overwrite").parquet(tmp)
        removed = parquet_rows(self._vdir(n)) - parquet_rows(tmp)
        if removed == 0:
            shutil.rmtree(tmp)
        else:
            open(os.path.join(tmp, REWRITE_MARKER), "w").close()
            self.recover()
        return removed

    def writer(
        self, delta: Callable[[DataFrame], DataFrame]
    ) -> Callable[[DataFrame, int], None]:
        """foreachBatch body publishing ``delta(batch)`` as each
        batch's version: the whole writer of a store with no outputs."""

        def write(batch_df: DataFrame, batch_id: int) -> None:
            if not self.begin(int(batch_id)):
                self.publish(delta(batch_df), int(batch_id))

        return write

    def compact(self, spark: SparkSession, fold: Callable[[DataFrame], DataFrame]) -> int:
        """Merge every committed version through ``fold`` into one
        snapshot at the max id.  Returns the number of versions
        removed."""
        self.recover()
        vs = versions(self.path)
        if len(vs) <= 1:
            return 0
        tmp = self._stage_dir(vs[-1])
        self._write(fold(self.read(spark)), tmp)
        open(os.path.join(tmp, COMPACTED_MARKER), "w").close()
        self.recover()
        return len(vs) - 1
