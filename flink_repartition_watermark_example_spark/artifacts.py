"""Session-scoped index artifacts: one identity rule and one store.

An index artifact is something a session computes once and reuses:
the dedup cluster build and its pinned pair relations, the LSH
signatures, the trained k-means quantizer, the PCA basis, bucketed
table layouts, the simhash expression trees and the inferred schema of
each testdata table (``sources.tables.table_schema``: inferring it
runs a Spark job).  Reuse is sound only
when the key covers everything the artifact was computed from, so
every key is built here, by one rule:

- a DataFrame's key is the fingerprint of its input files, the
  ``semanticHash()`` of its analyzed plan (a filter or projection over
  the same files is a different relation) and the caller's
  parameters; an in-memory relation has no stable identity and gets
  no entry;
- a testdata table's key is the fingerprint of that table's files
  plus the caller's parameters;
- an artifact read from no source (an expression tree) is keyed by
  its parameters alone;
- every key starts with the artifact's kind, so two kinds never share
  an entry.

The store is scoped to the current SparkContext's ``applicationId``:
the first lookup under a new application drops every entry of the old
one (its DataFrames, checkpoints and catalog names died with it).
There is one SparkContext per process, so this scope is safe.
"""

from __future__ import annotations

import os
from typing import Callable, NamedTuple, TypeVar
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession

T = TypeVar("T")


class Key(NamedTuple):
    kind: str
    # ((abs path, size, mtime_ns), ...) of every source file
    sources: tuple
    params: tuple


_MEMO: dict[Key, object] = {}
_app_id: str | None = None


def fingerprint(paths) -> tuple:
    """(path, size, mtime_ns) per file, sorted by path.  A regenerated
    source (new bytes, a ``touch``, a copy without ``-p``) changes the
    fingerprint, so it never serves an artifact built from the old
    files.  A path that cannot be stat-ed (a remote URI) records
    ``None`` for size and mtime."""
    out = []
    for p in sorted(paths):
        try:
            st = os.stat(p)
            out.append((p, st.st_size, st.st_mtime_ns))
        except OSError:
            out.append((p, None, None))
    return tuple(out)


def _table_files(sf_dir: str, table: str) -> list[str]:
    """Absolute paths of a testdata table's parquet files: the files
    of a ``<table>.parquet`` directory, or the single file."""
    src = os.path.join(os.path.abspath(sf_dir), f"{table}.parquet")
    if os.path.isdir(src):
        return [
            os.path.join(src, p)
            for p in os.listdir(src)
            if p.endswith(".parquet")
        ]
    return [src]


def table_key(kind: str, sf_dir: str, table: str, *params) -> Key:
    return Key(kind, fingerprint(_table_files(sf_dir, table)), params)


def frame_key(kind: str, df: DataFrame, *params) -> Key | None:
    """Key of an artifact computed from ``df``; None (no entry) for an
    in-memory relation.  ``semanticHash`` canonicalizes the plan, so
    two reads of the same query share a key, and unlike the plan
    string it is not cut off at ``spark.sql.debug.maxToStringFields``."""
    files = df.inputFiles()
    if not files:
        return None
    paths = [
        unquote(urlparse(f).path) if f.startswith("file:") else f
        for f in files
    ]
    plan = df._jdf.queryExecution().analyzed().semanticHash()
    return Key(kind, fingerprint(paths), (plan, *params))


def get_or_build(
    spark: SparkSession, key: Key | None, build: Callable[[], T]
) -> T:
    """The artifact under ``key``, built by ``build()`` on a miss.  A
    hit returns the stored object itself.  ``key=None`` always builds
    and stores nothing."""
    global _app_id
    app = spark.sparkContext.applicationId
    if app != _app_id:
        _MEMO.clear()
        _app_id = app
    if key is None:
        return build()
    if key not in _MEMO:
        _MEMO[key] = build()
    return _MEMO[key]  # type: ignore[return-value]


def release(sf_dir: str | None = None) -> int:
    """Drop every artifact with a source file under ``sf_dir`` (all of
    them for ``None``); returns the number of entries dropped.  Pinned
    relations hold eagerly checkpointed corpus-scale blocks, so a
    sweep over several dirs releases each one when it moves on; Spark's
    ContextCleaner frees the blocks once the dropped references are
    garbage-collected."""
    import gc

    root = (
        None if sf_dir is None else os.path.join(os.path.abspath(sf_dir), "")
    )
    drop = [
        k
        for k in _MEMO
        if root is None or any(p.startswith(root) for p, _, _ in k.sources)
    ]
    for k in drop:
        del _MEMO[k]
    gc.collect()
    return len(drop)
