"""The versioned-store protocol (streaming/vstore.py) under faults.

One matrix runs every streaming store through the same cases.  Faults
are injected by monkeypatching ``os.rename``, ``shutil.rmtree`` and
the marker ``open`` inside vstore, so production code carries no
hooks.  After each case the store resumes the way a restarted stream
does (it replays the batch the checkpoint never committed, then goes
on), and the test asserts that the streamed result equals the batch
twin over the whole input.

Writers are driven directly, one call per micro-batch, on the
sf0.001 tables: three key-ordered arrival batches, ordered so the
stores whose stream==batch contract needs id-ordered arrival
(semdedup, spandedup) hold it too.
"""

from __future__ import annotations

import contextlib
import os
import shutil
from dataclasses import dataclass
from typing import Callable

import pytest
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_repartition_watermark_example_spark.functions.vectors import as_double
from flink_repartition_watermark_example_spark.sources.tables import load_table
from flink_repartition_watermark_example_spark.streaming import (
    anomaly,
    clustermap,
    dqmonitor,
    int8scale,
    neardup,
    semdedup,
    sketch,
    spandedup,
)


def _set(df: DataFrame) -> set:
    return {tuple(r) for r in df.collect()}


@dataclass(frozen=True)
class Store:
    """A streaming store as the matrix drives it.  ``writer``,
    ``compact`` and ``read`` take the case's root dir; the store's
    versioned index lives at ``root/index``, per-batch outputs (if
    any) at ``root/out``."""

    table: str
    cols: tuple[str, ...]
    key: str
    cuts: tuple[int, int]  # batch i holds cuts[i-1] <= key < cuts[i]
    writer: Callable[[DataFrame, str], Callable]
    compact: Callable[[SparkSession, str], object]
    read: Callable[[SparkSession, str], set]
    batch: Callable[[SparkSession, str, DataFrame], set]


def _pairs(df):
    return {(r["doc_a"], r["doc_b"], round(r["est_jaccard"], 9)) for r in df.collect()}


def _hll_estimates(df):
    return _set(df.select("event_type", F.hll_sketch_estimate("sk")))


def _batch_scales(emb):
    return _set(
        emb.select(F.posexplode(as_double("embedding")).alias("j0", "x"))
        .groupBy((F.col("j0") + 1).cast("long").alias("j"))
        .agg((F.max(F.abs("x")) / F.lit(127.0)).alias("s"))
    )


def _centroids(emb):
    from flink_repartition_watermark_example_spark.operators.similarity import CENTROID_IDS

    rows = emb.where(F.col("vec_id").isin(CENTROID_IDS)).collect()
    return sorted((r["vec_id"], [float(x) for x in r["embedding"]]) for r in rows)


def _batch_cluster_map(spark, sf_dir, docs):
    from flink_repartition_watermark_example_spark.operators.dedup import simhash_neardup_pairs
    from flink_repartition_watermark_example_spark.operators.graph import connected_components
    from flink_repartition_watermark_example_spark.queries_dedup import _cluster_split_col

    pairs = simhash_neardup_pairs(docs, max_bucket_docs=None)
    cc = connected_components(
        docs.select(F.col("doc_id").alias("v")), pairs, "v", "doc_a", "doc_b"
    )
    return _set(
        cc.select(
            F.col("v").alias("doc_id"),
            F.col("component").alias("cluster_id"),
            _cluster_split_col().alias("split"),
        )
    )


def _batch_neardup(spark, sf_dir, docs):
    from flink_repartition_watermark_example_spark.operators.dedup import lsh_candidate_pairs

    return _pairs(lsh_candidate_pairs(docs, max_bucket_docs=10**9))


def _batch_span_docs(spark, sf_dir, docs):
    from flink_repartition_watermark_example_spark.queries_pipeline import span_dedup_rewrite

    return _set(span_dedup_rewrite(docs))


def _batch_semdedup(spark, sf_dir, emb):
    from flink_repartition_watermark_example_spark.operators.similarity import semantic_dedup

    return _set(semantic_dedup(emb))


_EVENTS = ("event_id", "ts", "event_type", "value", "user_id")
# The document stores write one partition dir per (band, bucket) or
# bucket a doc touches, and local commits and partition discovery of
# hundreds of dirs dominate their cost.  So they run on 13 documents
# holding near-dup cliques (0-50-82, 8-12-120-360, 5-450, 16-369,
# 26-176) that also share spans, split so every clique spans batches.
_DOCS = "doc_id IN (0, 5, 8, 12, 16, 26, 50, 82, 120, 176, 360, 369, 450)"

STORES = {
    "neardup": Store(
        "documents", ("doc_id", "text"), "doc_id", (20, 150),
        lambda df, r: neardup.neardup_index_writer(f"{r}/index", f"{r}/out", max_bucket_docs=None),
        lambda s, r: neardup.compact_index(s, f"{r}/index"),
        lambda s, r: _pairs(neardup.read_neardup_pairs(s, f"{r}/out")),
        _batch_neardup,
    ),
    "cms": Store(
        "events", _EVENTS, "event_id", (333, 666),
        lambda df, r: sketch.cms_sketch_writer(f"{r}/index", key_col="event_type"),
        lambda s, r: sketch.compact_sketch(s, f"{r}/index"),
        lambda s, r: _set(sketch.read_cms_sketch(s, f"{r}/index")),
        lambda s, d, df: _set(sketch.cms_build(df, F.col("event_type"))),
    ),
    "hll": Store(
        "events", _EVENTS, "event_id", (333, 666),
        lambda df, r: sketch.hll_sketch_writer(f"{r}/index", key_col="user_id", group_col="event_type"),
        lambda s, r: sketch.compact_hll_sketch(s, f"{r}/index", "event_type"),
        lambda s, r: _hll_estimates(sketch.read_hll_sketch(s, f"{r}/index", "event_type")),
        lambda s, d, df: _hll_estimates(
            df.groupBy("event_type").agg(F.hll_sketch_agg("user_id").alias("sk"))
        ),
    ),
    "anomaly": Store(
        "events", _EVENTS, "event_id", (333, 666),
        lambda df, r: anomaly.hourly_count_writer(f"{r}/index"),
        lambda s, r: anomaly.compact_counts(s, f"{r}/index"),
        lambda s, r: _set(anomaly.read_hourly_counts(s, f"{r}/index")),
        lambda s, d, df: _set(
            df.groupBy("event_type", F.date_trunc("hour", "ts").alias("h")).count()
        ),
    ),
    "dqmonitor": Store(
        "events", _EVENTS, "event_id", (333, 666),
        lambda df, r: dqmonitor.dq_monitor_writer(f"{r}/index"),
        lambda s, r: dqmonitor.compact_dq_state(s, f"{r}/index"),
        lambda s, r: _set(dqmonitor.read_dq_state(s, f"{r}/index")),
        lambda s, d, df: _set(dqmonitor._batch_delta(df)),
    ),
    "int8scale": Store(
        "embeddings", ("vec_id", "embedding"), "vec_id", (167, 334),
        lambda df, r: int8scale.dim_max_writer(f"{r}/index"),
        lambda s, r: int8scale.compact_scales(s, f"{r}/index"),
        lambda s, r: _set(int8scale.read_dim_scales(s, f"{r}/index")),
        lambda s, d, df: _batch_scales(df),
    ),
    "semdedup": Store(
        "embeddings", ("vec_id", "embedding"), "vec_id", (167, 334),
        lambda df, r: semdedup.semdedup_index_writer(f"{r}/index", f"{r}/out", _centroids(df)),
        lambda s, r: semdedup.compact_index(s, f"{r}/index"),
        lambda s, r: _set(semdedup.read_semdedup_survivors(s, f"{r}/out")),
        _batch_semdedup,
    ),
    "spandedup": Store(
        "documents", ("doc_id", "source", "text"), "doc_id", (20, 150),
        lambda df, r: spandedup.spandedup_index_writer(f"{r}/index", f"{r}/out"),
        lambda s, r: spandedup.compact_index(s, f"{r}/index"),
        lambda s, r: _set(spandedup.read_spandedup_docs(s, f"{r}/out")),
        _batch_span_docs,
    ),
    "clustermap": Store(
        "documents", ("doc_id", "text"), "doc_id", (20, 150),
        lambda df, r: clustermap.cluster_map_writer(f"{r}/index", f"{r}/out", max_bucket_docs=None),
        lambda s, r: clustermap.compact_index(s, f"{r}/index"),
        lambda s, r: _set(clustermap.read_cluster_map(s, f"{r}/out")),
        _batch_cluster_map,
    ),
}

_WANT: dict[str, set] = {}
_PREFIX: dict[str, str] = {}


@pytest.fixture
def run(spark, sf_dir, tmp_path_factory, tmp_path, request):
    """(store, full input, [three arrival batches], writer, root), with
    batches 0 and 1 already committed under ``root``.  That prefix is
    written once per store and copied into each case."""
    name = request.node.callspec.params["store"]
    st = STORES[name]
    df = load_table(spark, sf_dir, st.table).select(*st.cols)
    if st.table == "documents":
        df = df.where(_DOCS)
    key, (c1, c2) = F.col(st.key), st.cuts
    parts = [df.where(key < c1), df.where((key >= c1) & (key < c2)), df.where(key >= c2)]
    if name not in _PREFIX:
        base = str(tmp_path_factory.mktemp(f"prefix_{name}"))
        w = st.writer(df, base)
        w(parts[0], 0)
        w(parts[1], 1)
        _PREFIX[name] = base
        _WANT[name] = st.batch(spark, sf_dir, df)
    root = str(tmp_path / "store")
    shutil.copytree(_PREFIX[name], root)
    return st, df, parts, st.writer(df, root), root


def _stages(root):
    from flink_repartition_watermark_example_spark.streaming.vstore import STAGE_PREFIX

    return sorted(d for d in os.listdir(f"{root}/index") if d.startswith(STAGE_PREFIX))


@contextlib.contextmanager
def _crash(fn: str, at: int, root: str):
    """Make the ``at``-th call (1-based) of vstore's ``fn`` on a path
    under ``root`` raise, as a process dying there would stop it."""
    from flink_repartition_watermark_example_spark.streaming import vstore

    real = {"rename": os.rename, "rmtree": vstore.shutil.rmtree, "open": open}[fn]
    calls = []

    def fake(path, *a, **k):
        if str(path).startswith(root):
            calls.append(path)
            if len(calls) == at:
                raise OSError(f"injected crash at {fn}({path})")
        return real(path, *a, **k)

    with pytest.MonkeyPatch.context() as mp:
        if fn == "rename":
            mp.setattr(vstore.os, "rename", fake)
        elif fn == "rmtree":
            mp.setattr(vstore.shutil, "rmtree", fake)
        else:
            mp.setattr(vstore, "open", fake, raising=False)
        yield


def _after_stage_write(spark, st, df, parts, w, root):
    """Batch 2 dies after staging its delta, before the commit; a
    compaction while the stream is down dies after staging its merge,
    before the marker.  Neither stage is committed: the replayed batch
    2 deletes both and re-runs in full, and no version they hold is
    lost or doubled."""
    with _crash("rename", 1, f"{root}/index"), pytest.raises(OSError):
        w(parts[2], 2)
    with _crash("open", 1, f"{root}/index"), pytest.raises(OSError):
        st.compact(spark, root)
    assert len(_stages(root)) == 2  # the writer's and the compactor's
    w(parts[2], 2)
    assert _stages(root) == []


def _compaction_crash(fn, at):
    def case(spark, st, df, parts, w, root):
        """Compaction dies after its marker; the replay of the last
        pre-compaction batch installs the snapshot, is skipped by the
        marker, and the next batch sees every folded version."""
        with _crash(fn, at, f"{root}/index"), pytest.raises(OSError):
            st.compact(spark, root)
        w(parts[1], 1)
        assert os.path.exists(f"{root}/index/v1/_COMPACTED")
        w(parts[2], 2)

    return case


def _empty_batch(spark, st, df, parts, w, root):
    """An empty micro-batch publishes no version, and the batch after
    it still reads the index."""
    w(df.where(F.lit(False)), 2)
    w(parts[2], 3)
    assert not os.path.exists(f"{root}/index/v2")


def _reader_during_stage(spark, st, df, parts, w, root):
    """While batch 2's stage is in flight, a reader and a compactor run:
    neither may delete the stage, and the commit then lands next to
    the compacted snapshot."""
    from flink_repartition_watermark_example_spark.streaming import vstore

    real = os.rename
    seen = []

    def commit_after_readers(src, dst, *a, **k):
        if not seen and dst == f"{root}/index/v2":
            seen.append(st.read(spark, root))
            st.compact(spark, root)
            assert os.path.basename(src) in _stages(root)
        return real(src, dst, *a, **k)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(vstore.os, "rename", commit_after_readers)
        w(parts[2], 2)
    assert seen, "batch 2 never committed"
    assert vstore.versions(f"{root}/index") == [1, 2]


CASES = {
    "after_stage_write": _after_stage_write,
    "after_marker": _compaction_crash("rmtree", 1),
    "mid_delete": _compaction_crash("rmtree", 2),
    "before_rename": _compaction_crash("rename", 1),
    "empty_batch": _empty_batch,
    "reader_during_stage": _reader_during_stage,
}


@pytest.mark.parametrize("case", list(CASES))
@pytest.mark.parametrize("store", list(STORES))
def test_fault_matrix(spark, run, store, case):
    st, df, parts, w, root = run
    CASES[case](spark, st, df, parts, w, root)
    assert st.read(spark, root) == _WANT[store]


def test_parquet_rows_walks_partitions_and_rejects_stray_files(spark, tmp_path):
    from flink_repartition_watermark_example_spark.streaming.vstore import parquet_rows

    d = str(tmp_path / "delta")
    spark.range(10).selectExpr("id", "id % 3 AS band").write.partitionBy(
        "band"
    ).parquet(d)
    assert parquet_rows(d) == 10
    with open(os.path.join(d, "band=1", "part-stray.json"), "w") as f:
        f.write("{}")
    with pytest.raises(ValueError, match="part-stray.json"):
        parquet_rows(d)
