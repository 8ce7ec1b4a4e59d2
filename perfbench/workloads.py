"""The three benchmark workloads.

Each workload stages its inputs from the seed, lists the operations
that make up one pass, runs one operation (the timed unit) and checks
results against a reference answer outside the timed region.  Every
workload is a closed loop with one client: the next operation starts
when the previous one has returned.

An operation returns an ``Op`` record holding its wall-clock marks, the
per-trigger and per-row samples the wall-clock figures are built from,
and the raw result the check needs later.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import urllib.parse
from dataclasses import dataclass, field
from datetime import datetime, timedelta

import duckdb
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

import datagen

# The skewed sources are cut into files of this many event-time hours;
# every micro-batch takes one file per source (maxFilesPerTrigger=1).
# The warm pass drains only each source's first file and the sentinels:
# the same plan, state store and emission path at a fraction of the
# triggers.
SKEW_HOURS_PER_FILE = 8

# batch_mix: the JVM-only SQL half, then the Python/Arrow half.
BATCH_QUERIES = {
    "windowed_count": ["events"],
    "pricing_summary": ["lineitem"],
    "multi_join_revenue": ["customer", "orders", "lineitem", "supplier", "nation", "region"],
    "semantic_dedup_scaled": ["embeddings"],
    "image_decode_stats": ["documents"],
}
# index_replay: a streaming registry query that drains a file replay of
# the events into a versioned parquet store of per-hour rule counters
# inside ``q.spark()``.  One query only: a second one
# (``streaming_int8_scales``) added about 10 s to every run, in the warm
# pass, the timed pass and the table load, and a full benchmark round of
# 70 runs has to stay under an hour.
REPLAY_QUERIES = {"streaming_dq_monitor": ["events"]}


@dataclass
class Op:
    """One executed operation of a workload."""

    name: str
    start: float  # epoch seconds
    end: float = 0.0
    built: float = 0.0  # q.spark() returned (construction done)
    triggers_ms: list[float] = field(default_factory=list)  # per micro-batch
    lags_ms: list[float] = field(default_factory=list)  # per emitted window row
    input_rows: int = 0
    progress: list[dict] = field(default_factory=list)
    result: object = None
    error: str | None = None

    @property
    def wall(self) -> float:
        return self.end - self.start

    def record_progress(self, progress: list[dict]) -> None:
        """Keep the progress reports of the streaming queries this
        operation ran, and the per-trigger figures built from them."""
        self.progress = progress
        self.triggers_ms = [float(p["durationMs"]["triggerExecution"]) for p in progress]
        self.input_rows = sum(int(p["numInputRows"]) for p in progress)


def _registry():
    from flink_repartition_watermark_example_spark.queries import (
        EXTRA_QUERIES,
        QUERIES,
    )

    return {**QUERIES, **EXTRA_QUERIES}


def _mismatch(actual: pd.DataFrame, expected: pd.DataFrame) -> str | None:
    """Order-insensitive comparison with the oracle's frame, through the
    repository's own oracle normalisation."""
    from tests.oracle import _normalize

    if sorted(actual.columns) != sorted(expected.columns):
        return f"columns {sorted(actual.columns)} != {sorted(expected.columns)}"
    if len(actual) != len(expected):
        return f"{len(actual)} rows != {len(expected)}"
    try:
        pd.testing.assert_frame_equal(
            _normalize(actual), _normalize(expected), check_dtype=False, rtol=1e-9
        )
    except AssertionError as e:
        return str(e).splitlines()[0] if str(e) else "values differ"
    return None


class TableWorkload:
    """Shared shape of the two registry workloads: the seeded tables are
    staged once, and each operation calls one registered query and
    reads its result back to the client."""

    queries: dict[str, list[str]]  # query -> the tables it reads

    def __init__(self, work_dir: str):
        self.sf_dir = os.path.join(work_dir, "tables")
        self.stage_s = 0.0
        self.load_table_s = 0.0
        self.registry = _registry()

    def stage(self, spark, seed: int) -> None:
        from flink_repartition_watermark_example_spark.sources.tables import load_table

        t = time.perf_counter()
        datagen.write_tables(self.sf_dir, seed)
        self.stage_s = time.perf_counter() - t
        t = time.perf_counter()
        for name in sorted({t for tables in self.queries.values() for t in tables}):
            load_table(spark, self.sf_dir, name).schema
        self.load_table_s = time.perf_counter() - t

    def reload(self, spark) -> None:
        """Nothing to redo on a new session: the tables stay on disk."""

    def ops(self) -> list[str]:
        return list(self.queries)

    def warm_ops(self) -> list[str]:
        return self.ops()

    def run(self, spark, name: str, tag) -> Op:
        op = Op(name, time.time())
        tag(spark, f"{name}:construct")
        df = self.registry[name].spark(spark, self.sf_dir)
        op.built = time.time()
        tag(spark, f"{name}:run")
        op.result = df.toArrow()
        op.end = time.time()
        return op

    def expected(self) -> dict[str, pd.DataFrame]:
        from tests.oracle import duckdb_con

        con = duckdb_con(self.sf_dir)
        try:
            return {q: con.sql(self.registry[q].oracle).df() for q in self.queries}
        finally:
            con.close()

    def check(self, ops: list[Op]) -> list[str]:
        want = self.expected()
        return [
            f"{op.name}: {err}"
            for op in ops
            if (err := op.error or _mismatch(op.result.to_pandas(), want[op.name]))
        ]


class BatchMix(TableWorkload):
    """Batch registry queries: driver-side plan construction, Catalyst, the JVM
    executors and the Python/Arrow boundary; no streaming engine."""

    queries = BATCH_QUERIES


class IndexReplay(TableWorkload):
    """Streaming registry queries that drain a file replay into a
    versioned parquet store (no aggregation state); the query call and
    the read of its result are the timed unit."""

    queries = REPLAY_QUERIES

    def __init__(self, work_dir: str, progress_log):
        super().__init__(work_dir)
        self.progress_log = progress_log

    def run(self, spark, name: str, tag) -> Op:
        mark = self.progress_log.mark()
        op = super().run(spark, name, tag)
        op.record_progress(self.progress_log.since(mark))
        return op


class SkewBackfill:
    """The reference experiment: two pageview sources skewed by a day,
    counted per url in 1-hour event-time windows that fire only when
    the slower source's watermark passes (streaming.replica)."""

    def __init__(self, work_dir: str, progress_log):
        self.work_dir = work_dir
        self.progress_log = progress_log
        self.files: list[datagen.ReplayFile] = []
        self.warm_files: list[datagen.ReplayFile] = []
        self.events = 0
        self.stage_s = 0.0
        self.load_table_s = 0.0
        self.schema = None
        self.drains = 0

    def stage(self, spark, seed: int) -> None:
        from flink_repartition_watermark_example_spark.sources.generator import (
            skewed_pageview_partitions,
        )
        from flink_repartition_watermark_example_spark.streaming import replica

        t = time.perf_counter()
        sources = [df.toArrow() for df in skewed_pageview_partitions(spark, seed=seed)]
        flush = datetime.fromisoformat(replica.FLUSH_TS)

        def stage(tables, sub):
            return datagen.stage_skew_replay(
                tables,
                os.path.join(self.work_dir, sub),
                SKEW_HOURS_PER_FILE,
                replica.FLUSH_KEY,
                [flush, flush + timedelta(days=1)],
            )

        self.files = stage(sources, "replay")
        span = SKEW_HOURS_PER_FILE * 3_600_000_000
        heads = []
        for s in sources:
            ts = pc.cast(s["ts"], pa.int64())
            heads.append(s.filter(pc.less(ts, pc.min(ts).as_py() + span)))
        self.warm_files = stage(heads, "warm")
        self.events = sum(s.num_rows for s in sources)
        self.stage_s = time.perf_counter() - t
        self.reload(spark)

    def reload(self, spark) -> None:
        self.schema = spark.read.parquet(os.path.dirname(self.files[0].path)).schema

    def ops(self) -> list[str]:
        return ["drain"]

    def warm_ops(self) -> list[str]:
        return ["warm_drain"]

    def run(self, spark, name: str, tag) -> Op:
        from pyspark.sql import functions as F

        from flink_repartition_watermark_example_spark.queries_streaming import (
            stream_shuffle_width,
        )
        from flink_repartition_watermark_example_spark.streaming import replica

        files = self.warm_files if name == "warm_drain" else self.files
        self.drains += 1
        ckpt = os.path.join(self.work_dir, f"ckpt-{self.drains}")
        emitted: list[tuple[int, float, list]] = []

        def sink(batch_df, batch_id):
            called = time.time()
            rows = batch_df.select(
                F.unix_micros("window_start"), F.unix_micros("window_end"), "url", "aggregate"
            ).collect()
            emitted.append((batch_id, called, [tuple(r) for r in rows]))

        mark = self.progress_log.mark()
        op = Op(name, time.time())
        tag(spark, "drain")
        streams = [
            spark.readStream.schema(self.schema).option("maxFilesPerTrigger", 1).parquet(d)
            for d in sorted({os.path.dirname(f.path) for f in files})
        ]
        out = replica.windowed_count_stream(streams)
        op.built = time.time()
        # The state and shuffle width the engine's own replays pin.
        shuffle = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(stream_shuffle_width()))
        try:
            query = (
                out.writeStream.outputMode("append")
                .foreachBatch(sink)
                .trigger(availableNow=True)
                .option("checkpointLocation", ckpt)
                .start()
            )
            query.awaitTermination()
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", shuffle)
        op.end = time.time()
        op.record_progress(self.progress_log.since(mark))
        op.result = (ckpt, emitted)
        op.lags_ms = self._lags(op, files)
        return op

    def _consumed(self, ckpt: str) -> dict[str, int]:
        """File path -> batch id that consumed it, from the checkpoint's
        file-source logs (each entry records its batch id)."""
        batch_of = {}
        root = os.path.join(ckpt, "sources")
        for src in os.listdir(root):
            for entry in os.listdir(os.path.join(root, src)):
                # every tenth log is compacted into "<n>.compact"
                if not entry.removesuffix(".compact").isdigit():
                    continue
                with open(os.path.join(root, src, entry)) as f:
                    for line in f.read().splitlines()[1:]:
                        rec = json.loads(line)
                        path = urllib.parse.urlparse(rec["path"]).path
                        batch_of[os.path.realpath(path)] = int(rec["batchId"])
        return batch_of

    def _lags(self, op: Op, files: list[datagen.ReplayFile]) -> list[float]:
        """Per emitted window row: from the start of the trigger that
        consumed the window's last contributing file to the foreachBatch
        call that emitted the row."""
        ckpt, emitted = op.result
        batch_of = self._consumed(ckpt)
        started = {
            p["batchId"]: datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
            for p in op.progress
        }
        lags = []
        for _, called, rows in emitted:
            for w_start, w_end, _, _ in rows:
                last = max(
                    batch_of[os.path.realpath(f.path)]
                    for f in files
                    if f.start_us < w_end and f.end_us > w_start
                )
                lags.append((called - started[last]) * 1e3)
        return lags

    def expected(self) -> set[tuple]:
        from flink_repartition_watermark_example_spark.streaming import replica

        paths = [f.path for f in self.files]
        con = duckdb.connect()
        try:
            rows = con.execute(
                """
                SELECT epoch_us(ts) // $hour * $hour AS ws, ws + $hour, url, count(*)
                FROM read_parquet($paths) WHERE url <> $flush GROUP BY ALL
                """,
                {"hour": 3_600_000_000, "paths": paths, "flush": replica.FLUSH_KEY},
            ).fetchall()
        finally:
            con.close()
        return set(rows)

    def check(self, ops: list[Op]) -> list[str]:
        want = self.expected()
        failures = []
        for op in ops:
            err = op.error or self._check_drain(op, want)
            if err:
                failures.append(f"drain: {err}")
            shutil.rmtree(op.result[0] if op.result else "", ignore_errors=True)
        return failures

    def _check_drain(self, op: Op, want: set[tuple]) -> str | None:
        ckpt, emitted = op.result
        rows = [r for _, _, batch in emitted for r in batch]
        if sum(r[3] for r in rows) != self.events:
            return f"sum of counts {sum(r[3] for r in rows)} != {self.events} events"
        keys = [(r[0], r[2]) for r in rows]
        if len(set(keys)) != len(keys):
            return "a (window, url) row was emitted more than once"
        # Min-of-sources watermark in force at each batch: the lowest,
        # over sources, of the newest event time consumed before it.
        batch_of = self._consumed(ckpt)
        by_source: dict[int, list[tuple[int, int]]] = {}
        for f in self.files:
            b = batch_of.get(os.path.realpath(f.path))
            if b is None:
                return f"{f.path} was never consumed"
            by_source.setdefault(f.source, []).append((b, f.max_ts_us))
        for batch_id, _, batch in emitted:
            seen = [
                max((ts for b, ts in consumed if b < batch_id), default=None)
                for consumed in by_source.values()
            ]
            watermark = None if None in seen else min(seen)
            for w_start, w_end, url, _ in batch:
                if watermark is None or w_end > watermark:
                    return f"window {w_start}/{url} emitted in batch {batch_id} before the watermark passed its end"
        if set(rows) != want:
            return f"{len(set(rows) ^ want)} rows differ from the batch GROUP BY"
        return None


def make(name: str, work_dir: str, progress_log):
    if name == "skew_backfill":
        return SkewBackfill(work_dir, progress_log)
    if name == "index_replay":
        return IndexReplay(work_dir, progress_log)
    if name == "batch_mix":
        return BatchMix(work_dir)
    raise ValueError(f"unknown workload {name!r}")
