"""Streaming query registration for the driver contract.

``streaming_windowed_count`` exercises Structured Streaming inside the
correctness gate with the reference's actual emission contract
(S10, reference README.md:54-58): **append** output mode — each
key+window row is emitted exactly once, when the watermark passes the
window end, and its state is evicted.  It is the paper's replica
builder, ``replica.windowed_count_stream``, over one source.  A
bounded file replay has no end-of-input watermark in Spark (Flink
sources emit Watermark(Long.MaxValue) on close), so each replay dir
(:func:`_replay`) carries the close sentinels of streaming/replica.py,
written after the data: they advance the source watermark past every
real window and are dropped above it.  The drained result must equal
the plain batch GROUP BY, so the DuckDB oracle applies.

All streaming queries here (windowed count, interval joins,
sessionize, dedup) return the memory-sink table directly — no
driver-side collect/createDataFrame round-trip; the sink table lives
in the session as a uuid-named temp view.
"""
from __future__ import annotations

import contextlib
import os
import shutil
import tempfile
import uuid
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_repartition_watermark_example_spark.queries import register, register_extra
from flink_repartition_watermark_example_spark.sources.tables import table_schema
from flink_repartition_watermark_example_spark.streaming.eventtime import (
    ensure_event_time,
)
from flink_repartition_watermark_example_spark.streaming.replica import (
    drop_close_sentinels,
    windowed_count_stream,
    write_close_sentinel,
)


@contextlib.contextmanager
def _replay(
    spark: SparkSession,
    sf_dir: str,
    event_type: str | None = None,
    files_per_trigger: int = 1,
) -> Iterator[DataFrame]:
    """A file-stream replay of the events table, ts normalized to
    event time, over a temporary dir that holds a copy of the data
    files (mtime-ordered, single file or a directory-shaped table)
    followed by the close sentinels; the dir is removed on exit.

    ``event_type``: replay only that type.  The filter sits below the
    watermark node, so the sentinel rows carry the type too, and
    ``user_id = -1`` (non-null, matches no real user): Catalyst infers
    ``isnotnull(user_id)`` from a join's equi-key on the non-preserved
    side and pushes it into the scan, which would silently drop an
    all-NULL sentinel below the watermark node — observed as the
    purchase-side watermark freezing at its data max while the view
    side advanced."""
    table_schema(spark, sf_dir, "events")  # sets the nanosAsLong conf
    d = tempfile.mkdtemp(prefix="stream_replay_")
    try:
        src = os.path.join(sf_dir, "events.parquet")
        parts = (
            sorted(
                os.path.join(src, p)
                for p in os.listdir(src)
                if p.endswith(".parquet")
            )
            if os.path.isdir(src)
            else [src]
        )
        for i, part in enumerate(parts):
            data = os.path.join(d, f"{i:04d}_events.parquet")
            shutil.copy(part, data)
            now = os.stat(data).st_mtime
            os.utime(data, (now - 60, now - 60))
        typed = {"event_type": event_type, "user_id": -1} if event_type else None
        schema = write_close_sentinel(spark, d, typed, files_per_trigger)
        stream = ensure_event_time(
            spark.readStream.schema(schema)  # ts as the file declares it
            .option("pathGlobFilter", "*.parquet")
            .option("maxFilesPerTrigger", files_per_trigger)
            .parquet(d)
        )
        if event_type is not None:
            stream = stream.where(F.col("event_type") == event_type)
        yield stream
    finally:
        shutil.rmtree(d, ignore_errors=True)


def stream_shuffle_width() -> int:
    """The streaming state/shuffle width every replay drain pins.

    ``$SPARK_GRAFT_STREAM_SHUFFLE`` overrides outright (the lever a
    real deployment sets to its sustained key cardinality — the
    state-partition count is fixed at the query's first checkpoint and
    cannot change across restarts).  The default derives from the
    session cpu helper: cores/4 clamped to [2, 8] — 8 at the bench's
    32-core config (identical to the former hard-coded width, so the
    driver's bench series stays comparable), narrower at low core
    counts where extra state stores are pure per-batch commit
    overhead.  At 100 TB this default is WRONG on purpose-visible
    grounds: it exists only for bounded local replays; deployments
    must set the env var (or size shuffle.partitions themselves)
    to key cardinality.  A set value that is not a positive integer
    (empty, ``0``, negative, non-numeric) raises, naming the variable,
    instead of being guessed at."""
    env = os.environ.get("SPARK_GRAFT_STREAM_SHUFFLE")
    if env is not None:
        try:
            width = int(env)
        except ValueError:
            width = 0
        if width < 1:
            raise ValueError(
                f"SPARK_GRAFT_STREAM_SHUFFLE must be a positive integer, got {env!r}"
            )
        return width
    from flink_repartition_watermark_example_spark.session import (
        _default_parallelism,
    )

    return max(2, min(8, _default_parallelism() // 4))


@contextlib.contextmanager
def _streaming_confs(spark: SparkSession):
    """Pin the streaming-critical session confs around a writeStream.

    - shuffle.partitions: the state-partition count is fixed at query
      start from this conf; a bounded replay with a handful of keys
      needs few state stores, and every extra one costs a per-batch
      snapshot+commit.  Width from :func:`stream_shuffle_width`
      ($SPARK_GRAFT_STREAM_SHUFFLE override, cpu-derived default).
    - RocksDB state store: state off-heap on local disk, bounded by
      disk instead of executor heap — the 100 TB state lever (also the
      session default in session.py; re-pinned here because the driver
      may hand us a session built elsewhere).
    """
    # get() without a default returns the EFFECTIVE value (both keys
    # have SQLConf defaults), so the restore is unconditional — saving
    # only explicitly-set values would leave the pins stuck on
    # externally-built sessions.
    saved = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.shuffle.partitions",
            "spark.sql.streaming.stateStore.providerClass",
        )
    }
    spark.conf.set("spark.sql.shuffle.partitions", str(stream_shuffle_width()))
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        yield
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def _drain(agg: DataFrame, spark: SparkSession, name: str, mode: str) -> DataFrame:
    """Run a bounded streaming plan to completion into a memory sink
    and return the sink table (no driver-side materialization)."""
    ckpt_base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    with _streaming_confs(spark):
        with tempfile.TemporaryDirectory(dir=ckpt_base) as ckpt:
            q = (
                agg.writeStream.outputMode(mode)
                .format("memory")
                .queryName(name)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
    return spark.table(name)


@register(
    "streaming_windowed_count",
    """
    SELECT date_trunc('hour', ts) AS window_start,
           date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
           event_type,
           count(*) AS aggregate
    FROM events
    GROUP BY 1, 2, 3
    """,
    doc="The flagship query run THROUGH Structured Streaming with the "
    "reference's emission contract: file-stream replay of events + "
    "close sentinels, 0-delay watermark, incremental stateful windowed "
    "count in APPEND mode (each window emitted exactly once when the "
    "watermark passes it, state evicted), availableNow drain — result "
    "must equal the batch GROUP BY.",
)
def q_streaming_windowed_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    name = "stream_wc_" + uuid.uuid4().hex[:8]
    # SPARK_GRAFT_STREAM_FPT batches k files per micro-batch: at sf100
    # the events table is ~250 part files, and with k=1 the drain is
    # linear in BATCH COUNT (per-trigger state commit + planning
    # overhead), measuring the harness rather than throughput.  The
    # replay pads first-sentinel copies so the two-sentinel flush
    # contract survives any k (replica.write_close_sentinel).
    fpt = max(1, int(os.environ.get("SPARK_GRAFT_STREAM_FPT", "1")))
    with _replay(spark, sf_dir, files_per_trigger=fpt) as stream:
        agg = windowed_count_stream([stream], key_col="event_type")
        return _drain(agg, spark, name, "append")


@register(
    "streaming_interval_join",
    """
    SELECT a.event_id AS view_id, b.event_id AS purchase_id, a.user_id
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 6 HOUR
     AND a.event_type = 'view' AND b.event_type = 'purchase'
    """,
    doc="Stream-stream interval join run THROUGH Structured Streaming: "
    "two watermarked file-stream replays of events (views / purchases) "
    "joined on user_id with a 6-hour event-time bound, availableNow "
    "drain — must equal the batch range join, so the same oracle "
    "applies. The time bound is what lets each side's buffered state "
    "be evicted as the other side's watermark advances.",
)
def q_streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_repartition_watermark_example_spark.streaming.join import (
        interval_join_views_purchases,
    )

    name = "stream_ij_" + uuid.uuid4().hex[:8]
    raw_schema = table_schema(spark, sf_dir, "events")

    src = os.path.join(sf_dir, "events.parquet")
    # pathGlobFilter matches leaf FILES: a directory-shaped table's
    # parts are *.parquet inside it, a flat testdata file is
    # events.parquet in sf_dir.
    base, glob = (src, "*.parquet") if os.path.isdir(src) else (sf_dir, "events.parquet")

    def side(event_type: str) -> DataFrame:
        raw = (
            spark.readStream.schema(raw_schema)
            .option("pathGlobFilter", glob)
            .parquet(base)
        )
        return ensure_event_time(raw).where(F.col("event_type") == event_type)

    joined = interval_join_views_purchases(side("view"), side("purchase"))
    return _drain(joined, spark, name, "append")


@register_extra(
    "streaming_sessionize",
    """
    WITH marked AS (
      SELECT user_id, ts,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL 30 MINUTE
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events),
    sessions AS (
      SELECT user_id, ts,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS session_id
      FROM marked)
    SELECT user_id, min(ts) AS session_start, count(*) AS n_events
    FROM sessions GROUP BY user_id, session_id
    """,
    doc="Custom stateful operator (applyInPandasWithState) run THROUGH "
    "Structured Streaming and value-checked: inactivity-gap "
    "sessionization with per-key state and event-time timeouts, "
    "drained over the close-sentinel replay so the watermark closes "
    "every session. Must equal the batch gaps-and-islands oracle — "
    "the same one that checks the built-in session_window query, so "
    "custom state logic, native operator, and SQL all agree.",
)
def q_streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_repartition_watermark_example_spark.streaming.stateful import sessionize

    name = "stream_sess_" + uuid.uuid4().hex[:8]
    with _replay(spark, sf_dir) as stream:
        return _drain(sessionize(stream, gap="30 minutes"), spark, name, "append")


@register_extra(
    "streaming_interval_join_outer",
    """
    SELECT a.event_id AS view_id, b.event_id AS purchase_id, a.user_id
    FROM events a LEFT JOIN events b
      ON a.user_id = b.user_id
     AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 6 HOUR
     AND b.event_type = 'purchase'
    WHERE a.event_type = 'view'
    """,
    doc="LEFT-OUTER stream-stream interval join run THROUGH Structured "
    "Streaming: every view emits exactly once — with its matching "
    "purchase, or with NULLs once the purchase-side watermark PROVES "
    "no match can arrive (watermark-driven finality, not "
    "absence-at-query-time). Needs typed close sentinels: the "
    "event-type filters sit below the watermark nodes, so each side's "
    "sentinel must carry that side's type to survive to the watermark "
    "collector; sentinel views are excluded from the output by an "
    "event-time predicate.",
)
def q_streaming_interval_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_repartition_watermark_example_spark.streaming.join import (
        interval_join_left_outer,
    )

    name = "stream_ijo_" + uuid.uuid4().hex[:8]
    # One replay dir PER SIDE: two readStreams over one identical path
    # share file-source bookkeeping, which left one side's watermark
    # stuck at its data max — separate dirs make the two sources (and
    # their sentinel-driven watermarks) fully independent.
    with (
        _replay(spark, sf_dir, "view") as views,
        _replay(spark, sf_dir, "purchase") as purchases,
    ):
        joined = interval_join_left_outer(views, purchases, keep_view_ts=True)
        out = drop_close_sentinels(joined, "view_ts").select(
            "view_id", "purchase_id", "user_id"
        )
        return _drain(out, spark, name, "append")


@register_extra(
    "streaming_dedup_union",
    """
    SELECT event_id, user_id, event_type
    FROM events
    """,
    doc="Watermark-scoped streaming exact dedup "
    "(dropDuplicatesWithinWatermark) proven end-to-end: the input is "
    "the UNION of two replays of the same event stream — every event "
    "arrives exactly twice — and the deduped output must equal the "
    "plain batch table, one row per event_id.  State is evicted as "
    "the watermark passes (O(keys-per-horizon), not O(all keys ever) "
    "— the only dedup shape that survives an unbounded stream).",
)
def q_streaming_dedup_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_repartition_watermark_example_spark.streaming.dedup import dedup_stream

    name = "stream_dd_" + uuid.uuid4().hex[:8]
    raw_schema = table_schema(spark, sf_dir, "events")
    src = os.path.join(sf_dir, "events.parquet")
    base, glob = (
        (src, "*.parquet") if os.path.isdir(src) else (sf_dir, "events.parquet")
    )

    def replay() -> DataFrame:
        return (
            spark.readStream.schema(raw_schema)
            .option("pathGlobFilter", glob)
            .parquet(base)
        )

    doubled = replay().unionByName(replay())
    deduped = dedup_stream(doubled, id_cols=["event_id"], watermark_delay="1 hour")
    return _drain(
        deduped.select("event_id", "user_id", "event_type"), spark, name, "append"
    )
