"""Streaming query registration for the driver contract.

``streaming_windowed_count`` exercises Structured Streaming inside the
correctness gate with the reference's actual emission contract
(S10, reference README.md:54-58): **append** output mode — each
key+window row is emitted exactly once, when the watermark passes the
window end, and its state is evicted.  A bounded file replay has no
end-of-input watermark in Spark (Flink sources emit
Watermark(Long.MaxValue) on close), so the replay dir carries two
far-future close-sentinel files, written last: they advance the
source watermark past every real window and are dropped before
aggregation by a predicate on the event-time column (see
streaming/replica.py for why the predicate must be on that column).
The drained result must equal the plain batch GROUP BY, so the DuckDB
oracle applies.

All streaming queries here (windowed count, interval join, and the
sessionize extra) return the memory-sink table directly — no
driver-side collect/createDataFrame round-trip; the sink table lives
in the session as a uuid-named temp view.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_repartition_watermark_example_spark.queries import register, register_extra
from flink_repartition_watermark_example_spark.sources.tables import load_table

# Sentinel event times and the cutoff that excludes them from
# aggregation while still letting them advance the watermark.  The
# parquet ts column has shipped both as int64 epoch nanos and as
# TIMESTAMP(MICROS); sentinels are built against whichever type the
# file declares (epoch nanos for long, a wall-clock string cast for
# timestamp — session timezone is pinned UTC so both are the same
# instants).
_SENTINEL_TIMES = ("2100-01-01 00:00:00", "2100-01-02 00:00:00")
_CUTOFF = "2099-01-01 00:00:00"

# `import ... as T` lives here (not at top) to keep the public imports
# of this module unchanged.
from pyspark.sql import types as T  # noqa: E402


def _sentinel_lit(dtype, ts_str: str):
    """A ts-typed literal for a close sentinel: epoch nanos for the
    legacy int64-nanos encoding, else the string cast to the column's
    own timestamp type (NTZ or LTZ — UTC session tz either way)."""
    if isinstance(dtype, T.LongType):
        import calendar
        import time

        secs = calendar.timegm(time.strptime(ts_str, "%Y-%m-%d %H:%M:%S"))
        return F.lit(secs * 10**9)
    return F.lit(ts_str).cast(dtype)


def _event_ts(df: DataFrame) -> DataFrame:
    """Normalize the raw ts column to a watermark-compatible
    ``TIMESTAMP`` (legacy int64 nanos rescaled, NTZ relabeled under
    the UTC session tz — streaming/eventtime.py)."""
    from flink_repartition_watermark_example_spark.streaming.eventtime import (
        ensure_event_time,
    )

    return ensure_event_time(df)


def _cutoff_lit(df: DataFrame):
    """The sentinel-exclusion cutoff, cast to the ts column's own type
    so the comparison never needs an implicit NTZ/LTZ coercion."""
    return F.lit(_CUTOFF).cast(df.schema["ts"].dataType)


def _replay_dir(
    spark: SparkSession,
    sf_dir: str,
    raw_schema,
    sentinel_event_types: tuple[str, ...] | None = None,
    files_per_trigger: int = 1,
) -> str:
    """Stage a file-stream replay dir: the events file plus two close-
    sentinel files written afterwards (the file source orders batches
    by modification time, so sentinels replay last).

    ``sentinel_event_types``: by default sentinel rows carry NULL in
    every column but ts; queries that FILTER on event_type before
    their watermark node (the two-sided interval joins) would drop
    such sentinels below EventTimeWatermark — for those, each sentinel
    file carries one row per listed type so every side's filter keeps
    its own close signal.  Typed sentinels also carry user_id = -1
    (non-null, matches no real user): Catalyst infers
    ``isnotnull(user_id)`` from a join's equi-key on the non-preserved
    side and pushes it into the scan, which would silently drop an
    all-NULL sentinel below the watermark node — observed as the
    purchase-side watermark freezing at its data max while the view
    side advanced."""
    d = tempfile.mkdtemp(prefix="stream_replay_")
    try:
        src = os.path.join(sf_dir, "events.parquet")
        # Single-file testdata or a directory-shaped table (Spark's own
        # multi-part write, e.g. the generated sf1 scale data) — either
        # way the data files land first in mtime order, sentinels after.
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
        for ts_str in _SENTINEL_TIMES:

            def row(event_type: str | None):
                def col(f):
                    if f.name == "ts":
                        return _sentinel_lit(f.dataType, ts_str).alias(f.name)
                    if f.name == "event_type":
                        return F.lit(event_type).cast(f.dataType).alias(f.name)
                    if f.name == "user_id" and event_type is not None:
                        # non-null join key that matches no real user —
                        # survives inferred isnotnull pushdown (see doc)
                        return F.lit(-1).cast(f.dataType).alias(f.name)
                    return F.lit(None).cast(f.dataType).alias(f.name)

                return spark.range(1).select(
                    *[col(f) for f in raw_schema.fields]
                )

            if sentinel_event_types:
                sent = row(sentinel_event_types[0])
                for et in sentinel_event_types[1:]:
                    sent = sent.unionByName(row(et))
            else:
                sent = row(None)
            # With maxFilesPerTrigger = k > 1 the flush contract needs
            # a batch BOUNDARY between the two sentinels (the second
            # sentinel's batch flushes windows the first closed; if
            # both share a batch, the tail windows stay in state
            # forever under availableNow).  k copies of the FIRST
            # sentinel guarantee it: ceil((P+1+k)/k) = ceil((P+1)/k)+1,
            # so sentinel 2 always lands at least one batch after the
            # first sentinel-1 file.  Duplicate sentinel rows are
            # dropped by the cutoff predicate before aggregation.
            copies = files_per_trigger if ts_str == _SENTINEL_TIMES[0] else 1
            for _ in range(copies):
                sent.coalesce(1).write.mode("append").parquet(d)
        return d
    except BaseException:
        shutil.rmtree(d, ignore_errors=True)
        raise


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
    load_table(spark, sf_dir, "events")  # sets the nanosAsLong conf
    name = "stream_wc_" + uuid.uuid4().hex[:8]
    raw_schema = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).schema
    # SPARK_GRAFT_STREAM_FPT batches k files per micro-batch: at sf100
    # the events table is ~250 part files, and with k=1 the drain is
    # linear in BATCH COUNT (per-trigger state commit + planning
    # overhead), measuring the harness rather than throughput.  The
    # replay dir pads sentinel-1 copies so the two-sentinel flush
    # contract survives any k (see _replay_dir).
    fpt = max(1, int(os.environ.get("SPARK_GRAFT_STREAM_FPT", "1")))
    replay = _replay_dir(spark, sf_dir, raw_schema, files_per_trigger=fpt)
    try:
        stream = (
            spark.readStream.schema(raw_schema)  # ts arrives as long nanos
            .option("pathGlobFilter", "*.parquet")
            # k files per micro-batch: data, then each sentinel — the
            # second sentinel batch flushes windows closed by the first
            # (emission happens at the start of the batch AFTER the
            # watermark advances; availableNow runs no no-data batch).
            .option("maxFilesPerTrigger", fpt)
            .parquet(replay)
        )
        stream = _event_ts(stream).withWatermark("ts", "0 seconds")
        # Drop sentinels AFTER the watermark node; the predicate is
        # on the event-time column so Catalyst keeps it above
        # EventTimeWatermark (streaming/replica.py).
        stream = stream.where(F.col("ts") < _cutoff_lit(stream))
        agg = (
            stream.groupBy(F.window("ts", "1 hour"), "event_type")
            .agg(F.count(F.lit(1)).alias("aggregate"))
            .select(
                F.col("window.start").alias("window_start"),
                F.col("window.end").alias("window_end"),
                "event_type",
                "aggregate",
            )
        )
        return _drain(agg, spark, name, "append")
    finally:
        shutil.rmtree(replay, ignore_errors=True)


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

    load_table(spark, sf_dir, "events")  # sets the nanosAsLong conf
    name = "stream_ij_" + uuid.uuid4().hex[:8]
    raw_schema = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).schema

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
        return _event_ts(raw).where(F.col("event_type") == event_type)

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

    load_table(spark, sf_dir, "events")  # sets the nanosAsLong conf
    name = "stream_sess_" + uuid.uuid4().hex[:8]
    raw_schema = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).schema
    replay = _replay_dir(spark, sf_dir, raw_schema)
    try:
        stream = _event_ts(
            spark.readStream.schema(raw_schema)
            .option("pathGlobFilter", "*.parquet")
            .option("maxFilesPerTrigger", 1)
            .parquet(replay)
        )
        sess = sessionize(stream, gap="30 minutes", drop_after=_CUTOFF)
        return _drain(sess, spark, name, "append")
    finally:
        shutil.rmtree(replay, ignore_errors=True)


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

    load_table(spark, sf_dir, "events")  # sets the nanosAsLong conf
    name = "stream_ijo_" + uuid.uuid4().hex[:8]
    raw_schema = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).schema
    # One replay dir PER SIDE: two readStreams over one identical path
    # share file-source bookkeeping, which left one side's watermark
    # stuck at its data max — separate dirs make the two sources (and
    # their sentinel-driven watermarks) fully independent.
    replays = {
        et: _replay_dir(spark, sf_dir, raw_schema, sentinel_event_types=(et,))
        for et in ("view", "purchase")
    }
    try:

        def side(event_type: str) -> DataFrame:
            raw = (
                spark.readStream.schema(raw_schema)
                .option("pathGlobFilter", "*.parquet")
                .option("maxFilesPerTrigger", 1)
                .parquet(replays[event_type])
            )
            return _event_ts(raw).where(F.col("event_type") == event_type)

        joined = interval_join_left_outer(
            side("view"), side("purchase"), keep_view_ts=True
        )
        out = joined.where(
            F.col("view_ts") < F.lit(_CUTOFF).cast("timestamp")
        ).select("view_id", "purchase_id", "user_id")
        return _drain(out, spark, name, "append")
    finally:
        for d in replays.values():
            shutil.rmtree(d, ignore_errors=True)


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

    load_table(spark, sf_dir, "events")  # sets the nanosAsLong conf
    name = "stream_dd_" + uuid.uuid4().hex[:8]
    raw_schema = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).schema
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


def q_streaming_sessionize_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sessionization operator on Spark 4's
    transformWithStateInPandas (typed ValueState + explicit event-time
    timers — the successor stateful extension point to
    applyInPandasWithState), over the same close-sentinel replay.

    NOT in the query registry: the TWS Python runner needs
    google.protobuf, absent in this container (streaming/tws.py
    docstring) — tests/test_tws.py runs the oracle comparison where
    the dependency exists and asserts the explicit guard where it
    doesn't, mirroring the Kafka-source gating."""
    from flink_repartition_watermark_example_spark.streaming.tws import sessionize_tws

    load_table(spark, sf_dir, "events")  # sets the nanosAsLong conf
    name = "stream_tws_" + uuid.uuid4().hex[:8]
    raw_schema = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).schema
    replay = _replay_dir(spark, sf_dir, raw_schema)
    try:
        stream = _event_ts(
            spark.readStream.schema(raw_schema)
            .option("pathGlobFilter", "*.parquet")
            .option("maxFilesPerTrigger", 1)
            .parquet(replay)
        )
        sess = sessionize_tws(stream, gap="30 minutes", drop_after=_CUTOFF)
        return _drain(sess, spark, name, "append")
    finally:
        shutil.rmtree(replay, ignore_errors=True)
