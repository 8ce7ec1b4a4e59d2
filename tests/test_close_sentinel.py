"""The end-of-input protocol of streaming/replica.py: two far-future
close-sentinel files per source advance its watermark past every real
window, and a cutoff on the event-time column drops them before
aggregation.

1. The one sentinel writer lands its rows at ``FLUSH_TS`` and one day
   later on every ts encoding the testdata has shipped (int64 epoch
   nanos, ``TIMESTAMP_NTZ``, ``TIMESTAMP``), so a drain emits every
   window, counts only real rows and shows no sentinel row.
2. No other module of the package or of ``examples/`` writes the
   sentinel times or the cutoff: a second copy is how a wrong writer
   (epoch seconds read as nanos) went unnoticed.
"""

from __future__ import annotations

import os
import re
from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from flink_repartition_watermark_example_spark.streaming import replica
from flink_repartition_watermark_example_spark.streaming.eventtime import (
    ensure_event_time,
)
from flink_repartition_watermark_example_spark.streaming.replica import (
    FLUSH_TS,
    windowed_count_stream,
    write_close_sentinel,
)

# ts column, built from a TIMESTAMP, in each encoding the testdata has
# shipped
ENCODINGS = {
    "int64_nanos": lambda ts: F.unix_micros(ts) * 1000,
    "timestamp_ntz": lambda ts: ts.cast("timestamp_ntz"),
    "timestamp": lambda ts: ts,
}


@pytest.mark.slow  # one streaming drain per encoding
@pytest.mark.parametrize("encoding", sorted(ENCODINGS))
def test_close_sentinels_flush_every_window(spark, tmp_path, encoding):
    d = str(tmp_path / "src")
    for h in (10, 11):  # one file per event-time hour, in order
        rows = [("u", f"2016-02-01 {h}:{m:02d}:00") for m in range(0, 60, 10)]
        spark.createDataFrame(rows, ["url", "s"]).select(
            "url", ENCODINGS[encoding](F.col("s").cast("timestamp")).alias("ts")
        ).coalesce(1).write.mode("append").parquet(d)
    write_close_sentinel(spark, d)
    schema = spark.read.parquet(d).schema

    sentinels = (
        ensure_event_time(spark.read.parquet(d))
        .where(~F.col("url").eqNullSafe("u"))
        .select(F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("at"))
        .orderBy("at")
    )
    flush = datetime.fromisoformat(FLUSH_TS)
    assert [r.at for r in sentinels.collect()] == [
        str(flush),
        str(flush + timedelta(days=1)),
    ]

    src = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(d)
    emitted = []
    q = (
        windowed_count_stream([src])
        .writeStream.outputMode("append")
        .foreachBatch(
            lambda df, _: emitted.extend(
                df.select(F.hour("window_start"), "url", "aggregate").collect()
            )
        )
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination()
    assert sorted(map(tuple, emitted)) == [(10, "u", 6), (11, "u", 6)]


def test_only_replica_knows_the_sentinel_times():
    """The sentinel times and the cutoff are written in
    streaming/replica.py only; every other module calls its writer and
    its drop."""
    package = os.path.dirname(os.path.dirname(replica.__file__))
    examples = os.path.join(os.path.dirname(package), "examples")
    times = re.compile(r"2100-01-0[12]|2099-01-01")
    offenders, scanned = [], 0
    for top in (package, examples):
        for root, _, files in os.walk(top):
            for f in files:
                path = os.path.join(root, f)
                if not f.endswith(".py") or path == replica.__file__:
                    continue
                scanned += 1
                with open(path) as fh:
                    offenders += [
                        f"{path}:{i}" for i, line in enumerate(fh, 1) if times.search(line)
                    ]
    assert scanned > 20 and not offenders, offenders
