"""Custom stateful operator (applyInPandasWithState sessionization)
must agree with the built-in session_window on the same bounded input.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from flink_repartition_watermark_example_spark.sources.tables import load_table
from flink_repartition_watermark_example_spark.streaming.replica import (
    write_close_sentinel,
)
from flink_repartition_watermark_example_spark.streaming.stateful import sessionize
import pytest

pytestmark = pytest.mark.slow  # streaming replays: minute-class


def test_custom_sessionize_equals_builtin(spark, sf_dir, tmp_path):
    src = str(tmp_path / "events_stream")
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    # sorted single file so event time is in arrival order, then the
    # close sentinels: the first advances the watermark past every open
    # session's gap horizon, the second drives the batch in which the
    # event-time timeouts fire.  sessionize drops the sentinel rows
    # after its watermark, so none of them opens a session.
    ev.orderBy("ts").coalesce(1).write.parquet(src)
    schema = write_close_sentinel(spark, src)

    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    out = sessionize(stream, gap="30 minutes")
    q = (
        out.writeStream.format("memory")
        .queryName("sessions_custom")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    custom = sorted(
        map(tuple, spark.sql("select * from sessions_custom").collect())
    )

    builtin = sorted(
        map(
            tuple,
            ev.groupBy(F.session_window("ts", "30 minutes"), "user_id")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(
                "user_id",
                F.col("session_window.start").alias("session_start"),
                "n_events",
            )
            .collect(),
        )
    )
    assert custom == builtin

