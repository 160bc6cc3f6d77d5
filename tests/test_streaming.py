"""Structured Streaming helpers: the tumbling window aggregate, in-stream
dedup within the watermark, and the stream-static enrichment join."""

from __future__ import annotations

import datetime
import os

from pyspark.sql import types as T

from neynar_parquet_importer_spark.streaming import streaming_window_counts


def test_streaming_window_counts(spark, tmp_path):
    src = str(tmp_path / "events")
    os.makedirs(src)
    schema = T.StructType(
        [T.StructField("ts", T.TimestampType()), T.StructField("v", T.LongType())]
    )
    base = datetime.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(base + datetime.timedelta(minutes=m), m) for m in (0, 10, 70, 80, 130)],
        schema,
    )
    df.coalesce(1).write.mode("overwrite").parquet(src)

    counts = streaming_window_counts(spark, src, schema, ts_col="ts", window_duration="1 hour")
    q = (
        counts.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {
        r["window"]["start"].minute + r["window"]["start"].hour * 60: r["count"]
        for r in spark.sql("select * from win_counts").collect()
    }
    assert rows == {0: 2, 60: 2, 120: 1}


def test_streaming_dedup_within_watermark(spark, tmp_path):
    from neynar_parquet_importer_spark.streaming.pipeline import streaming_dedup

    src = str(tmp_path / "dupsrc")
    os.makedirs(src)
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("v", T.LongType()),
        ]
    )
    base = datetime.datetime(2024, 1, 1)
    rows = [
        (1, base, 10),
        (1, base + datetime.timedelta(minutes=1), 11),  # dup id within horizon
        (2, base + datetime.timedelta(minutes=2), 20),
        (2, base + datetime.timedelta(minutes=2), 20),  # exact dup
        (3, base + datetime.timedelta(minutes=3), 30),
    ]
    spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite").parquet(src)
    out = streaming_dedup(spark, src, schema, id_cols=["event_id"], watermark="1 hour")
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT event_id FROM dedup_stream").collect()
    assert sorted(r.event_id for r in got) == [1, 2, 3]


def test_streaming_enrich_stream_static_join(spark, tmp_path):
    from neynar_parquet_importer_spark.streaming.pipeline import streaming_enrich

    src = str(tmp_path / "esrc")
    os.makedirs(src)
    schema = T.StructType(
        [T.StructField("user_id", T.LongType()), T.StructField("v", T.LongType())]
    )
    spark.createDataFrame([(1, 100), (2, 200), (9, 900)], schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(src)
    dim = spark.createDataFrame(
        [(1, "gold"), (2, "silver")], "user_id long, tier string"
    )
    stream = spark.readStream.schema(schema).parquet(src)
    out = streaming_enrich(stream, dim, on=["user_id"])
    q = (
        out.writeStream.format("memory")
        .queryName("enriched_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r.user_id: r.tier for r in spark.sql("SELECT * FROM enriched_stream").collect()}
    assert got == {1: "gold", 2: "silver", 9: None}  # left join keeps unmatched
