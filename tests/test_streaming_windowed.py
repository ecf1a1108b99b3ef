"""Event-time windowed aggregation (watermark) and session windows."""

import json
import os

from pyspark.sql import functions as F

from source_flink_cdc_3_5_0_spark.streaming.windowed import windowed_counts


def test_windowed_counts_stream_equals_batch(spark, tmp_path):
    """The streaming windowed agg (availableNow) must produce exactly the
    batch plan's result on the same data — one code path, two modes."""
    src = str(tmp_path / "in")
    os.makedirs(src)
    rows = [(i, f"2024-01-01 0{i % 3}:1{i % 6}:00", "click" if i % 2 else "view",
             float(i)) for i in range(30)]
    with open(os.path.join(src, "a.jsonl"), "w") as f:
        for r in rows:
            f.write(json.dumps(
                {"event_id": r[0], "ts": r[1], "event_type": r[2],
                 "value": r[3]}) + "\n")
    schema = ("event_id LONG, ts STRING, event_type STRING, value DOUBLE")
    batch = (spark.read.schema(schema).json(src)
             .withColumn("ts", F.to_timestamp("ts")))
    stream = (spark.readStream.schema(schema).json(src)
              .withColumn("ts", F.to_timestamp("ts")))
    expected = sorted(
        tuple(r) for r in windowed_counts(batch, window="1 hour").collect())

    q = (windowed_counts(stream, window="1 hour")
         .writeStream.format("memory").queryName("win_counts")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = sorted(tuple(r) for r in spark.table("win_counts").collect())
    assert got == expected and len(got) > 0


def test_sample_frames_null_duration(spark):
    """NULL duration_ms (NaN in pandas) must yield one frame, not crash."""
    from pyspark.sql import Row
    from source_flink_cdc_3_5_0_spark.extensions.multimodal import (
        MEDIA_SCHEMA, sample_frames)

    rows = [Row(media_id=0, kind="video", payload=bytearray(b"x"),
                mime="application/x-video", width=None, height=None,
                duration_ms=None)]
    out = sample_frames(spark.createDataFrame(rows, MEDIA_SCHEMA)).collect()
    assert len(out) == 1 and out[0].frame_idx == 0


def test_streaming_session_window_with_watermark(spark, tmp_path):
    """session_window in a REAL stream (rate-less file source, watermark,
    append mode): closed sessions emit once and match the batch
    session_window over the same rows — the one-plan-batch-and-stream
    property the operator is used for."""
    import os

    from pyspark.sql import functions as F

    src = str(tmp_path / "sess_in")
    os.makedirs(src)
    rows = [
        (1, "2024-01-01 00:00:00", 2.0),
        (1, "2024-01-01 00:10:00", 3.0),   # same session (gap < 30m)
        (1, "2024-01-01 02:00:00", 5.0),   # new session
        (2, "2024-01-01 00:05:00", 7.0),
        # late watermark driver: far-future event closes everything prior
        (9, "2024-01-02 12:00:00", 0.0),
    ]
    with open(os.path.join(src, "p.jsonl"), "w") as f:
        for u, ts, v in rows:
            f.write('{"user_id": %d, "ts": "%s", "value": %s}\n' % (u, ts, v))
    schema = "user_id long, ts timestamp, value double"
    stream = (spark.readStream.schema(schema).json(src)
              .withWatermark("ts", "1 hour")
              .groupBy("user_id", F.session_window("ts", "30 minutes"))
              .agg(F.count(F.lit(1)).alias("n"),
                   F.sum("value").alias("s")))
    q = (stream.writeStream.format("memory").queryName("sess_out")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r["user_id"], r["session_window"]["start"].isoformat(),
            r["n"], r["s"])
           for r in spark.sql("SELECT * FROM sess_out").collect()}
    batch = (spark.createDataFrame(
                 [(u, ts, v) for u, ts, v in rows],
                 "user_id long, ts string, value double")
             .withColumn("ts", F.col("ts").cast("timestamp"))
             .groupBy("user_id", F.session_window("ts", "30 minutes"))
             .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s")))
    want = {(r["user_id"], r["session_window"]["start"].isoformat(),
             r["n"], r["s"])
            for r in batch.collect()
            if r["user_id"] != 9}  # the watermark driver's own session
                                   # stays open in append mode
    assert want <= got  # every closed session matches the batch plan
    assert {(u, s) for u, s, *_ in got if u == 1} == \
           {(u, s) for u, s, *_ in want if u == 1}
