"""Structured Streaming surface tests: foreachBatch WCC + windowed aggs."""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from community_detection_flink_spark.sources.edges import symmetrize_edges
from community_detection_flink_spark.operators.incremental import prepare
from community_detection_flink_spark.streaming.incremental_stream import run_stream
from community_detection_flink_spark.streaming.windows import (
    session_agg,
    tumbling_agg,
)


def test_run_stream_foreachbatch(spark, golden_edges):
    src_dir = tempfile.mkdtemp(prefix="cdfs-stream-src-")
    ckpt = tempfile.mkdtemp(prefix="cdfs-stream-ckpt-")
    # stream = a new 4-clique attached to vertex 7
    new_clique = [(7, 10), (7, 11), (7, 12), (10, 11), (10, 12), (11, 12)]
    sym = symmetrize_edges(spark.createDataFrame(new_clique, "src LONG, dst LONG"))
    sym.write.mode("overwrite").parquet(src_dir)

    state0 = prepare(symmetrize_edges(golden_edges))
    handle = run_stream(spark, src_dir, state0, ckpt)
    handle.await_termination(120)
    state = handle.state
    got = {r["vId"]: r["cId"] for r in state.vertices.collect()}
    assert got[10] == got[11] == got[12]
    assert state.vertex_count == 11


def test_streaming_window_agg_matches_batch(spark):
    """The same windowing functions run on a stream (readStream +
    watermark) and on the batch frame must agree."""
    import datetime

    rows = [
        (i, datetime.datetime(2024, 1, 1, 0, 0, 0)
         + datetime.timedelta(minutes=7 * i), i % 3, "a" if i % 2 else "b", 1.5 * i)
        for i in range(40)
    ]
    events = spark.createDataFrame(
        rows, "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE"
    )
    src_dir = tempfile.mkdtemp(prefix="cdfs-ev-src-")
    ckpt = tempfile.mkdtemp(prefix="cdfs-ev-ckpt-")
    events.write.mode("overwrite").parquet(src_dir)

    stream = (
        spark.readStream.schema(
            "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE"
        )
        .parquet(src_dir)
        .withWatermark("ts", "2 hours")
    )
    out = tumbling_agg(stream, 60)
    # complete mode: append would hold back windows newer than the
    # final watermark, which never advances past end-of-stream
    q = (
        out.writeStream.format("memory")
        .queryName("tumbling_out")
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(map(tuple, spark.sql("SELECT * FROM tumbling_out").collect()))
    want = sorted(map(tuple, tumbling_agg(events, 60).collect()))
    assert got == want

    # session windows also compile & run on the batch frame
    sess = session_agg(events, 30).collect()
    assert len(sess) > 0


def test_interval_join_stream_matches_batch(spark):
    """interval_join run as a real stream-stream join (two watermarked
    file streams, append mode) must emit exactly the batch answer."""
    import datetime

    from community_detection_flink_spark.streaming.windows import interval_join

    base = datetime.datetime(2024, 1, 1)
    lrows = [
        (i, base + datetime.timedelta(minutes=10 * i), i % 2) for i in range(6)
    ]
    rrows = [
        (100 + i, base + datetime.timedelta(minutes=3 + 5 * i), i % 2)
        for i in range(10)
    ]
    schema = "event_id LONG, ts TIMESTAMP, user_id LONG"
    ldf = spark.createDataFrame(lrows, schema)
    rdf = spark.createDataFrame(rrows, schema)
    want = {
        (r.user_id, r.left_id, r.right_id, r.lag_us)
        for r in interval_join(ldf, rdf).collect()
    }
    assert want  # non-vacuous fixture

    ldir = tempfile.mkdtemp(prefix="cdfs-ivj-l-")
    rdir = tempfile.mkdtemp(prefix="cdfs-ivj-r-")
    ckpt = tempfile.mkdtemp(prefix="cdfs-ivj-ckpt-")
    ldf.write.mode("overwrite").parquet(ldir)
    rdf.write.mode("overwrite").parquet(rdir)
    ls = spark.readStream.schema(schema).parquet(ldir).withWatermark("ts", "1 hour")
    rs = spark.readStream.schema(schema).parquet(rdir).withWatermark("ts", "1 hour")
    q = (
        interval_join(ls, rs)
        .writeStream.format("memory")
        .queryName("ivj_out")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r.user_id, r.left_id, r.right_id, r.lag_us)
            for r in spark.table("ivj_out").collect()
        }
    finally:
        q.stop()
    assert got == want
