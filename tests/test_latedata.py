"""H4/H5: watermark late-data drop in the windowed aggregates, and the
stateless current-values upsert under duplicate and late rows — file-source
golden tests with controlled micro-batch ordering."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F
from pyspark.sql import types as T

SCHEMA = T.StructType(
    [
        T.StructField("server", T.StringType()),
        T.StructField("tag", T.StringType()),
        T.StructField("doubleValue", T.DoubleType()),
        T.StructField("sourceTimestamp", T.TimestampType()),
        T.StructField("serverTimestamp", T.TimestampType()),
        T.StructField("quality", T.IntegerType()),
    ]
)


def _rows(spark, rows):
    return spark.createDataFrame(
        [
            ("s1", tag, v, datetime.fromisoformat(ts), datetime.fromisoformat(ts), 192)
            for tag, v, ts in rows
        ],
        SCHEMA,
    )


def test_watermark_drops_late_rows(spark, tmp_path):
    """An event older than the watermark must NOT be counted — the designed
    divergence from the reference's last-arrival-wins (Program.cs:1179-1182,
    no sourceTimestamp comparison; SURVEY.md §2.1 end)."""
    src = tmp_path / "src"
    src.mkdir()

    # batch 1: window 10:00-10:10 gets 2 rows; 11:00 row pushes watermark past it
    _rows(
        spark,
        [
            ("t1", 1.0, "2024-01-01 10:01:00"),
            ("t1", 2.0, "2024-01-01 10:02:00"),
            ("t1", 9.0, "2024-01-01 11:00:00"),
        ],
    ).coalesce(1).write.parquet(str(src / "b1"))

    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    agg = (
        stream.withWatermark("sourceTimestamp", "1 minute")
        .groupBy(F.window("sourceTimestamp", "10 minutes").alias("w"), "tag")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "tag", "n")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("late_agg")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: a LATE row for the already-closed 10:00 window
        _rows(spark, [("t1", 100.0, "2024-01-01 10:03:00")]).coalesce(1).write.parquet(
            str(src / "b2")
        )
        q.processAllAvailable()
        # batch 3: advance watermark far so everything else flushes
        _rows(spark, [("t1", 5.0, "2024-01-01 12:00:00")]).coalesce(1).write.parquet(
            str(src / "b3")
        )
        q.processAllAvailable()
        got = {
            (r.ws, r.tag): r.n for r in spark.sql("select * from late_agg").collect()
        }
    finally:
        q.stop()

    w10 = (datetime.fromisoformat("2024-01-01 10:00:00"), "t1")
    assert got[w10] == 2  # late row at 10:03 was dropped, count stays 2


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """H5 on the shipped path: the stateless upsert into the
    current-values store, fed two file micro-batches. An exact duplicate
    (server, tag, serverTimestamp) collapses to one row, and a t1 row
    older than the stored one by more than the windowed aggregates'
    1-minute watermark does not overwrite it — the store keeps the
    max-serverTimestamp row per key at any lateness, with no streaming
    state."""
    from opc2mongodb_spark.streaming.sinks import CurrentValuesStore, upsert_query

    src = tmp_path / "src"
    src.mkdir()
    _rows(
        spark,
        [
            ("t1", 1.0, "2024-01-01 10:00:00"),
            ("t1", 1.0, "2024-01-01 10:00:00"),  # exact duplicate
            ("t2", 3.0, "2024-01-01 10:00:30"),
        ],
    ).coalesce(1).write.parquet(str(src / "b1"))

    store = CurrentValuesStore(str(tmp_path / "current_values"))
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    q = upsert_query(stream, store, str(tmp_path / "ckpt2")).start()
    try:
        q.processAllAvailable()
        # batch 2: a LATE t1 row, 2 minutes older than the stored one
        _rows(spark, [("t1", 100.0, "2024-01-01 09:58:00")]).coalesce(
            1
        ).write.parquet(str(src / "b2"))
        q.processAllAvailable()
        batches = [p for p in q.recentProgress if p.numInputRows > 0]
    finally:
        q.stop()
    assert [p.numInputRows for p in batches] == [3, 1]
    assert all(not p.stateOperators for p in batches)

    rows = store.read(spark).collect()
    keys = [(r.server, r.tag) for r in rows]
    assert len(keys) == len(set(keys)) == 2
    t1 = next(r for r in rows if r.tag == "t1")
    assert t1.doubleValue == 1.0
    assert t1.serverTimestamp == datetime.fromisoformat("2024-01-01 10:00:00")


def test_observability_metrics(spark, tmp_path):
    """R11: observe() metrics + progress listener fire per micro-batch."""
    import time

    from opc2mongodb_spark.streaming.observability import (
        ConsoleProgressListener,
        with_metrics,
    )

    src = tmp_path / "src"
    src.mkdir()
    _rows(
        spark,
        [
            ("t1", 1.0, "2024-01-01 10:00:00"),
            ("t2", 2.0, "2024-01-01 10:00:10"),
        ],
    ).coalesce(1).write.parquet(str(src / "b1"))

    listener = ConsoleProgressListener(log_progress=False)
    spark.streams.addListener(listener)
    try:
        stream = with_metrics(
            spark.readStream.schema(SCHEMA).parquet(str(src / "*"))
        )
        q = (
            stream.writeStream.format("memory")
            .queryName("observed")
            .option("checkpointLocation", str(tmp_path / "ckpt3"))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        deadline = time.time() + 10
        while time.time() < deadline and sum(listener.progress_rows) < 2:
            time.sleep(0.2)  # listener events are async
        assert sum(listener.progress_rows) >= 2
    finally:
        spark.streams.removeListener(listener)
