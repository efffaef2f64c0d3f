"""Golden micro-batch tests (SURVEY.md §5.2): streaming results must equal
the batch computation over the same data — the same expressions power both."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

CONF = os.path.join(os.path.dirname(__file__), "fixtures", "opcsim.conf")


def _raw_stream(spark):
    from opc2mongodb_spark.sources.opc import register

    register(spark)
    return (
        spark.readStream.format("opcsim")
        .option("config", CONF)
        .option("sweeps_per_batch", 4)
        .load()
    )


def _raw_batch(spark, sweeps: int):
    from opc2mongodb_spark.sources.opc import register

    register(spark)
    return (
        spark.read.format("opcsim")
        .option("config", CONF)
        .option("sweeps", sweeps)
        .load()
    )


def test_tumbling_stream_equals_batch(spark, tmp_path):
    """H1 golden: streaming tumbling counts == batch groupBy(window) over the
    same sweeps (complete output mode)."""
    from opc2mongodb_spark.opcmodel import raw_to_opc_values
    from opc2mongodb_spark.streaming.pipeline import tumbling_counts

    stream = tumbling_counts(raw_to_opc_values(_raw_stream(spark)), "10 minutes")
    q = (
        stream.writeStream.format("memory")
        .queryName("tumbling")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r.bucket_start, r.tag): (r.n, r.total)
            for r in spark.sql("select * from tumbling").collect()
        }
        # how many sweeps did the stream consume so far?
        n_rows = spark.sql("select sum(n) from tumbling").first()[0]
    finally:
        q.stop()

    sweeps = int(n_rows) // 9  # 9 supported tags per sweep
    batch = raw_to_opc_values(_raw_batch(spark, sweeps))
    expected = {
        (r.bucket_start, r.tag): (r.n, r.total)
        for r in (
            batch.groupBy(F.window("sourceTimestamp", "10 minutes").alias("w"), "tag")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("doubleValue").alias("total"))
            .select(F.col("w.start").alias("bucket_start"), "tag", "n", "total")
        ).collect()
    }
    assert set(got) == set(expected)
    for k in expected:
        assert got[k][0] == expected[k][0], k
        # relative tolerance: datetime-tick doubles are ~1e19, where one ulp
        # is ~2048 and summation order legitimately varies
        assert abs(got[k][1] - expected[k][1]) <= 1e-9 * max(1.0, abs(expected[k][1])), k


def test_session_and_sliding_smoke(spark, tmp_path):
    """H2/H3: sliding + session window streaming queries run and produce
    sane shapes (golden value check is the tumbling test; these share the
    same agg machinery)."""
    from opc2mongodb_spark.opcmodel import raw_to_opc_values
    from opc2mongodb_spark.streaming.pipeline import session_activity, sliding_avg

    opc = raw_to_opc_values(_raw_stream(spark))
    for name, dfq in [
        ("sliding", sliding_avg(opc)),
        ("sessions", session_activity(opc)),
    ]:
        q = (
            dfq.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
            .start()
        )
        try:
            q.processAllAvailable()
            rows = spark.sql(f"select * from {name}").collect()
        finally:
            q.stop()
        assert len(rows) > 0
    # session windows must not overlap per server
    sess = spark.sql("select * from sessions").collect()
    by_server: dict[str, list] = {}
    for r in sess:
        by_server.setdefault(r.server, []).append((r.sess_start, r.sess_end))
    for spans in by_server.values():
        spans.sort()
        for (s1, e1), (s2, _) in zip(spans, spans[1:]):
            assert e1 <= s2


def test_current_values_store_upsert(spark, tmp_path):
    """A3/H5 golden: after streaming N sweeps through the upsert sink, the
    store holds exactly one row per (server, tag) — the event-time latest —
    matching a batch last_value_per_key over the same sweeps."""
    from opc2mongodb_spark.opcmodel import raw_to_opc_values
    from opc2mongodb_spark.operators.last_value import last_value_per_key
    from opc2mongodb_spark.streaming.sinks import CurrentValuesStore, upsert_query

    store = CurrentValuesStore(str(tmp_path / "current_values"))
    opc = raw_to_opc_values(_raw_stream(spark))
    q = upsert_query(opc, store, str(tmp_path / "ckpt_upsert"))
    sq = q.start()
    try:
        sq.processAllAvailable()
        sq.processAllAvailable()
    finally:
        sq.stop()

    state = store.read(spark)
    assert state is not None
    rows = state.collect()
    keys = [(r.server, r.tag) for r in rows]
    assert len(keys) == len(set(keys)) == 9  # one row per live key

    # value parity: replay the same sweeps in batch and compare. Sweep
    # cadence differs per server (read_period 10 vs 5), so bound the batch
    # replay by each server's max streamed timestamp.
    per_server_max = state.groupBy("server").agg(
        F.max("serverTimestamp").alias("_mx")
    )
    batch = raw_to_opc_values(_raw_batch(spark, 64))  # superset of sweeps
    batch = batch.join(per_server_max, "server").filter(
        F.col("serverTimestamp") <= F.col("_mx")
    ).drop("_mx")
    expected = {
        (r.server, r.tag): (r.doubleValue, r.serverTimestamp)
        for r in last_value_per_key(
            batch, ["server", "tag"], "serverTimestamp"
        ).collect()
    }
    got = {(r.server, r.tag): (r.doubleValue, r.serverTimestamp) for r in rows}
    assert got == expected


def test_sized_state_partitions_heuristic_and_scope(spark):
    """r11: stateful topologies size their state-store partition count from
    the declared key cardinality (Structured Streaming pins the count to
    spark.sql.shuffle.partitions at first batch). Clamped to
    [1, parallelism]; the context manager scopes the conf around query
    start and always restores it."""
    from opc2mongodb_spark.streaming.pipeline import (
        sized_state_partitions,
        state_partitioning,
    )

    assert sized_state_partitions(1, 32) == 1
    assert sized_state_partitions(150, 32) == 1
    assert sized_state_partitions(1200, 32) == 8
    assert sized_state_partitions(10**7, 32) == 32
    assert sized_state_partitions(0, 32) == 1

    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        with state_partitioning(spark, 1200) as n:
            expect = sized_state_partitions(
                1200, spark.sparkContext.defaultParallelism
            )
            assert n == expect
            assert spark.conf.get("spark.sql.shuffle.partitions") == str(n)
            raise RuntimeError("boom")  # restore must survive an exception
    except RuntimeError:
        pass
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def _state_partition_dirs(ckpt: str) -> list[int]:
    """Numeric partition-directory ids under the checkpoint's state store
    for stateful operator 0 (layout shared by the HDFS and RocksDB
    providers: {ckpt}/state/0/<partitionId>/...)."""
    import os

    root = os.path.join(ckpt, "state", "0")
    if not os.path.isdir(root):
        return []
    return sorted(int(d) for d in os.listdir(root) if d.isdigit())


def test_state_sizing_saturates_parallelism(spark, tmp_path, state_provider):
    """r11 VERDICT #6a: the other end of the [1, parallelism] clamp — a
    10M-key topology must saturate the cluster, not divide 10M keys across
    a handful of state partitions. Golden proof at the checkpoint layer:
    the state store is created with exactly defaultParallelism partition
    directories, under both providers."""
    from opc2mongodb_spark.opcmodel import raw_to_opc_values
    from opc2mongodb_spark.streaming.pipeline import (
        state_partitioning,
        streaming_last_value,
    )

    ckpt = str(tmp_path / f"ckpt_sat_{state_provider}")
    deduped = streaming_last_value(raw_to_opc_values(_raw_stream(spark)))
    with state_partitioning(spark, 10**7) as n:
        assert n == spark.sparkContext.defaultParallelism
        q = (
            deduped.writeStream.outputMode("append")
            .format("noop")
            .option("checkpointLocation", ckpt)
            .start()
        )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    parts = _state_partition_dirs(ckpt)
    assert parts == list(range(spark.sparkContext.defaultParallelism))


def test_state_sizing_respects_existing_checkpoint(
    spark, tmp_path, state_provider
):
    """r11 VERDICT #6b: Structured Streaming pins the stateful partition
    count at the query's FIRST batch; a restart whose .conf declares a
    DIFFERENT tag count (topology grew, operator re-sized) must not corrupt
    the checkpointed state partitioning. Golden: phase 1 starts under a
    300-key sizing (2 partitions at 150 keys/partition), phase 2 restarts
    the SAME checkpoint under a 10M-key sizing — the query resumes, emits
    the remaining sweeps exactly once, and the state layout stays at the
    pinned phase-1 count, under both providers."""
    import os

    from opc2mongodb_spark.opcmodel import raw_to_opc_values
    from opc2mongodb_spark.sources.opc import register
    from opc2mongodb_spark.streaming.pipeline import (
        sized_state_partitions,
        state_partitioning,
        streaming_last_value,
    )

    register(spark)
    conf = os.path.join(os.path.dirname(__file__), "fixtures", "opcsim.conf")
    ckpt = str(tmp_path / f"ckpt_pin_{state_provider}")

    def run_phase(n_keys_decl: int, max_sweeps: int) -> list:
        raw = (
            spark.readStream.format("opcsim")
            .option("config", conf)
            .option("sweeps_per_batch", 2)
            .option("max_sweeps", max_sweeps)
            .load()
        )
        deduped = streaming_last_value(raw_to_opc_values(raw))
        emitted: list = []

        def feed(batch, _bid):
            emitted.extend(batch.collect())

        with state_partitioning(spark, n_keys_decl):
            q = (
                deduped.writeStream.outputMode("append")
                .foreachBatch(feed)
                .option("checkpointLocation", ckpt)
                .start()
            )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        return emitted

    parallelism = spark.sparkContext.defaultParallelism
    n1 = sized_state_partitions(300, parallelism)
    assert n1 == 2  # 300 keys / 150 per partition

    rows_a = run_phase(300, 4)
    assert _state_partition_dirs(ckpt) == list(range(n1))

    # restart with a 10M-key declaration: conf now says `parallelism`,
    # the checkpoint says n1 — Spark must keep n1 and keep working
    rows_b = run_phase(10**7, 8)
    assert sized_state_partitions(10**7, parallelism) == parallelism != n1
    assert _state_partition_dirs(ckpt) == list(range(n1))
    assert rows_b, "restart emitted nothing — did not resume"

    # exactly-once across the restart: no (server, tag, serverTimestamp)
    # emitted twice, and phase B continues past phase A's high water mark
    keys_a = [(r.server, r.tag, r.serverTimestamp) for r in rows_a]
    keys_b = [(r.server, r.tag, r.serverTimestamp) for r in rows_b]
    assert len(keys_a) == len(set(keys_a))
    assert len(keys_b) == len(set(keys_b))
    assert not set(keys_a) & set(keys_b)
    assert max(r.serverTimestamp for r in rows_b) > max(
        r.serverTimestamp for r in rows_a
    )


def test_merge_batch_rewrites_only_touched_partitions(spark, tmp_path):
    """The partition-pruned merge must leave untouched server partitions'
    files physically in place (same inodes, in the generation the manifest
    still lists for them) — O(touched state) per batch, not a full-state
    rewrite."""
    import json
    import os

    from opc2mongodb_spark.streaming.sinks import CurrentValuesStore

    store = CurrentValuesStore(str(tmp_path / "cv"))
    cols = ["server", "tag", "doubleValue", "serverTimestamp"]

    def rows(data):
        return spark.createDataFrame(
            [(s, t, v, pd_ts(ts)) for s, t, v, ts in data], cols
        )

    import datetime

    def pd_ts(s):
        return datetime.datetime(2024, 1, 1, 10, 0, s)

    store.merge_batch(
        rows([("A", "t1", 1.0, 0), ("B", "t1", 5.0, 0), ("B", "t2", 6.0, 0)])
    )

    def inodes(server):
        with open(os.path.join(store.path, "_CURRENT")) as f:
            gen = json.load(f)["servers"][f"server={server}"]
        d = os.path.join(store.path, f"server={server}", f"gen={gen}")
        return {
            f: os.stat(os.path.join(d, f)).st_ino
            for f in os.listdir(d)
            if f.endswith(".parquet")
        }

    b_before = inodes("B")
    assert b_before
    store.merge_batch(rows([("A", "t1", 2.0, 10), ("A", "t2", 3.0, 10)]))
    assert inodes("B") == b_before, "untouched partition B was rewritten"

    state = {(r.server, r.tag): r.doubleValue for r in store.read(spark).collect()}
    assert state == {
        ("A", "t1"): 2.0,
        ("A", "t2"): 3.0,
        ("B", "t1"): 5.0,
        ("B", "t2"): 6.0,
    }


def test_sink_parquet_codec_is_zstd(spark, tmp_path):
    """r13 (r12 VERDICT item 7): the upsert sink's parquet state is written
    as zstd (interleaved A/B on the sink's own lane, SINK_CODEC_AB_r13.json:
    per-batch time flat, state identical, -45% bytes). Spark encodes the
    codec in the part-file name."""
    import datetime
    import glob

    from opc2mongodb_spark.streaming.sinks import CurrentValuesStore

    store = CurrentValuesStore(str(tmp_path / "cv"))
    store.merge_batch(
        spark.createDataFrame(
            [("A", "t1", 1.0, datetime.datetime(2024, 1, 1, 10, 0, 0)),
             ("B", "t1", 2.0, datetime.datetime(2024, 1, 1, 10, 0, 0))],
            ["server", "tag", "doubleValue", "serverTimestamp"],
        )
    )
    files = glob.glob(
        os.path.join(store.path, "**", "part-*.parquet"), recursive=True
    )
    assert files and {f.rsplit(".", 2)[-2] for f in files} == {"zstd"}


def test_merge_batch_is_one_action_over_one_exchange(spark, tmp_path):
    """The parquet merge of a micro-batch into an existing store plans ONE
    exchange and runs at most two jobs (the shuffle's map stage and the
    write): no touched-server pre-pass, no schema-inference job, no second
    shuffle before the write."""
    import datetime
    import re

    from opc2mongodb_spark.streaming.sinks import CurrentValuesStore

    store = CurrentValuesStore(str(tmp_path / "cv"))
    cols = ["server", "tag", "doubleValue", "serverTimestamp"]

    def rows(data):
        return spark.createDataFrame(
            [(s, t, v, datetime.datetime(2024, 1, 1, 10, 0, ts))
             for s, t, v, ts in data],
            cols,
        )

    store.merge_batch(rows([("A", "t1", 1.0, 0), ("B", "t1", 2.0, 0)]))
    second = rows([("A", "t1", 3.0, 10), ("B", "t2", 4.0, 10)])

    plan = (
        store._changed_partitions(second, store._state_schema(second))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert len(re.findall(r"\bExchange\b", plan)) == 1, plan

    sc = spark.sparkContext
    group = "test-merge-shape"
    sc.setJobGroup(group, "one merge")
    try:
        store.merge_batch(second)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert 1 <= len(sc.statusTracker().getJobIdsForGroup(group)) <= 2

    state = {(r.server, r.tag): r.doubleValue for r in store.read(spark).collect()}
    assert state == {("A", "t1"): 3.0, ("B", "t1"): 2.0, ("B", "t2"): 4.0}


def test_current_values_store_backends(spark, tmp_path):
    """The upsert contract (greatest order_col per key wins; stale rows never
    regress state) must hold identically for every backend. The delta case
    runs wherever delta-spark is importable and is skipped here (sandbox has
    no lakehouse format) — same contract, same assertions."""
    import datetime

    import pytest

    from opc2mongodb_spark.streaming.sinks import (
        CurrentValuesStore,
        delta_available,
    )

    backends = ["parquet"] + (["delta"] if delta_available() else [])
    assert CurrentValuesStore(str(tmp_path / "auto")).backend in (
        "parquet",
        "delta",
    )
    with pytest.raises(ValueError):
        CurrentValuesStore(str(tmp_path / "bad"), backend="iceberg")
    if not delta_available():
        with pytest.raises(ImportError):
            CurrentValuesStore(str(tmp_path / "d"), backend="delta")

    cols = ["server", "tag", "doubleValue", "serverTimestamp"]

    def rows(data):
        return spark.createDataFrame(
            [
                (s, t, v, datetime.datetime(2024, 1, 1, 10, 0, ts))
                for s, t, v, ts in data
            ],
            cols,
        )

    for backend in backends:
        store = CurrentValuesStore(
            str(tmp_path / f"cv_{backend}"), backend=backend
        )
        store.merge_batch(rows([("A", "t1", 1.0, 0), ("B", "t1", 5.0, 0)]))
        store.merge_batch(
            rows(
                [
                    ("A", "t1", 2.0, 10),  # newer → wins
                    ("B", "t1", 99.0, 0),  # tie ts → batch wins
                    ("B", "t2", 6.0, 3),  # new key → insert
                ]
            )
        )
        store.merge_batch(rows([("A", "t1", 0.5, 5)]))  # stale → ignored
        state = {
            (r.server, r.tag): (r.doubleValue, r.serverTimestamp.second)
            for r in store.read(spark).collect()
        }
        assert state == {
            ("A", "t1"): (2.0, 10),
            ("B", "t1"): (99.0, 0),
            ("B", "t2"): (6.0, 3),
        }, backend


def _spool_ops(spool):
    import json
    import os

    out = []
    if not os.path.exists(spool):
        return out
    for fn in sorted(os.listdir(spool)):
        with open(os.path.join(spool, fn)) as f:
            out.extend(json.loads(line) for line in f)
    return out


def test_mongo_bulk_upsert_sink_one_replace_per_key_per_batch(spark, tmp_path):
    """A3 adapter golden: each micro-batch issues exactly one ReplaceOne-
    shaped op per changed key, carrying the reference's 8-field document
    (Program.cs:1162-1172), batched per (partition, collection)."""
    import datetime
    import functools
    import shutil

    from pyspark.sql import types as T

    from opc2mongodb_spark.streaming.sinks import MongoBulkUpsertSink

    class _SpoolClient:
        """Executor-side fake Mongo client: records each bulk_replace call
        as JSON lines in a spool directory (one file per call). Defined
        locally so cloudpickle ships it by value to executors."""

        def __init__(self, spool_dir):
            self.spool_dir = spool_dir

        def bulk_replace(self, collection, ops):
            import json
            import os
            import uuid

            os.makedirs(self.spool_dir, exist_ok=True)
            fn = os.path.join(self.spool_dir, f"{uuid.uuid4().hex}.jsonl")
            with open(fn, "w") as f:
                for key, doc_json in ops:
                    f.write(
                        json.dumps(
                            {"collection": collection, "key": key,
                             "doc": json.loads(doc_json)}
                        )
                        + "\n"
                    )

        def close(self):
            pass

    spool = str(tmp_path / "spool")
    sink = MongoBulkUpsertSink(functools.partial(_SpoolClient, spool))

    def ts(s):
        return datetime.datetime(2024, 1, 1, 10, 0, s)

    schema = T.StructType(
        [
            T.StructField("server", T.StringType()),
            T.StructField("tag", T.StringType()),
            T.StructField("dataType", T.StringType()),
            T.StructField("doubleValue", T.DoubleType()),
            T.StructField("boolValue", T.BooleanType()),
            T.StructField("stringValue", T.StringType()),
            T.StructField("sourceTimestamp", T.TimestampType()),
            T.StructField("serverTimestamp", T.TimestampType()),
            T.StructField("quality", T.IntegerType()),
        ]
    )

    def batch(data):
        return spark.createDataFrame(
            [(s, t, "double", v, None, None, ts(sec), ts(sec), 192)
             for s, t, v, sec in data],
            schema,
        )

    # batch 0: two updates for (A,t1) — only the LATEST may be written
    sink.foreach_batch(
        batch([("A", "t1", 1.0, 0), ("A", "t1", 2.0, 5), ("B", "t2", 9.0, 0)]),
        0,
    )
    ops = _spool_ops(spool)
    got = {(o["collection"], o["key"]): o["doc"] for o in ops}
    assert len(ops) == len(got) == 2, f"expected 1 op per key, got {ops}"
    assert got[("A", "t1")]["doubleValue"] == 2.0
    assert got[("B", "t2")]["doubleValue"] == 9.0
    # reference document shape: tag doubles as the upsert key; to_json drops
    # null fields, so the non-null field set must match
    doc = got[("A", "t1")]
    assert doc["tag"] == "t1"
    assert set(doc) == {"tag", "dataType", "doubleValue", "sourceTimestamp",
                        "serverTimestamp", "quality"}

    # batch 1: only (A,t1) changes -> exactly one new op
    shutil.rmtree(spool)
    sink.foreach_batch(batch([("A", "t1", 3.0, 10)]), 1)
    ops = _spool_ops(spool)
    assert len(ops) == 1
    assert ops[0]["collection"] == "A" and ops[0]["key"] == "t1"
    assert ops[0]["doc"]["doubleValue"] == 3.0


def test_end_to_end_bridge_opcsim_to_mongo_sink(spark, tmp_path):
    """The reference's whole program as one streaming pipeline: opcsim
    source -> type normalization -> change detection -> change-only Mongo
    bulk upserts. The final document per (collection, key) must carry the
    latest changed value, matching a batch replay of the same sweeps."""
    import functools
    import json
    import os

    from opc2mongodb_spark.opcmodel import raw_to_opc_values
    from opc2mongodb_spark.operators.last_value import last_value_per_key
    from opc2mongodb_spark.sources.opc import register
    from opc2mongodb_spark.streaming.sinks import MongoBulkUpsertSink
    from opc2mongodb_spark.streaming.stateful import value_changes

    class _SpoolClient:
        def __init__(self, spool_dir):
            self.spool_dir = spool_dir

        def bulk_replace(self, collection, ops):
            import uuid

            os.makedirs(self.spool_dir, exist_ok=True)
            fn = os.path.join(self.spool_dir, f"{uuid.uuid4().hex}.jsonl")
            with open(fn, "w") as f:
                for key, doc_json in ops:
                    f.write(
                        json.dumps(
                            {"collection": collection, "key": key,
                             "doc": json.loads(doc_json)}
                        )
                        + "\n"
                    )

    register(spark)
    conf = os.path.join(os.path.dirname(__file__), "fixtures", "opcsim.conf")
    spool = str(tmp_path / "spool")
    sink = MongoBulkUpsertSink(functools.partial(_SpoolClient, spool))

    raw = (
        spark.readStream.format("opcsim")
        .option("config", conf)
        .option("sweeps_per_batch", 2)
        .option("max_sweeps", 8)
        .load()
    )
    changes = value_changes(raw_to_opc_values(raw)).filter("changed")

    def sink_changes(batch, batch_id):
        # change rows lack the full 8-field payload; re-shape the minimum
        # the document needs (the reference writes the monitored value)
        shaped = batch.selectExpr(
            "server", "tag", "CAST('double' AS STRING) AS dataType",
            "doubleValue", "CAST(NULL AS BOOLEAN) AS boolValue",
            "CAST(NULL AS STRING) AS stringValue",
            "serverTimestamp AS sourceTimestamp", "serverTimestamp",
            "CAST(192 AS INT) AS quality",
        )
        sink.foreach_batch(shaped, batch_id)

    q = (
        changes.writeStream.outputMode("append")
        .foreachBatch(sink_changes)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # latest doc per (collection, key) from the spool (files are per batch;
    # later serverTimestamp wins)
    latest = {}
    for fn in sorted(os.listdir(spool)):
        with open(os.path.join(spool, fn)) as f:
            for line in f:
                op = json.loads(line)
                k = (op["collection"], op["key"])
                cur = latest.get(k)
                if cur is None or op["doc"]["serverTimestamp"] >= cur["serverTimestamp"]:
                    latest[k] = op["doc"]

    # batch replay: last CHANGED double value per key over the same sweeps
    batch_raw = (
        spark.read.format("opcsim")
        .option("config", conf)
        .option("sweeps", 8)
        .load()
    )
    opc = raw_to_opc_values(batch_raw).filter("doubleValue IS NOT NULL")
    expected = {
        (r.server, r.tag): r.doubleValue
        for r in last_value_per_key(
            opc, ["server", "tag"], "serverTimestamp"
        ).collect()
    }
    got = {k: d["doubleValue"] for k, d in latest.items()}
    # every streamed key's final document matches the batch-replay latest
    assert got, "no documents reached the sink"
    for k, v in got.items():
        assert v == expected[k], (k, v, expected[k])


def test_corpus_ingest_gate_dedups_across_batches(spark, tmp_path):
    """Continuous-ingestion golden: batch 0 seeds the corpus (within-batch
    exact dups collapse to min id); batch 1's exact and normalized-exact
    dups of the corpus are rejected, genuinely new docs are admitted, and
    the near-dup verdict agrees with incremental_keep_list run directly.
    Re-processing a batch id is idempotent (retry contract)."""
    from opc2mongodb_spark.operators.dedup import incremental_keep_list
    from opc2mongodb_spark.streaming.dedup_gate import CorpusIngestGate

    gate = CorpusIngestGate(str(tmp_path / "corpus"))
    shared = " ".join(f"tok{i}" for i in range(20))
    b1 = spark.createDataFrame(
        [
            (1, shared),
            (2, shared),  # exact dup within batch -> collapsed to id 1
            (3, "a completely different document body"),
        ],
        "doc_id long, text string",
    )
    gate.process_batch(b1, 0)
    ids = {r.doc_id for r in gate.read_corpus(spark).collect()}
    assert ids == {1, 3}

    near = shared.replace("tok19", "changed")  # 19/21 token overlap
    b2 = spark.createDataFrame(
        [
            (10, shared),  # exact dup of corpus -> rejected
            (11, "  " + shared.upper() + "  "),  # normalized dup -> rejected
            (12, near),  # near dup: verdict must match the batch operator
            (13, "entirely novel words appear in this one"),
        ],
        "doc_id long, text string",
    )
    expected_12 = {
        r.doc_id: r.verdict
        for r in incremental_keep_list(
            gate.read_corpus(spark), b2, "doc_id", "text"
        ).collect()
    }[12]
    gate.process_batch(b2, 1)
    ids = {r.doc_id for r in gate.read_corpus(spark).collect()}
    assert 10 not in ids and 11 not in ids
    assert 13 in ids
    assert (12 in ids) == (expected_12 == "keep")

    # idempotent retry: re-processing batch 1 leaves the corpus unchanged
    gate.process_batch(b2, 1)
    assert {r.doc_id for r in gate.read_corpus(spark).collect()} == ids


def test_corpus_ingest_gate_wired_to_stream(spark, tmp_path):
    """The gate as an actual Structured Streaming sink: a file-source stream
    drained through foreachBatch admits exactly the keep-verdict documents,
    across two micro-batches with checkpointing."""
    from pyspark.sql import types as T

    from opc2mongodb_spark.streaming.dedup_gate import CorpusIngestGate

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    src = tmp_path / "in"
    src.mkdir()
    shared = " ".join(f"w{i}" for i in range(15))
    spark.createDataFrame(
        [(1, shared), (2, "first unique body of words")], schema
    ).coalesce(1).write.parquet(str(src / "b1"))

    gate = CorpusIngestGate(str(tmp_path / "corpus"))
    stream = spark.readStream.schema(schema).parquet(str(src / "*"))
    q = (
        stream.writeStream.foreachBatch(gate.foreach_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        assert {r.doc_id for r in gate.read_corpus(spark).collect()} == {1, 2}
        spark.createDataFrame(
            [(10, shared), (11, "totally disjoint vocabulary sentence here")],
            schema,
        ).coalesce(1).write.parquet(str(src / "b2"))
        q.processAllAvailable()
    finally:
        q.stop()
    # 10 is an exact dup of corpus doc 1 -> rejected; 11 admitted
    assert {r.doc_id for r in gate.read_corpus(spark).collect()} == {1, 2, 11}


def test_gate_persisted_index_skips_corpus_text(spark, tmp_path, monkeypatch):
    """r5 scale contract: batch N+1 probes the PERSISTED index — corpus text
    is never re-tokenized. Since the r12 enrichment checkpoint,
    minhash_signatures is PLANNED exactly once per batch, on the batch
    frame (probe side and index appends both project the checkpointed
    signature columns); the recompute path would add a corpus-sized call."""
    import opc2mongodb_spark.operators.dedup as dedup_mod
    from opc2mongodb_spark.streaming.dedup_gate import CorpusIngestGate

    gate = CorpusIngestGate(str(tmp_path / "corpus"))
    gate.process_batch(
        spark.createDataFrame(
            [(1, "alpha beta gamma delta"), (2, "one two three four five")],
            "doc_id long, text string",
        ),
        0,
    )
    # index tables exist, partitioned by ingest_batch
    for table in ("fps", "sigs", "bloom"):
        assert os.path.isdir(
            str(tmp_path / "corpus" / "_index" / table / "ingest_batch=0")
        )

    calls = []
    real = dedup_mod.minhash_signatures

    def counting(df, *a, **kw):
        calls.append(df)
        return real(df, *a, **kw)

    monkeypatch.setattr(dedup_mod, "minhash_signatures", counting)
    gate.process_batch(
        spark.createDataFrame(
            [(10, "alpha beta gamma delta"), (11, "fresh vocabulary entirely")],
            "doc_id long, text string",
        ),
        1,
    )
    assert len(calls) == 1, f"expected 1 batch-side call, saw {len(calls)}"
    # ... and on the batch frame, not the corpus: 2 rows, batch ids only
    assert {r.doc_id for r in calls[0].select("doc_id").collect()} == {10, 11}
    ids = {r.doc_id for r in gate.read_corpus(spark).collect()}
    assert ids == {1, 2, 11}  # 10 is an exact dup of doc 1 via the fp index


def test_gate_index_self_heal(spark, tmp_path):
    """A corpus whose index is missing (crash between data and index
    renames, or seeded pre-index) is repaired per-batch on the next
    process_batch — and verdicts still reject duplicates of the healed
    batches."""
    import shutil as sh

    from opc2mongodb_spark.streaming.dedup_gate import CorpusIngestGate

    gate = CorpusIngestGate(str(tmp_path / "corpus"))
    gate.process_batch(
        spark.createDataFrame(
            [(1, "the quick brown fox jumps")], "doc_id long, text string"
        ),
        0,
    )
    gate.process_batch(
        spark.createDataFrame(
            [(2, "entirely different sentence body")], "doc_id long, text string"
        ),
        1,
    )
    sh.rmtree(str(tmp_path / "corpus" / "_index"))
    gate.process_batch(
        spark.createDataFrame(
            [
                (10, "the quick brown fox jumps"),  # dup of healed batch 0
                (11, "novel words nobody wrote before"),
            ],
            "doc_id long, text string",
        ),
        2,
    )
    # healed partitions are back for batches 0 and 1, written for 2
    for table in ("fps", "sigs", "bloom"):
        for bid in (0, 1, 2):
            assert os.path.isdir(
                str(
                    tmp_path
                    / "corpus"
                    / "_index"
                    / table
                    / f"ingest_batch={bid}"
                )
            )
    assert {r.doc_id for r in gate.read_corpus(spark).collect()} == {1, 2, 11}


def test_gate_staging_leftovers_invisible(spark, tmp_path):
    """ADVICE r4: a crash mid-write must not leak staged rows into the
    corpus view. Staging lives under the Spark-hidden _staging root, so a
    leftover partial write is ignored by read_corpus, never corrupts
    partition inference, and a retry of the same batch simply overwrites
    it."""
    from pyspark.sql import types as T

    from opc2mongodb_spark.streaming.dedup_gate import CorpusIngestGate

    gate = CorpusIngestGate(str(tmp_path / "corpus"))
    batch = spark.createDataFrame(
        [(1, "a b c d e"), (2, "f g h i j")], "doc_id long, text string"
    )
    gate.process_batch(batch, 0)
    # simulate a crashed batch-1 attempt: partial rows staged but never
    # renamed into place
    leftover = tmp_path / "corpus" / "_staging" / "data" / "ingest_batch=1"
    spark.createDataFrame(
        [(99, "partial junk row")], "doc_id long, text string"
    ).write.parquet(str(leftover))
    df = gate.read_corpus(spark)
    assert {r.doc_id for r in df.collect()} == {1, 2}
    # partition column inference untouched by the leftover
    full = spark.read.parquet(str(tmp_path / "corpus"))
    assert isinstance(full.schema["ingest_batch"].dataType, T.IntegerType)
    # the retry overwrites the leftover and admits the batch normally
    gate.process_batch(
        spark.createDataFrame(
            [(3, "k l m n o")], "doc_id long, text string"
        ),
        1,
    )
    assert {r.doc_id for r in gate.read_corpus(spark).collect()} == {1, 2, 3}


def test_stream_static_topology_enrichment(spark, tmp_path):
    """Stream-static join: in-flight values pick up their server's
    connection/auth posture from the parsed topology; values from a server
    absent in the config keep flowing with NULL posture (left join —
    misconfiguration is monitorable, not silently dropped)."""
    import os

    from pyspark.sql import types as T

    from opc2mongodb_spark.sources.config import topology_df
    from opc2mongodb_spark.streaming.pipeline import enrich_with_topology

    conf = os.path.join(os.path.dirname(__file__), "fixtures", "opcsim.conf")
    topo = topology_df(spark, conf)
    known = topo.select("server").first().server

    schema = T.StructType(
        [
            T.StructField("server", T.StringType()),
            T.StructField("tag", T.StringType()),
            T.StructField("doubleValue", T.DoubleType()),
        ]
    )
    src = tmp_path / "src"
    src.mkdir()
    spark.createDataFrame(
        [(known, "t1", 1.0), ("ghost_server", "t2", 2.0)], schema
    ).coalesce(1).write.parquet(str(src / "b1"))
    stream = spark.readStream.schema(schema).parquet(str(src / "*"))
    q = (
        enrich_with_topology(stream, topo)
        .writeStream.format("memory")
        .queryName("enriched")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = {r.server: r for r in spark.sql("select * from enriched").collect()}
    finally:
        q.stop()
    assert rows[known].protocol in ("ua", "da")
    assert rows[known].auth_mode in ("certificate", "anonymous")
    assert rows["ghost_server"].protocol is None  # kept, not dropped
    assert rows["ghost_server"].doubleValue == 2.0


def test_gate_releases_per_batch_checkpoints(spark, tmp_path):
    """r12 guide-§5 golden: process_batch must not leak its two per-batch
    localCheckpoint RDDs (enrichment + admitted frames). Without the
    deterministic release, ~1 resident batch-sized RDD accumulated per
    micro-batch (ContextCleaner only reclaims on JVM Dataset GC); with
    it, the persistent-RDD count is flat across batches — a long
    streaming run holds O(1) block-stored batches, not O(batches)."""
    from opc2mongodb_spark.streaming.dedup_gate import CorpusIngestGate

    def n_persistent():
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    gate = CorpusIngestGate(str(tmp_path / "c"))
    counts = []
    for b in range(5):
        gate.process_batch(
            spark.createDataFrame(
                [(b * 10 + i, f"doc {b} {i} " + " ".join(
                    f"w{b}x{i}y{j}" for j in range(10)))
                 for i in range(3)],
                "doc_id long, text string",
            ),
            b,
        )
        counts.append(n_persistent())
    # flat, not growing: the last batch leaves no more resident RDDs than
    # the first (other fixtures' persists may pre-exist; only growth across
    # OUR batches is the defect)
    assert counts[-1] <= counts[0], counts


def test_gate_admits_null_text_documents(spark, tmp_path):
    """r12 ADVICE (medium): minhash_signatures emits no row for a NULL-text
    document (explode of a null token array), so the r12 enrichment INNER
    join silently dropped such docs from the gate — they vanished before
    dedup/verdict/data write. The pre-enrichment path admitted them with
    verdict 'keep' (null fp / null mh never match the exact or band
    probes); the left-join enrichment must preserve exactly that:
    NULL-text docs are admitted, dedup among THEMSELVES to the min id per
    batch (null fp is one groupBy group, the old exact_dedup_groups
    semantics), and never match any corpus probe."""
    from opc2mongodb_spark.streaming.dedup_gate import CorpusIngestGate

    gate = CorpusIngestGate(str(tmp_path / "c"))
    gate.process_batch(
        spark.createDataFrame(
            [(1, "alpha beta gamma"), (2, None), (3, None)],
            "doc_id long, text string",
        ),
        0,
    )
    rows = {r.doc_id: r.text for r in gate.read_corpus(spark).collect()}
    # 2 admitted (min null-text id), 3 collapsed onto it within-batch
    assert rows == {1: "alpha beta gamma", 2: None}

    # a later batch's NULL-text doc must still be admitted: null fp/mh
    # never match the corpus index (including corpus doc 2's null fp row)
    gate.process_batch(
        spark.createDataFrame(
            [(10, None), (11, "alpha beta gamma")], "doc_id long, text string"
        ),
        1,
    )
    ids = {r.doc_id for r in gate.read_corpus(spark).collect()}
    assert 10 in ids  # NULL text: admitted, not dropped, not "dup of null"
    assert 11 not in ids  # exact dup still rejected


def test_gate_rejects_reserved_column_collision(spark, tmp_path):
    """r12 ADVICE: a batch already carrying a _gate_fp/_gate_mh{j} column
    would be silently overwritten by the enrichment and then dropped from
    the data write — refuse loudly instead."""
    import pytest

    from opc2mongodb_spark.streaming.dedup_gate import CorpusIngestGate

    gate = CorpusIngestGate(str(tmp_path / "c"))
    for col in ("_gate_fp", "_gate_mh0"):
        batch = spark.createDataFrame(
            [(1, "alpha beta", "x")], f"doc_id long, text string, {col} string"
        )
        with pytest.raises(ValueError, match=col):
            gate.process_batch(batch, 0)
    # nothing was written by the refused batches
    assert gate.read_corpus(spark) is None


def test_gate_releases_checkpoints_on_failure(spark, tmp_path, monkeypatch):
    """r12 ADVICE: the checkpoint release must run via try/finally — an
    exception between checkpoint creation and the old end-of-body release
    (e.g. a _swap_in failure) leaked both batch-sized block-stored RDDs
    until a lucky JVM GC. After a failed process_batch the persistent-RDD
    count must be back at its pre-call level."""
    import pytest

    from opc2mongodb_spark.streaming.dedup_gate import CorpusIngestGate

    def n_persistent():
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    gate = CorpusIngestGate(str(tmp_path / "c"))
    batch = spark.createDataFrame(
        [(i, f"doc body {i} " + " ".join(f"w{i}z{j}" for j in range(8)))
         for i in range(4)],
        "doc_id long, text string",
    )
    before = n_persistent()

    def boom(*a, **k):
        raise RuntimeError("simulated write failure")

    monkeypatch.setattr(gate, "_swap_in", boom)
    with pytest.raises(RuntimeError, match="simulated write failure"):
        gate.process_batch(batch, 0)
    assert n_persistent() == before

    # the gate still works after the failure (fresh frames, clean retry)
    monkeypatch.undo()
    gate.process_batch(batch, 0)
    assert {r.doc_id for r in gate.read_corpus(spark).collect()} == {
        0, 1, 2, 3,
    }


def test_gate_parquet_codec_default_and_hatch(spark, tmp_path):
    """r12: the gate's own parquet writes (data + all index tables +
    compaction) default to zstd (measured time-flat at -41% bytes,
    GATE_CODEC_AB_r12.json); the spark.sparkGraft.gateParquetCodec conf
    hatch flips them without code changes. Spark encodes the codec in the
    part-file name, so the written files are checkable directly."""
    import glob

    from opc2mongodb_spark.streaming.dedup_gate import CorpusIngestGate

    def codecs_under(root):
        found = set()
        for f in glob.glob(os.path.join(root, "**", "part-*.parquet"),
                           recursive=True):
            if "_staging" in f:
                continue
            found.add(f.rsplit(".", 2)[-2])
        return found

    gate = CorpusIngestGate(str(tmp_path / "c"), compact_after=2)
    df0 = spark.createDataFrame(
        [(1, "alpha beta gamma delta")], "doc_id long, text string"
    )
    gate.process_batch(df0, 0)
    assert codecs_under(str(tmp_path / "c")) == {"zstd"}

    # the hatch flips every write path, including compaction (batches 1-3
    # trigger a fold of batches 0-1 under compact_after=2)
    spark.conf.set("spark.sparkGraft.gateParquetCodec", "snappy")
    try:
        for b, text in ((1, "one two three four"), (2, "five six seven"),
                        (3, "eight nine ten eleven")):
            gate.process_batch(
                spark.createDataFrame(
                    [(10 + b, text)], "doc_id long, text string"
                ),
                b,
            )
        assert os.path.isdir(gate._compact_dir("fps"))  # fold happened
        assert "snappy" in codecs_under(str(tmp_path / "c"))
        assert codecs_under(gate._compact_dir("fps")) == {"snappy"}
    finally:
        spark.conf.unset("spark.sparkGraft.gateParquetCodec")

    # mixed-codec partitions read as one table: corpus intact
    assert {r.doc_id for r in gate.read_corpus(spark).collect()} == {
        1, 11, 12, 13,
    }


def test_gate_index_compaction_preserves_verdicts(spark, tmp_path):
    """r6 golden: 50 micro-batches through two gates — one compacting every
    8 committed batches, one never — must admit IDENTICAL corpora, and the
    compacting gate's per-batch index dir count must stay bounded by
    compact_after + 1 instead of growing one dir per batch."""
    import os

    from opc2mongodb_spark.streaming.dedup_gate import CorpusIngestGate

    compacting = CorpusIngestGate(str(tmp_path / "c1"), compact_after=8)
    plain = CorpusIngestGate(str(tmp_path / "c2"), compact_after=None)

    def batch_df(b):
        rows = []
        for i in range(3):
            doc_id = b * 10 + i
            if i == 2 and b % 3 == 1:
                # exact dup of an earlier batch's first doc -> must reject
                text = " ".join(f"w{(b - 1) * 10}x{j}" for j in range(12))
            else:
                text = " ".join(f"w{doc_id}x{j}" for j in range(12))
            rows.append((doc_id, text))
        return spark.createDataFrame(rows, "doc_id long, text string")

    for b in range(50):
        df = batch_df(b)
        compacting.process_batch(df, b)
        plain.process_batch(df, b)

    got = sorted(r.doc_id for r in compacting.read_corpus(spark).collect())
    want = sorted(r.doc_id for r in plain.read_corpus(spark).collect())
    assert got == want and len(got) > 0

    for table in CorpusIngestGate.INDEX_TABLES:
        n_dirs = len(compacting._batches(compacting._index_dir(table)))
        assert n_dirs <= 8 + 1, (table, n_dirs)
        assert len(plain._batches(plain._index_dir(table))) == 50
        # folded ids + live dirs together still cover every data batch
        assert compacting._index_batches(table) == set(range(50))

    # the consolidated dir exists, carries the manifest, and repair sees
    # nothing missing
    assert os.path.isdir(compacting._compact_dir("fps"))
    assert compacting.repair_index(spark) == 0

    # retry contract survives compaction: re-process the LAST batch
    # (never folded — compaction stops at before_batch) and nothing changes
    compacting.process_batch(batch_df(49), 49)
    again = sorted(r.doc_id for r in compacting.read_corpus(spark).collect())
    assert again == got


def test_gate_index_compaction_crash_windows(spark, tmp_path):
    """The two compaction crash windows self-heal: (a) an id left in BOTH a
    per-batch dir and the manifest reads once (compact copy wins) and the
    leftover dir is swept on the next compaction; (b) a vanished compact
    dir (crash between the two renames) loses the manifest, and
    repair_index rebuilds the folded batches from their data partitions."""
    import os
    import shutil

    from opc2mongodb_spark.streaming.dedup_gate import CorpusIngestGate

    gate = CorpusIngestGate(str(tmp_path / "c"), compact_after=4)
    for b in range(6):
        df = spark.createDataFrame(
            [(b * 10 + i, " ".join(f"t{b}_{i}_{j}" for j in range(10)))
             for i in range(2)],
            "doc_id long, text string",
        )
        gate.process_batch(df, b)
    man = gate._compacted_ids("fps")
    assert man, "compaction never triggered"
    fps, _, _ = gate.read_index(spark)
    baseline = sorted(r.doc_id for r in fps.collect())

    # (a) resurrect a folded batch's per-batch dir (simulated crash between
    # swap and cleanup) by rebuilding it from data via repair on a copy dir:
    bid = sorted(man)[0]
    src = os.path.join(gate.corpus_dir, gate._part(bid))
    dup_dir = os.path.join(gate._index_dir("fps"), gate._part(bid))
    data = spark.read.parquet(src)
    f, _, _ = gate._batch_index_frames(data)
    f.write.mode("overwrite").parquet(dup_dir)
    fps, _, _ = gate.read_index(spark)
    assert sorted(r.doc_id for r in fps.collect()) == baseline  # no doubles
    gate.compact_index(spark, before_batch=10**9, max_batch_dirs=0)
    assert not os.path.exists(dup_dir)  # leftover swept

    # (b) drop the compact dir entirely: manifest gone -> repair rebuilds
    shutil.rmtree(gate._compact_dir("fps"))
    assert gate.repair_index(spark) > 0
    fps, _, _ = gate.read_index(spark)
    assert sorted(r.doc_id for r in fps.collect()) == baseline

    # (c) ADVICE r6: the same vanished-compact-dir crash, but the caller
    # goes STRAIGHT to read_index without repairing first — read_index
    # must detect the orphaned coverage (data batches in neither a live
    # dir nor the manifest) and self-heal instead of silently probing an
    # incomplete index. (repair in (b) rebuilt per-batch dirs, not the
    # compact dir — re-fold first so the manifest is live again.)
    gate.compact_index(spark, before_batch=10**9, max_batch_dirs=0)
    shutil.rmtree(gate._compact_dir("fps"))
    fps, _, _ = gate.read_index(spark)
    assert sorted(r.doc_id for r in fps.collect()) == baseline


def test_bridge_restart_resumes_without_duplicates(spark, tmp_path):
    """r6 golden — the full reference topology (opcsim source -> coercion ->
    watermarked last-value dedup -> Mongo-fake bulk upsert) driven through
    TWO restarts from one checkpoint: each micro-batch issues at most one
    replace per (collection, key), documents route to their server's
    collection, committed sweeps are never re-emitted after restart, and
    the final document per key equals a batch replay of all sweeps."""
    import functools
    import json
    import os

    from opc2mongodb_spark.opcmodel import raw_to_opc_values
    from opc2mongodb_spark.operators.last_value import last_value_per_key
    from opc2mongodb_spark.sources.opc import register
    from opc2mongodb_spark.streaming.pipeline import streaming_last_value
    from opc2mongodb_spark.streaming.sinks import MongoBulkUpsertSink

    class _SpoolClient:
        def __init__(self, spool_dir):
            self.spool_dir = spool_dir

        def bulk_replace(self, collection, ops):
            import uuid

            os.makedirs(self.spool_dir, exist_ok=True)
            with open(
                os.path.join(self.spool_dir, f"{uuid.uuid4().hex}.jsonl"), "w"
            ) as f:
                for key, doc_json in ops:
                    f.write(
                        json.dumps(
                            {"collection": collection, "key": key,
                             "doc": json.loads(doc_json)}
                        ) + "\n"
                    )

    register(spark)
    conf = os.path.join(os.path.dirname(__file__), "fixtures", "opcsim.conf")
    spool = str(tmp_path / "spool")
    ckpt = str(tmp_path / "ckpt")

    def run_phase(max_sweeps):
        raw = (
            spark.readStream.format("opcsim")
            .option("config", conf)
            .option("sweeps_per_batch", 2)
            .option("max_sweeps", max_sweeps)
            .load()
        )
        deduped = streaming_last_value(raw_to_opc_values(raw))

        def feed(batch, batch_id):
            sink = MongoBulkUpsertSink(
                functools.partial(
                    _SpoolClient, os.path.join(spool, f"b{batch_id:05d}")
                )
            )
            sink.foreach_batch(batch, batch_id)

        q = (
            deduped.writeStream.outputMode("append")
            .foreachBatch(feed)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        return sorted(os.listdir(spool)) if os.path.isdir(spool) else []

    batches_a = run_phase(4)            # sweeps 1..4
    batches_b = run_phase(8)            # restart #1: resumes, sweeps 5..8
    batches_c = run_phase(8)            # restart #2: nothing new to emit

    assert batches_a, "phase A produced no batches"
    assert set(batches_b) > set(batches_a), "restart did not resume"

    def read_ops(batch_dirs):
        ops = []
        for b in batch_dirs:
            d = os.path.join(spool, b)
            for fn in sorted(os.listdir(d)):
                with open(os.path.join(d, fn)) as f:
                    ops.extend((b, json.loads(line)) for line in f)
        return ops

    # restart #2 re-emitted nothing: no new batch dir contains any op
    new_after_c = [b for b in batches_c if b not in batches_b]
    assert read_ops(new_after_c) == []

    all_ops = read_ops(batches_b)
    # one replace per (collection, key) per micro-batch
    seen = set()
    for b, op in all_ops:
        k = (b, op["collection"], op["key"])
        assert k not in seen, f"duplicate replace in one batch: {k}"
        seen.add(k)

    # collection-per-server routing: both servers appear, each tag maps to
    # exactly one collection
    tag_to_coll = {}
    for _, op in all_ops:
        tag_to_coll.setdefault(op["key"], set()).add(op["collection"])
    assert {c for s in tag_to_coll.values() for c in s} == {
        "ServerA", "ServerB"
    }
    assert all(len(s) == 1 for s in tag_to_coll.values())

    # final document per key == batch replay over all 8 sweeps
    latest = {}
    for _, op in all_ops:
        k = (op["collection"], op["key"])
        cur = latest.get(k)
        if cur is None or op["doc"]["serverTimestamp"] >= cur["serverTimestamp"]:
            latest[k] = op["doc"]
    replay = (
        spark.read.format("opcsim")
        .option("config", conf)
        .option("sweeps", 8)
        .load()
    )
    expected = {
        (r.server, r.tag): r
        for r in last_value_per_key(
            raw_to_opc_values(replay), ["server", "tag"], "serverTimestamp"
        ).collect()
    }
    assert set(latest) == set(expected)
    for k, doc in latest.items():
        e = expected[k]
        assert doc["doubleValue"] == e.doubleValue, (k, doc, e)
        assert doc["boolValue"] == e.boolValue, (k, doc, e)
        assert doc["stringValue"] == e.stringValue, (k, doc, e)


def test_gate_compact_index_default_excludes_latest_batch(spark, tmp_path):
    """A standalone compact_index() call (before_batch=None) must never fold
    the HIGHEST batch id — that batch can still be retried by Structured
    Streaming, and folding it would freeze a stale copy into the manifest
    while the retry's fresh partition gets swept."""
    from opc2mongodb_spark.streaming.dedup_gate import CorpusIngestGate

    gate = CorpusIngestGate(str(tmp_path / "c"), compact_after=None)
    for b in range(4):
        df = spark.createDataFrame(
            [(b * 10 + i, " ".join(f"x{b}_{i}_{j}" for j in range(8)))
             for i in range(2)],
            "doc_id long, text string",
        )
        gate.process_batch(df, b)
    gate.compact_index(spark, max_batch_dirs=1)  # standalone maintenance
    man = gate._compacted_ids("fps")
    assert man == {0, 1, 2}, man  # batch 3 (the retryable max) stays live
    assert 3 in gate._batches(gate._index_dir("fps"))
    # retry of the latest batch still works and the index stays consistent
    df3 = spark.createDataFrame(
        [(30, "x3_0_" + " ".join(f"x3_0_{j}" for j in range(7))),
         (31, " ".join(f"x3_1_{j}" for j in range(8)))],
        "doc_id long, text string",
    )
    gate.process_batch(df3, 3)
    assert gate.repair_index(spark) == 0
    fps, _, _ = gate.read_index(spark)
    ids = sorted(r.doc_id for r in fps.collect())
    corpus = sorted(r.doc_id for r in gate.read_corpus(spark).collect())
    assert ids == corpus


def test_batch_ledger_reconciles_and_survives_restart(spark, tmp_path):
    """r7 golden for BatchLedger: three micro-batches through a restart
    write exactly one ledger row each; the grand totals reconcile against
    a batch replay of all data (count + decimal sum + xor-hash fold,
    order- and boundary-insensitive); a simulated RETRY of a batch
    replaces its row instead of duplicating it; and a tampered replay
    (one row dropped) is detected."""
    import os
    from datetime import datetime

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from opc2mongodb_spark.streaming.ledger import BatchLedger

    schema = T.StructType(
        [
            T.StructField("server", T.StringType()),
            T.StructField("tag", T.StringType()),
            T.StructField("doubleValue", T.DoubleType()),
            T.StructField("serverTimestamp", T.TimestampType()),
        ]
    )

    def rows(vals, t0):
        return [
            ("s1", f"t{i % 3}", v, datetime(2024, 1, 1, 10, 0, 0, t0 + i))
            for i, v in enumerate(vals)
        ]

    b1, b2, b3 = [1.5, 2.25, 3.0], [4.5, 5.125], [6.0, 7.75, 8.5, 9.0]
    src = tmp_path / "src"
    src.mkdir()
    ledger = BatchLedger(
        str(tmp_path / "ledger"),
        hash_cols=["server", "tag", "serverTimestamp", "doubleValue"],
        value_col="doubleValue",
    )

    def feed(vals, name, t0):
        spark.createDataFrame(rows(vals, t0), schema).coalesce(1).write.parquet(
            str(src / name)
        )

    def start():
        stream = spark.readStream.schema(schema).parquet(str(src / "*"))
        return (
            stream.writeStream.foreachBatch(ledger.foreach_batch)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )

    feed(b1, "b1", 0)
    q = start()
    try:
        q.processAllAvailable()
        feed(b2, "b2", 1000)
        q.processAllAvailable()
    finally:
        q.stop()
    feed(b3, "b3", 2000)
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    led = ledger.read(spark)
    assert led.count() == 3
    assert sorted(r.batch_id for r in led.collect()) == [0, 1, 2]

    all_rows = rows(b1, 0) + rows(b2, 1000) + rows(b3, 2000)
    replay = spark.createDataFrame(all_rows, schema)
    rec = ledger.reconcile(spark, replay)
    assert rec["ok"], rec
    assert rec["ledger"]["n_rows"] == len(all_rows)

    # simulated retry: re-run batch 1's ledger write; still 3 rows, same totals
    batch1 = spark.createDataFrame(rows(b2, 1000), schema)
    ledger.foreach_batch(batch1, 1)
    assert ledger.read(spark).count() == 3
    assert ledger.reconcile(spark, replay)["ok"]

    # tamper: drop one row from the replay -> detected
    bad = replay.filter(F.col("doubleValue") != 5.125)
    rec = ledger.reconcile(spark, bad)
    assert not rec["ok"], rec
    assert rec["ledger"]["n_rows"] == rec["replay"]["n_rows"] + 1


def test_bridge_with_quota_and_ledger_reconciles(spark, tmp_path):
    """r7 composition golden: the bridge topology with the round's two new
    pieces in line — opcsim -> coercion -> quota_gate (capacity generous:
    the gate must be LOSSLESS when under quota) -> watermarked last-value
    dedup -> Mongo-fake sink, with a BatchLedger checksumming every
    deduped micro-batch. Through a restart: every row is admitted, and
    the ledger (input side) reconciles exactly against a replay built
    from the SPOOL (output side) — the end-to-end delivery audit the
    ledger exists for; removing one spooled op breaks reconciliation."""
    import functools
    import json
    import os

    from pyspark.sql import functions as F

    from opc2mongodb_spark.opcmodel import raw_to_opc_values
    from opc2mongodb_spark.sources.opc import register
    from opc2mongodb_spark.streaming.ledger import BatchLedger
    from opc2mongodb_spark.streaming.pipeline import streaming_last_value
    from opc2mongodb_spark.streaming.sinks import MongoBulkUpsertSink
    from opc2mongodb_spark.streaming.stateful import quota_gate

    class _SpoolClient:
        def __init__(self, spool_dir):
            self.spool_dir = spool_dir

        def bulk_replace(self, collection, ops):
            import uuid

            os.makedirs(self.spool_dir, exist_ok=True)
            with open(
                os.path.join(self.spool_dir, f"{uuid.uuid4().hex}.jsonl"), "w"
            ) as f:
                for key, doc_json in ops:
                    f.write(
                        json.dumps(
                            {"collection": collection, "key": key,
                             "doc": json.loads(doc_json)}
                        ) + "\n"
                    )

    register(spark)
    conf = os.path.join(os.path.dirname(__file__), "fixtures", "opcsim.conf")
    spool = str(tmp_path / "spool")
    ledger = BatchLedger(
        str(tmp_path / "ledger"),
        hash_cols=["server", "tag", "doubleValue"],
        value_col="doubleValue",
    )

    def run_phase(max_sweeps):
        raw = (
            spark.readStream.format("opcsim")
            .option("config", conf)
            .option("sweeps_per_batch", 2)
            .option("max_sweeps", max_sweeps)
            .load()
        )
        opc = raw_to_opc_values(raw)
        gated = quota_gate(opc, rate_per_sec=1e6, burst=1e6)
        assert "admitted" in gated.columns
        admitted = gated.filter(F.col("admitted")).drop(
            "admitted", "tokens_after"
        )
        deduped = streaming_last_value(admitted)

        def feed(batch, batch_id):
            # ledger the frame the sink actually WRITES (the sink
            # collapses its batch to one row per key before the bulk
            # replace) — an input-side ledger on the raw deduped stream
            # would legitimately count more rows than deliveries
            from opc2mongodb_spark.operators.last_value import (
                last_value_per_key,
            )

            ledger.foreach_batch(
                last_value_per_key(batch, ["server", "tag"],
                                   "serverTimestamp"),
                batch_id,
            )
            sink = MongoBulkUpsertSink(
                functools.partial(
                    _SpoolClient, os.path.join(spool, f"b{batch_id:05d}")
                )
            )
            sink.foreach_batch(batch, batch_id)

        q = (
            deduped.writeStream.outputMode("append")
            .foreachBatch(feed)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run_phase(4)
    run_phase(8)  # restart, resumes

    # rebuild the OUTPUT side from the spool
    docs = []
    for b in sorted(os.listdir(spool)):
        d = os.path.join(spool, b)
        for fn in sorted(os.listdir(d)):
            with open(os.path.join(d, fn)) as f:
                for line in f:
                    op = json.loads(line)
                    dv = op["doc"].get("doubleValue")
                    docs.append(
                        (
                            op["collection"],
                            op["doc"]["tag"],
                            float(dv) if dv is not None else None,
                        )
                    )
    assert docs, "no spooled documents"
    replay = spark.createDataFrame(
        docs, "server string, tag string, doubleValue double"
    )
    rec = ledger.reconcile(spark, replay)
    assert rec["ok"], rec
    assert rec["ledger"]["n_rows"] == len(docs)

    # losing one delivery breaks the audit
    bad = spark.createDataFrame(
        docs[1:], "server string, tag string, doubleValue double"
    )
    assert not ledger.reconcile(spark, bad)["ok"]


def test_tumbling_ohlc_candles(spark, tmp_path):
    """r8 golden: streaming OHLC equals hand-computed candles — open/close
    pick the first/last value by sourceTimestamp inside each window (exact
    carried values, no float tolerance needed), high/low are plain
    min/max, and a late-but-in-window row folds into the same candle."""
    from datetime import datetime, timedelta

    from pyspark.sql import types as T

    from opc2mongodb_spark.streaming.pipeline import tumbling_ohlc

    schema = T.StructType(
        [
            T.StructField("server", T.StringType()),
            T.StructField("tag", T.StringType()),
            T.StructField("doubleValue", T.DoubleType()),
            T.StructField("sourceTimestamp", T.TimestampType()),
        ]
    )
    t0 = datetime(2024, 1, 1, 10, 0, 0)
    rows = [
        # hour 10: open=5 (earliest), high=9, low=1, close=7 (latest)
        ("s1", "t1", 5.0, t0 + timedelta(minutes=1)),
        ("s1", "t1", 9.0, t0 + timedelta(minutes=20)),
        ("s1", "t1", 1.0, t0 + timedelta(minutes=30)),
        ("s1", "t1", 7.0, t0 + timedelta(minutes=50)),
        # hour 11 arrives FIRST in file order; hour-10 row after it is
        # "late" but inside the watermark -> still folds into hour 10
        ("s1", "t1", 4.0, t0 + timedelta(hours=1, minutes=5)),
    ]
    late = ("s1", "t1", 0.5, t0 + timedelta(minutes=55))

    src = tmp_path / "src"
    src.mkdir()
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
        str(src / "b1")
    )
    spark.createDataFrame([late], schema).coalesce(1).write.parquet(
        str(src / "b2")
    )
    stream = spark.readStream.schema(schema).parquet(str(src / "*"))
    q = (
        tumbling_ohlc(stream, "1 hour")
        .writeStream.format("memory")
        .queryName("ohlc")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            r.bucket_start: (r.n, r.open, r.high, r.low, r.close)
            for r in spark.sql("select * from ohlc").collect()
        }
    finally:
        q.stop()

    assert got == {
        t0: (5, 5.0, 9.0, 0.5, 0.5),  # late 10:55 row IS the close and low
        t0 + timedelta(hours=1): (1, 4.0, 4.0, 4.0, 4.0),
    }


def test_gate_compact_index_heals_crash_leftover_dirs(spark, tmp_path):
    """compact_index must sweep a half-written ._staging dir (crash during
    the fold write) and a stale ._pre backup (crash between the two swap
    renames) instead of failing or double-counting — the parquet-swap
    crash-healing discipline (guard_edges pins the same for
    compact_parquet)."""
    import os
    import shutil

    from opc2mongodb_spark.streaming.dedup_gate import CorpusIngestGate

    gate = CorpusIngestGate(str(tmp_path / "c"), compact_after=4)
    for b in range(5):
        df = spark.createDataFrame(
            [(b * 10 + i, " ".join(f"w{b}_{i}_{j}" for j in range(10)))
             for i in range(2)],
            "doc_id long, text string",
        )
        gate.process_batch(df, b)
    assert gate._compacted_ids("fps"), "compaction never triggered"
    fps, _, _ = gate.read_index(spark)
    baseline = sorted(r.doc_id for r in fps.collect())

    # plant BOTH crash leftovers, then force a second fold
    staging = gate._staging_dir("fps_compact")
    os.makedirs(staging, exist_ok=True)
    with open(os.path.join(staging, "junk"), "w") as fh:
        fh.write("crashed prior fold")
    backup = gate._compact_dir("fps") + "._pre"
    shutil.copytree(gate._compact_dir("fps"), backup)

    df = spark.createDataFrame(
        [(900, "w900 " * 10), (901, "w901 " * 10)], "doc_id long, text string"
    )
    gate.process_batch(df, 5)
    gate.compact_index(spark, before_batch=10**9, max_batch_dirs=0)

    assert not os.path.exists(staging)   # half-write swept
    assert not os.path.exists(backup)    # stale backup swept
    fps, _, _ = gate.read_index(spark)
    assert sorted(r.doc_id for r in fps.collect()) == baseline + [900, 901]
