"""Driver-side edge coverage: argument-validation guards, recovery branches,
and facade wiring that the behavioral suites never reach (found by
``tools/line_coverage.py`` over the full non-oracle run).

Every test here is cheap (no oracle compare, tiny frames); the point is
that misconfiguration fails LOUDLY with the documented message before any
expensive stage runs, and that crash-leftover/empty-input recovery branches
actually take the path their comments claim."""

from __future__ import annotations

import os
from types import SimpleNamespace

import pytest
from pyspark.sql import functions as F


def _docs(spark):
    return spark.createDataFrame(
        [("a", "the quick brown fox"), ("b", "the quick brown fox"),
         ("c", "entirely different words here")],
        "doc_id string, text string",
    )


# ---------------------------------------------------------------- guards


def test_simhash_bit_width_guard(spark):
    from opc2mongodb_spark.functions.text import simhash

    with pytest.raises(ValueError, match=r"n_bits must be in \[1, 128\]"):
        simhash(_docs(spark), "doc_id", F.col("text"), n_bits=0)


def test_simhash_neardup_band_guards(spark):
    from opc2mongodb_spark.operators.dedup import simhash_neardup_pairs

    d = _docs(spark)
    with pytest.raises(ValueError, match="n_bands must divide"):
        simhash_neardup_pairs(d, "doc_id", "text", n_bands=3, n_bits=16)
    with pytest.raises(ValueError, match="pigeonhole"):
        simhash_neardup_pairs(d, "doc_id", "text", n_bands=2, max_hamming=2)
    with pytest.raises(ValueError, match="exceeds 63 bits"):
        simhash_neardup_pairs(
            d, "doc_id", "text", n_bands=1, max_hamming=0, n_bits=128
        )


def test_hamming_neardup_band_guards(spark):
    from opc2mongodb_spark.operators.dedup import hamming_neardup_pairs

    sigs = spark.createDataFrame([("a", 5)], "doc_id string, sig long")
    with pytest.raises(ValueError, match="n_bands must divide"):
        hamming_neardup_pairs(sigs, "doc_id", "sig", n_bands=3, n_bits=64)
    with pytest.raises(ValueError, match="pigeonhole"):
        hamming_neardup_pairs(
            sigs, "doc_id", "sig", n_bands=2, max_hamming=3, n_bits=64
        )
    with pytest.raises(ValueError, match="exceeds 63 bits"):
        hamming_neardup_pairs(
            sigs, "doc_id", "sig", n_bands=1, max_hamming=0, n_bits=128
        )


def test_prefix_filter_threshold_guard(spark):
    from opc2mongodb_spark.operators.dedup import prefix_filter_pairs

    with pytest.raises(ValueError, match=r"threshold must be in \(0, 1\]"):
        prefix_filter_pairs(_docs(spark), "doc_id", "text", threshold=0.0)


def test_incremental_keep_list_requires_index_frames(spark):
    from opc2mongodb_spark.operators.dedup import incremental_keep_list

    with pytest.raises(ValueError, match="corpus_fps AND corpus_sigs"):
        incremental_keep_list(None, _docs(spark), "doc_id", "text")


def test_merge_agg_state_rejects_non_state_frames(spark):
    from opc2mongodb_spark.operators.incremental import merge_agg_state

    bare = spark.createDataFrame([("k", 1)], "k string, v int")
    with pytest.raises(ValueError, match="lacks state columns"):
        merge_agg_state(bare)


def test_asof_join_direction_guard(spark):
    from opc2mongodb_spark.operators.asof import asof_join

    ev = spark.createDataFrame(
        [("t", 1.0)], "tag string, ts double"
    )
    with pytest.raises(ValueError, match="backward|forward"):
        asof_join(ev, ev, ["tag"], "ts", "ts", ["ts"], direction="sideways")


def test_lloyd_empty_centroids_guard(spark):
    from opc2mongodb_spark.operators.kmeans import lloyd

    emb = spark.createDataFrame(
        [(1, [0.0, 1.0])], "vec_id int, embedding array<double>"
    )
    no_cents = spark.createDataFrame([], "cid int, cv array<double>")
    with pytest.raises(ValueError, match="at least one initial centroid"):
        lloyd(emb, no_cents)


def test_shard_assignment_guard(spark):
    from opc2mongodb_spark.operators.sharding import shard_assignment

    with pytest.raises(ValueError, match="n_shards"):
        shard_assignment(_docs(spark), "doc_id", n_shards=0)


def test_mmr_lambda_guard(spark):
    from opc2mongodb_spark.operators.similarity import mmr_rerank

    cand = spark.createDataFrame(
        [(1, "a", 0.9, [1.0, 0.0])],
        "query_id int, doc_id string, rel double, embedding array<double>",
    )
    with pytest.raises(ValueError, match=r"lam must be in \[0, 1\]"):
        mmr_rerank(cand, k=1, lam=1.5)


def test_curate_corpus_parameter_guards(spark):
    from opc2mongodb_spark.pipelines import curate_corpus

    d = _docs(spark)
    with pytest.raises(ValueError, match="min_quality"):
        curate_corpus(d, min_quality=7)
    with pytest.raises(ValueError, match="jaccard_threshold"):
        curate_corpus(d, jaccard_threshold=0.0)
    with pytest.raises(ValueError, match="per_stratum_cap"):
        curate_corpus(d, per_stratum_cap=0)


def test_curate_corpus_language_filter(spark):
    """The ``langs`` gate (pipelines.py stage 1) drops documents whose
    heuristic lang_id is not in the allow-list, before any dedup work."""
    from opc2mongodb_spark.functions.text import lang_id
    from opc2mongodb_spark.pipelines import curate_corpus
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog and the cat",
             "en", "web", 56),
            (2, "el perro y el gato corren por la calle de la ciudad hoy",
             "es", "web", 55),
        ],
        "doc_id long, text string, lang string, source string, n_chars int",
    )
    langs = {
        r.doc_id: r.l
        for r in docs.select("doc_id", lang_id(F.col("text")).alias("l")).collect()
    }
    assert len(set(langs.values())) == 2, langs  # fixture spans two langs
    keep_lang = langs[1]
    res = curate_corpus(docs, min_quality=0, langs=(keep_lang,))
    kept = {r.doc_id for r in res.kept.select("doc_id").collect()}
    assert kept == {i for i, l in langs.items() if l == keep_lang}


def test_streaming_gate_parameter_guards(spark):
    """The stateful gates validate args/columns BEFORE any streaming query
    starts — these raise on a plain batch frame, no checkpoint needed."""
    from opc2mongodb_spark.streaming.stateful import (
        heavy_hitters_stream,
        psi_drift_stream,
        quota_gate,
        watchdog_stream,
    )

    opc = spark.createDataFrame(
        [("s1", "t1", 1.0)], "server string, tag string, doubleValue double"
    ).withColumn("serverTimestamp", F.current_timestamp())

    with pytest.raises(ValueError, match="<=9 edges and 10 reference"):
        psi_drift_stream(opc, edges=[1.0] * 10, ref_counts=[1] * 10)
    with pytest.raises(ValueError, match="<=9 edges and 10 reference"):
        psi_drift_stream(opc, edges=[1.0] * 9, ref_counts=[1] * 9)
    with pytest.raises(ValueError, match="k must be >= 1"):
        heavy_hitters_stream(opc, k=0)
    with pytest.raises(ValueError, match="rate_per_sec > 0"):
        quota_gate(opc, rate_per_sec=0, burst=4)
    with pytest.raises(ValueError, match="needs a serverTimestamp"):
        quota_gate(opc.drop("serverTimestamp"), rate_per_sec=1, burst=4)
    with pytest.raises(ValueError, match="stale_after_s > 0"):
        watchdog_stream(opc, stale_after_s=0)
    with pytest.raises(ValueError, match="needs a doubleValue"):
        watchdog_stream(opc.drop("doubleValue"), stale_after_s=30)
    from opc2mongodb_spark.streaming.stateful import hysteresis_stream

    with pytest.raises(ValueError, match="need hi > lo"):
        hysteresis_stream(opc, hi=1.0, lo=1.0)


def test_load_table_converts_nanos_timestamps(spark, tmp_path):
    """A TIMESTAMP_NS parquet (pandas/pyarrow writers default to ns) must
    load through the footer probe + nanosAsLong + DIV-1000 path and come
    out as microsecond timestamps with values intact. The driver fixtures
    are all timestamp[us] now, so this compat branch needs its own
    ns-stamped fixture."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from opc2mongodb_spark.sources.tables import _nanos_timestamp_cols, load_table

    t = datetime.datetime(2024, 1, 2, 3, 4, 5, 123456)
    tbl = pa.table(
        {
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array([t, None], pa.timestamp("ns")),
        }
    )
    pq.write_table(tbl, str(tmp_path / "events.parquet"))
    assert _nanos_timestamp_cols(str(tmp_path / "events.parquet")) == ("ts",)

    df = load_table(spark, str(tmp_path), "events")
    assert dict(df.dtypes)["ts"] == "timestamp"
    got = {r.event_id: r.ts for r in df.collect()}
    assert got[1] == t and got[2] is None


def test_load_table_requires_the_table_conf(spark, tmp_path):
    """load_table checks the two keys get_spark sets and never writes the
    session: a non-UTC session and, for a table with nanosecond columns, a
    session without nanosAsLong get a ValueError naming the key. Each
    case runs in a child session, so the shared one is untouched."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from opc2mongodb_spark.sources.tables import load_table

    ts = pa.array([datetime.datetime(2024, 1, 2)], pa.timestamp("ns"))
    pq.write_table(pa.table({"ts": ts}), str(tmp_path / "events.parquet"))
    pq.write_table(pa.table({"r": [1]}), str(tmp_path / "region.parquet"))

    def session(tz: str, nanos: str):
        s = spark.newSession()
        s.conf.set("spark.sql.session.timeZone", tz)
        s.conf.set("spark.sql.legacy.parquet.nanosAsLong", nanos)
        return s

    with pytest.raises(ValueError, match="spark.sql.session.timeZone"):
        load_table(session("Asia/Tokyo", "true"), str(tmp_path), "region")
    no_nanos = session("UTC", "false")
    with pytest.raises(
        ValueError, match="spark.sql.legacy.parquet.nanosAsLong"
    ):
        load_table(no_nanos, str(tmp_path), "events")
    assert load_table(no_nanos, str(tmp_path), "region").count() == 1
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"


def test_parse_step_accepts_bare_unit():
    from opc2mongodb_spark.operators.resample import _parse_step

    assert _parse_step("hour") == (1, "hour")
    assert _parse_step("15 minute") == (15, "minute")


def test_load_table_rejects_unknown_names(spark):
    from opc2mongodb_spark.sources.tables import load_table

    with pytest.raises(KeyError, match="unknown table"):
        load_table(spark, "/root/testdata/sf0.001", "not_a_table")


def test_nanos_probe_on_dataset_without_data_files_is_empty(tmp_path):
    """A directory dataset holding no *.parquet data file (only markers
    like _SUCCESS) has nothing to footer-sniff — the probe reports no
    nanosecond columns instead of erroring."""
    from opc2mongodb_spark.sources.tables import _nanos_timestamp_cols

    d = tmp_path / "empty.parquet"
    d.mkdir()
    (d / "_SUCCESS").touch()
    assert _nanos_timestamp_cols(str(d)) == ()


# ------------------------------------------------- recovery / wiring edges


def test_sdt_kernel_duplicate_timestamp_arms():
    """Same-timestamp points: inside the deviation band the newer point
    simply replaces the pending point (nothing archived); outside the band
    it must be archived immediately (a step change at one instant)."""
    from opc2mongodb_spark.operators.compress import SdtKernel

    k = SdtKernel(1.0)
    assert k.push(0.0, 10.0) == [(0.0, 10.0, None)]  # first point archives
    assert k.push(0.0, 10.5) == []                   # in-band duplicate ts
    out = k.push(0.0, 20.0)                          # out-of-band duplicate
    assert out == [(0.0, 20.0, None)]


def test_sdt_kernel_state_roundtrip_resumes_identically():
    """state_tuple()/from_state() must reproduce the kernel's decisions —
    the checkpoint-recovery contract of the streaming gate."""
    from opc2mongodb_spark.operators.compress import SdtKernel

    pts = [(0.0, 0.0), (1.0, 0.1), (2.0, 5.0), (3.0, 5.1), (4.0, -2.0)]
    k1 = SdtKernel(0.5)
    out1 = []
    for t, v in pts:
        out1 += k1.push(t, v)

    k2 = SdtKernel(0.5)
    out2 = []
    for t, v in pts[:2]:
        out2 += k2.push(t, v)
    k3 = SdtKernel.from_state(0.5, k2.state_tuple())
    for t, v in pts[2:]:
        out2 += k3.push(t, v)
    assert out1 == out2 and k1.state_tuple() == k3.state_tuple()


def test_store_merge_skips_empty_batch_and_heals_staging(spark, tmp_path):
    from opc2mongodb_spark.streaming.sinks import CurrentValuesStore

    store = CurrentValuesStore(str(tmp_path / "cv"), backend="parquet")
    rows = spark.createDataFrame(
        [("s1", "t1", 1.0, 1)],
        "server string, tag string, doubleValue double, serverTimestamp long",
    )
    # empty batch: early return, store not created
    store.merge_batch(rows.filter(F.lit(False)))
    assert store.read(spark) is None
    # crash leftovers: generations no manifest references (one at the
    # number this merge writes, one on a server the store never committed)
    # must be cleared, not merged
    rows.write.parquet(os.path.join(store.path, "server=s1", "gen=1"))
    rows.write.parquet(os.path.join(store.path, "server=s9", "gen=4"))
    store.merge_batch(rows)
    got = store.read(spark)
    assert got is not None and got.count() == 1
    assert os.listdir(os.path.join(store.path, "server=s1")) == ["gen=1"]
    assert not os.listdir(os.path.join(store.path, "server=s9"))


def test_sink_writer_wiring_builds_both_trigger_paths(spark, tmp_path):
    """upsert_query writer construction for both sinks (the parquet store
    and the Mongo bulk sink) on both the triggered and untriggered paths
    (wiring only — the writer is built but never started; the trigger
    VALUE has no public getter on DataStreamWriter, and the behavioral
    trigger cadence is covered by the streaming goldens that start real
    queries)."""
    from pyspark.sql.streaming import DataStreamWriter

    from opc2mongodb_spark.streaming.sinks import (
        CurrentValuesStore,
        MongoBulkUpsertSink,
        upsert_query,
    )

    stream = spark.readStream.format("rate").load()
    store = CurrentValuesStore(str(tmp_path / "cv"), backend="parquet")
    sink = MongoBulkUpsertSink(client_factory=lambda: None)
    for secs in (None, 5):
        w1 = upsert_query(stream, store, str(tmp_path / "ck1"),
                          trigger_seconds=secs)
        w2 = upsert_query(stream, sink, str(tmp_path / "ck2"),
                          trigger_seconds=secs)
        assert isinstance(w1, DataStreamWriter)
        assert isinstance(w2, DataStreamWriter)


def test_batch_ledger_lifecycle_and_empty_reconcile(spark, tmp_path):
    from opc2mongodb_spark.streaming.ledger import BatchLedger

    rows = spark.createDataFrame(
        [("t1", 1.5), ("t2", 2.5)], "tag string, v double"
    )
    empty_led = BatchLedger(str(tmp_path / "none"), ["tag"], value_col="v")
    # no ledger rows yet: reconcile passes only against an empty replay
    assert empty_led.reconcile(spark, rows.filter(F.lit(False)))["ok"]
    assert not empty_led.reconcile(spark, rows)["ok"]
    assert empty_led.read(spark) is None and empty_led.totals(spark) is None

    led = BatchLedger(str(tmp_path / "led"), ["tag"], value_col="v")
    os.makedirs(os.path.join(led.root, "_staging_batch_0"))  # crash leftover
    led.foreach_batch(rows, 0)
    led.foreach_batch(rows.limit(1), 1)
    rec = led.reconcile(spark, rows.unionByName(rows.limit(1)))
    assert rec["ok"], rec
    assert not led.reconcile(spark, rows)["ok"]  # lost row detected


def test_compact_parquet_heals_crash_leftovers(spark, tmp_path):
    from opc2mongodb_spark.operators.compaction import compact_parquet

    path = str(tmp_path / "t")
    spark.range(1000).repartition(8).write.parquet(path)
    os.makedirs(path + "._compact_staging")  # crashed prior attempt
    os.makedirs(path + "._pre_compact")      # stale prior backup
    stats = compact_parquet(spark, path, target_bytes=1 << 30)
    assert stats["compacted"] and stats["files_after"] < stats["files_before"]
    assert spark.read.parquet(path).count() == 1000


def test_engine_composed_facades(spark, sf_dir):
    from opc2mongodb_spark.engine import Engine

    eng = Engine(spark)
    assert eng.experiment(sf_dir).count() == 1
    assert eng.monitor(sf_dir).count() == 1
    feats = eng.features(sf_dir)
    assert feats.count() > 0 and "user_id" in feats.columns


def test_build_session_conf_env_defaults_and_layering(monkeypatch):
    """The conf map get_spark applies, asserted WITHOUT creating or
    mutating a live session: master derives from $SPARK_GRAFT_CPUS, the
    RocksDB env toggle adds the provider class, and extra_conf layers
    last (overriding defaults)."""
    from opc2mongodb_spark.session import ROCKSDB_PROVIDER, build_session_conf

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "8")
    monkeypatch.delenv("SPARK_GRAFT_STATE_STORE", raising=False)
    conf = build_session_conf()
    assert conf["spark.master"] == "local[8]"
    assert conf["spark.sql.shuffle.partitions"] == "8"
    assert "spark.sql.streaming.stateStore.providerClass" not in conf
    # r12: the stats-gated SMJ->SHJ conversion bound ships on by default
    assert (
        conf["spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold"]
        == "128m"
    )
    # the two keys load_table requires (it checks them, never sets them)
    assert conf["spark.sql.session.timeZone"] == "UTC"
    assert conf["spark.sql.legacy.parquet.nanosAsLong"] == "true"

    monkeypatch.setenv("SPARK_GRAFT_STATE_STORE", "rocksdb")
    conf = build_session_conf(
        master="local[2]", extra_conf={"spark.ui.enabled": "true"}
    )
    assert conf["spark.master"] == "local[2]"
    assert (
        conf["spark.sql.streaming.stateStore.providerClass"]
        == ROCKSDB_PROVIDER
    )
    assert conf["spark.ui.enabled"] == "true"  # extra_conf wins over default


def test_plan_contains_helper(spark):
    from opc2mongodb_spark.plans import plan_contains

    df = spark.range(10).filter(F.col("id") > 3)
    assert plan_contains(df, "Filter")
    assert not plan_contains(df, "CartesianProduct")


def test_console_progress_listener_formats_events(capsys):
    from opc2mongodb_spark.streaming.observability import (
        OBSERVATION_NAME,
        ConsoleProgressListener,
    )

    lst = ConsoleProgressListener(log_progress=True, log_events=True)
    lst.onQueryStarted(SimpleNamespace(id="q1"))
    lst.onQueryProgress(
        SimpleNamespace(
            progress=SimpleNamespace(
                numInputRows=7,
                batchId=3,
                processedRowsPerSecond=123.4,
                observedMetrics={OBSERVATION_NAME: {"rows": 7}},
            )
        )
    )
    lst.onQueryIdle(SimpleNamespace(id="q1"))
    lst.onQueryTerminated(SimpleNamespace(id="q1"))
    out = capsys.readouterr().out
    assert "query started: q1" in out and "batch=3 rows=7" in out
    assert "observed=" in out and "terminated: q1" in out
    assert lst.progress_rows == [7]


def test_dedup_gate_listing_and_read_corpus_edges(spark, tmp_path):
    """read_corpus edges: an empty corpus reads as None, a stray directory
    is ignored (reads list only the manifest's segments), and exclude_batch
    removes exactly the retried batch."""
    from opc2mongodb_spark.streaming.dedup_gate import CorpusIngestGate

    gate = CorpusIngestGate(str(tmp_path / "corpus"))
    assert gate.read_corpus(spark) is None  # nothing ingested yet

    docs = spark.createDataFrame(
        [("a", "alpha text"), ("b", "beta text")], "doc_id string, text string"
    )
    gate.process_batch(docs, 0)
    gate.process_batch(
        spark.createDataFrame([("c", "gamma text")], "doc_id string, text string"),
        1,
    )
    for stray in ("ingest_batch=junk", os.path.join("data", "junk")):
        os.makedirs(os.path.join(gate.corpus_dir, stray))

    full = gate.read_corpus(spark)
    assert {r.doc_id for r in full.select("doc_id").collect()} == {"a", "b", "c"}
    retry_view = gate.read_corpus(spark, exclude_batch=1)
    assert {r.doc_id for r in retry_view.select("doc_id").collect()} == {"a", "b"}


def test_normalize_stream_twin_and_nanos_table_load(spark, sf_dir):
    """normalize_stream is the exported streaming name for the batch
    normalize — same expressions, same schema — and load_table's
    nanosecond-timestamp conversion yields real TimestampType columns on
    the events table (the one table written with ns precision)."""
    from opc2mongodb_spark.sources.tables import load_table
    from opc2mongodb_spark.streaming import normalize_stream

    ev = load_table(spark, sf_dir, "events")
    # ns-written parquet column arrives as a real timestamp, not raw longs
    assert ev.schema["ts"].dataType.typeName().startswith("timestamp")
    out = normalize_stream(ev)
    assert {"tag", "doubleValue", "boolValue", "stringValue"} <= set(out.columns)
    assert out.count() == ev.count()  # pure per-row normalize, no drops


def test_opc_value_wire_schema_contract(spark, sf_dir):
    """The declared OPC_VALUE_SCHEMA (the reference's 8-field document +
    server routing column, Program.cs:1159-1172) is exactly the leading
    fields of the normalize output; the single trailing extra is event_id,
    the batch twin's deterministic last-value tiebreaker."""
    from opc2mongodb_spark.opcmodel import OPC_VALUE_SCHEMA, events_as_opc_values
    from opc2mongodb_spark.sources.tables import load_table

    out = events_as_opc_values(load_table(spark, sf_dir, "events"))
    lead = out.schema.fields[: len(OPC_VALUE_SCHEMA.fields)]
    # names + types are the contract; nullability is derived per-expression
    assert [(f.name, f.dataType) for f in lead] == [
        (f.name, f.dataType) for f in OPC_VALUE_SCHEMA.fields
    ]
    assert [f.name for f in out.schema.fields[len(OPC_VALUE_SCHEMA.fields):]] == [
        "event_id"
    ]
    # The live-path producer (raw_to_opc_values) matches the contract on
    # every field EXCEPT the two timestamps, which stay ZONED by design:
    # streaming watermarks reject TIMESTAMP_NTZ
    # ([EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE]) and that producer feeds every
    # streaming pipeline — see the raw_to_opc_values docstring. This pin
    # makes the divergence a documented contract, not an accident.
    import pyspark.sql.types as T

    from opc2mongodb_spark.opcmodel import raw_to_opc_values
    from opc2mongodb_spark.sources.opc import RAW_SCHEMA

    live = raw_to_opc_values(spark.createDataFrame([], RAW_SCHEMA))
    zoned = {"sourceTimestamp", "serverTimestamp"}
    expect = [
        (f.name, T.TimestampType() if f.name in zoned else f.dataType)
        for f in OPC_VALUE_SCHEMA.fields
    ]
    assert [(f.name, f.dataType) for f in live.schema.fields] == expect
