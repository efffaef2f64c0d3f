"""Streaming-throughput bench (r10 — the one surface bench.py never measured).

The reference IS a streaming bridge: per-server reader threads feed a global
queue drained by ONE consumer that awaits ONE ``ReplaceOneAsync`` RPC per
record (reference OPC2MongoDB/Program.cs:1157-1183). That architecture's
throughput ceiling is 1/RTT per consumer thread — ~1,000 rows/s at a 1 ms
local round-trip, INDEPENDENT of cores — and its latency floor is the queue
depth times that RTT. This tool measures the Spark twin's sustained
throughput so the comparison is recorded, not asserted:

- **flagship lane** — the shipped bridge, ``Engine.ingest``, end-to-end:
  opcsim streaming source (Python data source, per-server partitions) →
  the same normalize expressions as batch (``raw_to_opc_values``) →
  stateless ``foreachBatch`` upsert into the partitioned current-values
  store (``CurrentValuesStore``, parquet backend here; Delta where
  importable). Run at three micro-batch sizes. This lane is SOURCE-BOUND
  by design honesty: the simulator renders each value in Python (md5 per
  cell), so its rows/s is a floor for the engine, not a ceiling.
- **mongo-model lane** — the flagship stream driven into
  ``MongoBulkUpsertSink`` with an injected no-op client: measures the
  render + bulk-group path of the reference's exact sink contract (one
  ReplaceOne-shaped op per changed key per batch) with the RPC cost zeroed,
  i.e. the engine-side cost of the reference's per-record sink re-expressed
  as per-batch bulks.
- **dedup-gate lanes** — the corpus-ingest gate (``CorpusIngestGate``) at
  two corpus sizes: admit throughput as the persisted index grows.

Metrics per lane (from ``StreamingQuery.recentProgress``; the first
``WARMUP`` batches are excluded — cold-JIT on first frames is attributed in
SCALING.md): total rows, wall seconds, rows/s over busy trigger time,
p50/p95 ``triggerExecution`` ms, batches measured, final state rows
(``null`` for a lane with no stateful operator).

Usage:
    python tools/stream_bench.py [--out STREAMBENCH_rN.json] [--quick]

Prints ONE compact JSON line (the BENCH_r{N}.json discipline) and, with
--out, writes it to the given path.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import tempfile
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

WARMUP = 2  # progress entries excluded from rate/percentile stats


def _pct(sorted_vals: list[float], q: float) -> float:
    """Nearest-rank percentile on a pre-sorted list (no numpy dependency —
    the tool must not import the bench path's heavyweight stack)."""
    if not sorted_vals:
        return float("nan")
    k = max(0, min(len(sorted_vals) - 1, math.ceil(q * len(sorted_vals)) - 1))
    return sorted_vals[k]


def _lane_metrics(progress: list[dict], wall_s: float) -> dict:
    """Reduce a query's progress entries to the compact lane record."""
    busy = [p for p in progress if p["numInputRows"] > 0]
    measured = busy[WARMUP:] if len(busy) > WARMUP else busy
    rows = sum(p["numInputRows"] for p in measured)
    trig_ms = sorted(
        float(p["durationMs"].get("triggerExecution", 0)) for p in measured
    )
    busy_s = sum(trig_ms) / 1000.0
    state_rows = None
    for p in reversed(busy):
        ops = p.get("stateOperators") or []
        if ops:
            state_rows = int(ops[0].get("numRowsTotal", 0))
            break
    return {
        "rows": int(rows),
        "wall_s": round(wall_s, 3),
        "rows_per_s": round(rows / busy_s, 1) if busy_s > 0 else None,
        "batch_ms_p50": round(_pct(trig_ms, 0.50), 1),
        "batch_ms_p95": round(_pct(trig_ms, 0.95), 1),
        "batches": len(measured),
        "state_rows": state_rows,
    }


def _synth_conf(path: str, n_servers: int, tags_per_server: int) -> int:
    """Write a reference-format .conf with a bench-sized topology; returns
    total tag count. Format per sources/config.py (Program.cs:1212-1296)."""
    lines = ["mongodb://127.0.0.1:27017/bench", ""]
    for s in range(n_servers):
        lines.append(f"opc.tcp://bench-{s}.local:4840, 1, BenchServer{s}")
        for t in range(tags_per_server):
            sub = "Y" if t % 2 == 0 else "N"
            lines.append(
                f"ns=1;s=B{s}.Tag{t} ,Double ,{sub} ,B{s}.Tag{t}"
            )
        lines.append("")
    with open(path, "w", encoding="utf-8") as f:
        f.write("\n".join(lines))
    return n_servers * tags_per_server


def flagship_lane(spark, workdir: str, sweeps_per_batch: int, max_sweeps: int,
                  conf_path: str) -> dict:
    """``Engine.ingest``: opcsim → normalize → CurrentValuesStore upsert."""
    from opc2mongodb_spark.engine import Engine

    q, store = Engine(spark).ingest(
        conf_path,
        os.path.join(workdir, "state"),
        os.path.join(workdir, "ckpt"),
        sweeps_per_batch=sweeps_per_batch,
        max_sweeps=max_sweeps,
    )
    t0 = time.time()
    try:
        q.processAllAvailable()
        wall = time.time() - t0
        prog = [json.loads(p.json) for p in q.recentProgress]
    finally:
        q.stop()
    m = _lane_metrics(prog, wall)
    st = store.read(spark)
    m["store_rows"] = st.count() if st is not None else 0
    return m


def mongo_model_lane(spark, workdir: str, sweeps_per_batch: int,
                     max_sweeps: int, conf_path: str) -> dict:
    """opcsim → normalize → MongoBulkUpsertSink with a no-op client: the
    reference's ReplaceOne-per-key sink contract, RPC cost zeroed."""
    from opc2mongodb_spark.opcmodel import raw_to_opc_values
    from opc2mongodb_spark.sources.opc import register
    from opc2mongodb_spark.streaming.sinks import (
        MongoBulkUpsertSink,
        upsert_query,
    )

    register(spark)
    raw = (
        spark.readStream.format("opcsim")
        .option("config", conf_path)
        .option("sweeps_per_batch", sweeps_per_batch)
        .option("max_sweeps", max_sweeps)
        .load()
    )
    sink = MongoBulkUpsertSink(_NoopClientFactory())
    q = upsert_query(
        raw_to_opc_values(raw), sink, os.path.join(workdir, "ckpt")
    ).start()
    t0 = time.time()
    try:
        q.processAllAvailable()
        wall = time.time() - t0
        prog = [json.loads(p.json) for p in q.recentProgress]
    finally:
        q.stop()
    return _lane_metrics(prog, wall)


class _NoopClientFactory:
    """Executor-side client that discards ops (must be picklable)."""

    def __call__(self):
        return self

    def bulk_replace(self, collection, ops):
        pass


def _doc_stream(spark, rows_per_batch: int):
    """rate-micro-batch → (doc_id, text) documents, all Column expressions:
    30 pseudo-words over a 4,000-word vocabulary per doc; every 5th doc
    reuses the text of doc (value-3) — a ~20% exact-duplicate stream, so
    the gate's reject path carries real traffic."""
    stream = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", rows_per_batch)
        .option("numPartitions", 8)
        .option("advanceMillisPerBatch", 1000)
        .load()
    )
    seed = F.when(
        F.col("value") % 5 == 4, F.col("value") - 3
    ).otherwise(F.col("value"))
    words = F.transform(
        F.sequence(F.lit(0), F.lit(29)),
        lambda i: F.concat(
            F.lit("w"), F.pmod(F.hash(seed, i), F.lit(4000)).cast("string")
        ),
    )
    return stream.select(
        F.col("value").alias("doc_id"), F.array_join(words, " ").alias("text")
    )


def dedup_gate_lane(spark, workdir: str, rows_per_batch: int,
                    n_batches: int, timeout_s: float) -> dict:
    """Corpus-ingest dedup gate (streaming/dedup_gate.py): the LLM
    pipeline's streaming flagship. Measures sustained admit throughput as
    the persisted index GROWS (the probe is O(batch) by contract — this
    lane is the evidence), plus a post-run standalone probe of one
    batch-sized frame against the final index: ``probe_s`` isolates the
    index-probe share of a micro-batch at that corpus size."""
    import time as _time

    from opc2mongodb_spark.operators.dedup import incremental_keep_list
    from opc2mongodb_spark.streaming.dedup_gate import CorpusIngestGate

    gate = CorpusIngestGate(
        os.path.join(workdir, "corpus"), compact_after=16
    )
    measured = threading.Event()

    def feed(batch, batch_id):
        # processAllAvailable() cannot drain the unbounded rate source, so
        # the lane ends between batches instead: the batches after the
        # measured ones are left unread, and stopping the query then
        # cancels no gate job (the probe below reads a whole commit)
        if batch_id >= n_batches:
            measured.set()
            return
        gate.foreach_batch(batch, batch_id)

    q = (
        _doc_stream(spark, rows_per_batch)
        .writeStream.foreachBatch(feed)
        .option("checkpointLocation", os.path.join(workdir, "ckpt"))
        .start()
    )
    t0 = time.time()
    try:
        measured.wait(timeout_s)
        wall = time.time() - t0
        prog = [
            json.loads(p.json)
            for p in q.recentProgress
            if p.batchId < n_batches
        ]
    finally:
        q.stop()
    m = _lane_metrics(prog, wall)
    corpus = gate.read_corpus(spark)
    m["corpus_rows"] = corpus.count() if corpus is not None else 0
    # standalone probe at the final corpus size: one batch-sized frame of
    # NOVEL docs through the same index read + verdict plan the gate runs
    probe = spark.range(10**9, 10**9 + rows_per_batch).select(
        F.col("id").alias("doc_id"),
        F.array_join(
            F.transform(
                F.sequence(F.lit(0), F.lit(29)),
                lambda i: F.concat(
                    F.lit("v"),
                    F.pmod(F.hash("id", i), F.lit(4000)).cast("string"),
                ),
            ),
            " ",
        ).alias("text"),
    )
    index = gate.read_index(spark)
    t0 = _time.perf_counter()
    if index is not None:
        fps_c, sigs_c, bloom_c = index
        incremental_keep_list(
            None, probe, "doc_id", "text",
            corpus_fps=fps_c, corpus_sigs=sigs_c, corpus_bloom=bloom_c,
        ).filter(F.col("verdict") == "keep").count()
    m["probe_s"] = round(_time.perf_counter() - t0, 3)
    if m["batch_ms_p50"]:
        m["probe_share"] = round(m["probe_s"] * 1000 / m["batch_ms_p50"], 3)
    return m


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default=None)
    ap.add_argument(
        "--quick", action="store_true",
        help="smaller topology / fewer batches (CI smoke, not the record)",
    )
    args = ap.parse_args()

    from opc2mongodb_spark.session import get_spark

    spark = get_spark("stream_bench")
    root = tempfile.mkdtemp(prefix="stream_bench_")
    lanes: dict[str, dict] = {}
    try:
        conf_path = os.path.join(root, "bench.conf")
        tags = _synth_conf(
            conf_path,
            n_servers=3,
            tags_per_server=100 if args.quick else 400,
        )
        # spb100 (r11): the batch-size-amortized point — micro-batch fixed
        # cost (~0.45 s even into a noop sink) dominates at small batches
        scales = [(5, 40), (25, 200), (100, 800)] if not args.quick else [(5, 20)]
        for spb, max_sweeps in scales:
            d = os.path.join(root, f"flag_{spb}")
            os.makedirs(d)
            lanes[f"flagship_upsert_spb{spb}"] = flagship_lane(
                spark, d, spb, max_sweeps, conf_path
            )
        d = os.path.join(root, "mongo_model")
        os.makedirs(d)
        lanes["mongo_bulk_model_spb25"] = mongo_model_lane(
            spark, d, 25 if not args.quick else 5,
            200 if not args.quick else 20, conf_path
        )

        # dedup-gate lanes (r11): two corpus sizes — probe cost must stay
        # O(batch) as the persisted index grows (the 100 TB ingest question)
        gate_lanes = (
            [("dedup_gate_10x2k", 2_000, 10), ("dedup_gate_30x2k", 2_000, 30)]
            if not args.quick
            else [("dedup_gate_4x500", 500, 4)]
        )
        for lname, rpb, n_b in gate_lanes:
            d = os.path.join(root, lname)
            os.makedirs(d)
            lanes[lname] = dedup_gate_lane(
                spark, d, rpb, n_b, timeout_s=600.0
            )
    finally:
        shutil.rmtree(root, ignore_errors=True)

    record = {
        "metric": "stream_suite",
        "unit": "rows_per_s",
        "topology_tags": tags,
        "lanes": lanes,
        # the architectural context the numbers are graded against:
        "reference_model": (
            "one awaited ReplaceOneAsync per record on a single consumer "
            "thread (Program.cs:1157-1183): ceiling ~= 1000/RTT_ms rows/s "
            "per thread; ~1e3 rows/s at a 1 ms local RTT, core-count-"
            "independent"
        ),
        "reference_ceiling_rows_per_s_at_1ms_rtt": 1000,
    }
    line = json.dumps(record, separators=(",", ":"))
    print(line)
    if args.out:
        with open(args.out, "w", encoding="utf-8") as f:
            f.write(line + "\n")


if __name__ == "__main__":
    main()
