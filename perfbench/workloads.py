"""Workload drivers: set up, measure, check, and turn the trace into
per-layer metrics. ``run`` returns the end-to-end metrics (each with its
sample count), the per-layer metrics (traced runs), the operation counts,
the HMI lookups and the correctness problems.

An untraced run measures one window. A traced run measures three in the
same process: untraced, traced, untraced (for the plant, three back-to-back
slices of one paced stream). The per-layer metrics come from the middle
one, and ``trace.overhead_frac`` compares its headline time with the mean
of the two around it, so drift within the run moves both sides alike.
"""

from __future__ import annotations

import math
import os
import time

from perfbench import bridge, stats
from perfbench.trace import NullTracer, Tracer

WARM_LOOKUPS = 2


def run(name: str, eng, work: str, seed: int, seconds: float, traced: bool,
        t_process: float, session_s: float) -> dict:
    tracer = Tracer(os.environ["PERFBENCH_SPOOL"]) if traced else NullTracer()
    brun = bridge.BridgeRun(eng, work, seed, tracer)
    client = bridge.HmiClient(
        eng, brun.state, bridge.lookup_order(brun.tags, seed), tracer
    )
    measure = _plant_steady if name == "plant_steady" else _outage_catchup
    try:
        out = measure(brun, client, seconds, traced, t_process)
        t_check = time.time()
        problems = brun.check()
        out["phases"]["check_s"] = time.time() - t_check
        layers = layer_metrics(out, brun, session_s) if traced else {}
    finally:
        brun.stop()
    e2e = {"setup_s": {"value": out["phases"]["setup_s"], "unit": "s", "n": 1}}
    e2e.update(bridge.window_e2e(out["windows"][0]))
    e2e.update(bridge.lookup_metrics(out["lookups"]))
    if e2e["lookup_ms_p50"]["value"] == math.inf:
        problems.append("most HMI lookups failed: lookup_ms_p50 is a failure")
    return {
        "e2e": e2e,
        "layers": {k: {"value": v, "unit": u} for k, (v, u) in layers.items()},
        "failures": brun.failures,
        "lookups": out["lookups"],
        "problems": problems,
        "phases": out["phases"],
        "windows": [
            {"trigger_ms": [b["durations"]["triggerExecution"]
                            for b in w["batches"]],
             "sweeps": [b["end"] - b["start"] for b in w["batches"]]}
            for w in out["windows"]
        ],
        "tracer": tracer,
    }


def _warm_reads(client) -> None:
    for _ in range(WARM_LOOKUPS):
        client.lookup_once()


def _trace_middle(tracer, spark, k: int) -> None:
    """At the start of window ``k`` of three: trace the middle one only."""
    if k == 1:
        tracer.install(spark)
    elif k == 2:
        tracer.uninstall()


def _plant_steady(brun, client, seconds, traced, t_process) -> dict:
    n_windows = 3 if traced else 1
    brun.start(bridge.PLANT_SPB, sum(bridge.PLANT_WARM)
               + bridge.plant_stream_sweeps(seconds, n_windows))
    bridge.warm_up(brun, bridge.PLANT_WARM)
    _warm_reads(client)
    try:
        windows = bridge.plant_windows(
            brun, seconds, n_windows,
            lambda k: _trace_middle(brun.tracer, brun.eng.spark, k))
    finally:
        brun.tracer.uninstall()
    # set-up ends where the lead-in does
    t_window = windows[0]["t_measure"]
    setup_s = t_window - t_process
    brun.stop()
    # HMI reads on the store at rest: the plant window has no reader.
    with brun.tracer.installed(brun.eng.spark):
        lookups = [client.lookup_once() for _ in range(bridge.REST_LOOKUPS)]
    return {"windows": windows, "lookups": lookups, "layer_lookups": lookups,
            "phases": {"setup_s": setup_s,
                       "measure_s": time.time() - t_window},
            "headline": [_p50(w["freshness"][0]) for w in windows]}


def _outage_catchup(brun, client, seconds, traced, t_process) -> dict:
    brun.start(bridge.DRAIN_SPB, sum(bridge.DRAIN_WARM))
    bridge.warm_up(brun, bridge.DRAIN_WARM)
    brun.stop()  # the outage begins
    _warm_reads(client)
    t_window = time.time()
    setup_s = t_window - t_process
    windows = [bridge.outage_drain(brun, seconds, client)]
    if traced:
        with brun.tracer.installed(brun.eng.spark):
            windows.append(bridge.outage_drain(brun, seconds, client))
        windows.append(bridge.outage_drain(brun, seconds, client))
    return {"windows": windows, "lookups": windows[0]["lookups"],
            "layer_lookups": windows[1]["lookups"] if traced else [],
            "phases": {"setup_s": setup_s,
                       "measure_s": time.time() - t_window},
            "headline": [w["drain_s"] for w in windows]}


def _p50(values) -> float:
    return stats.percentile(values, 0.5) if values else 0.0


def layer_metrics(out: dict, brun, session_s: float) -> dict:
    """Per-layer metrics of the traced window, from spans and progress:
    ``{name: (value, unit)}``."""
    w = out["windows"][1]
    tracer = brun.tracer
    batches = w["batches"]
    t_from = min(b["t_start"] for b in batches)
    t_to = max(b["visible"] for b in batches)
    src = [s for s in tracer.worker_spans() if t_from <= s["start"] <= t_to]
    src_s = sum(s["end"] - s["start"] for s in src)
    merges = [s for s in tracer.spans if s["name"] == "sink.merge"]
    by_id = {s["id"]: s for s in tracer.spans}
    lookup_ids = {r["i"] for r in out["layer_lookups"]}
    lookups = {s["id"] for s in tracer.spans
               if s["name"] == "lookup" and s["lookup"] in lookup_ids}

    def child_ms(name):
        return [(s["end"] - s["start"]) * 1000.0 for s in tracer.spans
                if s["name"] == name and s["parent"] in lookups
                and by_id[s["parent"]]["name"] == "lookup"]

    backlog = [
        sum(1 for s in range(b["start"], w["last"]) if w["due"](s) <= b["t_start"])
        for b in batches
    ]
    causes = [r["cause"] for r in out["layer_lookups"]]
    files, size = bridge.store_footprint(brun.state)
    before, traced, after = out["headline"]
    return {
        "session.start_s": (session_s, "s"),
        "source.read_ms_p50": (
            _p50([(s["end"] - s["start"]) * 1000.0 for s in src]), "ms"),
        "source.values_per_busy_s": (
            sum(s["values"] for s in src) / src_s if src_s else 0.0, "1/s"),
        "source.backlog_sweeps_max": (max(backlog), "count"),
        "batch.trigger_ms_p50": (
            _p50([b["durations"]["triggerExecution"] for b in batches]), "ms"),
        "batch.plan_ms_p50": (
            _p50([b["durations"]["queryPlanning"] for b in batches]), "ms"),
        "batch.log_ms_p50": (
            _p50([b["durations"]["walCommit"] + b["durations"]["commitOffsets"]
                  for b in batches]), "ms"),
        "batch.sweeps_p50": (_p50([b["end"] - b["start"] for b in batches]),
                             "count"),
        "sink.merge_ms_p50": (
            _p50([(s["end"] - s["start"]) * 1000.0 for s in merges]), "ms"),
        "sink.jobs_per_batch": (_p50([s["jobs"] for s in merges]), "count"),
        "sink.tasks_per_batch": (_p50([s["tasks"] for s in merges]), "count"),
        "store.files": (files, "count"),
        "store.bytes": (size, "bytes"),
        "read.open_ms_p50": (_p50(child_ms("read.open")), "ms"),
        "read.exec_ms_p50": (_p50(child_ms("read.exec")), "ms"),
        "read.lookups": (len(causes), "count"),
        "read.failed_missing_file": (causes.count("missing_file"), "count"),
        "read.failed_missing_row": (causes.count("missing_row"), "count"),
        "trace.overhead_frac": (
            (traced - (before + after) / 2) / ((before + after) / 2),
            "fraction"),
    }
