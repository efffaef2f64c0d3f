"""The two bridge workloads, driven through ``Engine.ingest`` and
``Engine.current_values``.

Topology: 3 servers x 400 Double tags; per server a seeded half of the
tags is subscribed (changes every sweep) and the rest poll-only. The seed
also salts the tag names, which reseeds every simulated value, and orders
the HMI client's lookups.

- ``plant_steady``: open loop. Sweeps fall due at ``RATE`` per second on
  the wall clock; the default trigger sizes the micro-batches. The paced
  stream opens with ``PLANT_LEAD_S`` seconds of sweeps that are not
  measured, so timing starts on a bridge in its steady state. Freshness of
  sweep ``s`` is ``visible − due``.
- ``outage_catchup``: closed loop. The bridge restarts on its checkpoint
  facing ``BACKLOG_PER_S * seconds`` sweeps that fell due during an outage
  and drains them at ``DRAIN_SPB`` sweeps per micro-batch, while one HMI
  client does point lookups back to back. Every backlog sweep fell due
  during the outage, so its freshness is its catch-up delay, counted from
  the start of the first drain micro-batch: the restart on the checkpoint
  before it is left out.
"""

from __future__ import annotations

import os
import random
import threading
import time

from perfbench import paced, stats

N_SERVERS = 3
TAGS_PER_SERVER = 400
RATE = 2.0  # plant sweeps per second (2,400 values/s)
PLANT_SPB = 1000  # never the cap: the schedule sizes plant batches
DRAIN_SPB = 100
BACKLOG_PER_S = 50  # outage backlog sweeps per second of --seconds
# Warm-up before timing starts: the first two micro-batches of a fresh JVM
# run several times slower than steady ones, and plant batches keep getting
# faster for dozens more, steeply for the first ten or so. Plant: one small
# batch, then a paced lead-in that takes that steep part.
# Outage: a small first batch, then a drain-sized one.
PLANT_WARM = (3,)
PLANT_LEAD_S = 8.0
DRAIN_WARM = (3, DRAIN_SPB)
REST_LOOKUPS = 20  # plant_steady: HMI lookups on the store at rest


def write_plant_conf(path: str, seed: int) -> list[str]:
    """Write the seeded reference-format .conf; returns the tag names."""
    rng = random.Random(seed)
    salt = rng.randrange(16**6)
    lines = ["mongodb://127.0.0.1:27017/bench", ""]
    tags = []
    for s in range(N_SERVERS):
        lines.append(f"opc.tcp://bench-{s}.local:4840, 1, BenchServer{s}")
        subscribed = set(rng.sample(range(TAGS_PER_SERVER), TAGS_PER_SERVER // 2))
        for t in range(TAGS_PER_SERVER):
            tag = f"B{s}.T{salt:06x}.{t}"
            sub = "Y" if t in subscribed else "N"
            lines.append(f"ns=1;s={tag} ,Double ,{sub} ,{tag}")
            tags.append(tag)
        lines.append("")
    with open(path, "w", encoding="utf-8") as f:
        f.write("\n".join(lines))
    return tags


def lookup_order(tags: list[str], seed: int, n: int = 4096) -> list[str]:
    rng = random.Random(f"{seed}/lookups")
    return [rng.choice(tags) for _ in range(n)]


class HmiClient:
    """One closed-loop client: ``Engine.current_values(path)`` filtered to
    one tag and collected, back to back, until stopped. A lookup must
    return exactly one row; failures are recorded by cause, never retried."""

    def __init__(self, eng, state_path: str, tags: list[str], tracer) -> None:
        self.eng = eng
        self.state_path = state_path
        self.tags = tags
        self.tracer = tracer
        self.lookups: list[dict] = []
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def lookup_once(self) -> dict:
        from pyspark.sql import functions as F

        i = len(self.lookups)
        tag = self.tags[i % len(self.tags)]
        rows = error = None
        start = time.time()
        with self.tracer.span("lookup", lookup=i):
            try:
                df = self.eng.current_values(self.state_path)
                with self.tracer.span("read.exec", lookup=i):
                    rows = 0 if df is None else len(
                        df.filter(F.col("tag") == tag).collect()
                    )
            except Exception as e:  # the client keeps running; cause recorded
                error = e
        rec = {"i": i, "start": start, "end": time.time(),
               "cause": stats.lookup_cause(rows, error)}
        self.lookups.append(rec)
        return rec

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.lookup_once()

    def start(self) -> None:
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, name="hmi-client")
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=120)
        if self._thread.is_alive():
            raise RuntimeError("HMI client did not stop within 120 s")


def lookup_metrics(lookups: list[dict]) -> dict:
    """``lookup_ms_p50`` (a failed lookup sorts as +inf, so a median that
    lands on a failure reads +inf) and the answered share."""
    if not lookups:
        raise ValueError("no lookups in the window")
    ms = [
        float("inf") if r["cause"] else (r["end"] - r["start"]) * 1000.0
        for r in lookups
    ]
    p50 = stats.percentile(ms, 0.5)
    ok = sum(1 for r in lookups if not r["cause"])
    return {
        "lookup_ms_p50": {"value": p50, "unit": "ms", "n": len(ms)},
        "lookup_ok_share": {"value": ok / len(lookups), "unit": "fraction",
                            "n": len(lookups)},
    }


def check_store(eng, conf_path: str, state_path: str, n_sweeps: int) -> list[str]:
    """The store must equal the batch replay of the same sweeps:
    ``last_value_per_key(raw_to_opc_values(opcsim batch read))``."""
    from opc2mongodb_spark.opcmodel import raw_to_opc_values
    from opc2mongodb_spark.operators.last_value import last_value_per_key

    raw = (
        eng.spark.read.format("opcsim")
        .option("config", conf_path)
        .option("sweeps", n_sweeps)
        .load()
    )
    expected = last_value_per_key(
        raw_to_opc_values(raw), ["server", "tag"], "serverTimestamp"
    )
    cols = sorted(expected.columns)
    want = {(r["server"], r["tag"]): tuple(r[c] for c in cols)
            for r in expected.collect()}
    got_df = eng.current_values(state_path)
    got_rows = [] if got_df is None else got_df.select(*cols).collect()
    got = {(r["server"], r["tag"]): tuple(r[c] for c in cols) for r in got_rows}
    problems = []
    if len(want) != N_SERVERS * TAGS_PER_SERVER:
        problems.append(f"replay has {len(want)} keys")
    if len(got_rows) != len(got):
        problems.append(f"store has {len(got_rows) - len(got)} duplicate keys")
    if got.keys() != want.keys():
        problems.append(
            f"key sets differ: {len(want.keys() - got.keys())} missing, "
            f"{len(got.keys() - want.keys())} extra"
        )
    diff = [k for k in want.keys() & got.keys() if want[k] != got[k]]
    if diff:
        problems.append(f"{len(diff)} keys differ, e.g. {diff[0]}")
    return problems


def store_footprint(state_path: str) -> tuple[int, int]:
    """(data files, bytes) of the store at rest."""
    files = size = 0
    for d, _, names in os.walk(state_path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size


class BridgeRun:
    """State shared by both bridge workloads: the conf, the store and its
    checkpoint, the schedule file and the running query."""

    def __init__(self, eng, workdir: str, seed: int, tracer) -> None:
        self.eng = eng
        self.tracer = tracer
        self.conf = os.path.join(workdir, "plant.conf")
        self.state = os.path.join(workdir, "state")
        self.ckpt = os.path.join(workdir, "ckpt")
        self.schedule = os.environ["PERFBENCH_PACE"]
        self.tags = write_plant_conf(self.conf, seed)
        self.failures = stats.Failures()
        self.query = None
        self.n_sweeps = 0  # sweeps handed to the bridge so far

    def start(self, spb: int, max_sweeps: int):
        self.query, _ = self.eng.ingest(
            self.conf, self.state, self.ckpt,
            sweeps_per_batch=spb, max_sweeps=max_sweeps,
        )

    def release(self, base: int) -> None:
        """Make sweeps ``[0, base)`` due now and wait until all are visible."""
        paced.write_schedule(self.schedule, base)
        self.query.processAllAvailable()
        self.n_sweeps = base

    def stop(self) -> None:
        if self.query is not None:
            self.query.stop()
            self.query = None

    def check(self) -> list[str]:
        problems = check_store(self.eng, self.conf, self.state, self.n_sweeps)
        self.failures.attempt("store_check", "mismatch" if problems else None)
        return problems


def warm_up(run: BridgeRun, sizes: tuple[int, ...]) -> None:
    """Drain one warm-up micro-batch per entry of ``sizes`` (in sweeps)
    through the same ``Engine.ingest`` path."""
    for size in sizes:
        run.release(run.n_sweeps + size)


def plant_stream_sweeps(seconds: float, n_windows: int) -> int:
    """Sweeps in one paced stream: the lead-in, then ``n_windows`` windows."""
    return int(RATE * PLANT_LEAD_S) + n_windows * max(1, int(RATE * seconds))


def plant_windows(run: BridgeRun, seconds: float, n_windows: int,
                  at_window=lambda k: None) -> list[dict]:
    """One paced stream on the running query: sweeps fall due on schedule,
    first ``PLANT_LEAD_S`` seconds of lead-in, then ``n_windows`` windows
    of ``RATE * seconds`` measured sweeps back to back. ``at_window(k)``
    runs when window ``k`` begins. Returns per window its sweeps' batches
    and freshness samples, and ``t_measure``, when the window began."""
    base = run.n_sweeps
    period = 1.0 / RATE
    t0 = time.time()
    paced.write_schedule(run.schedule, base, t0, period)
    n_lead = int(RATE * PLANT_LEAD_S)
    per_window = max(1, int(RATE * seconds))
    bounds = [base + n_lead + k * per_window for k in range(n_windows + 1)]
    for k, first in enumerate(bounds):
        time.sleep(max(0.0, t0 + (first - base) * period - time.time()))
        if k < n_windows:
            at_window(k)
    paced.write_schedule(run.schedule, bounds[-1])  # no sweep beyond it
    run.query.processAllAvailable()
    run.n_sweeps = bounds[-1]
    due = stats.paced_due(t0, base, period)
    progress = stats.batch_windows(run.query.recentProgress)
    windows = []
    for first, end in zip(bounds, bounds[1:]):
        batches = [b for b in progress if b["end"] > first and b["start"] < end]
        windows.append({
            "t_measure": t0 + (first - base) * period,
            "batches": batches,
            "due": due,
            "last": bounds[-1],
            "freshness": stats.freshness_ms(batches, due, range(first, end)),
        })
    return windows


def outage_drain(run: BridgeRun, seconds: float, client: HmiClient) -> dict:
    """Restart the bridge on its checkpoint facing a backlog and drain it,
    with the HMI client running for the whole drain."""
    base = run.n_sweeps
    end = base + int(BACKLOG_PER_S * seconds)
    paced.write_schedule(run.schedule, end)
    first_lookup = len(client.lookups)
    client.start()
    try:
        run.start(DRAIN_SPB, end)
        run.query.processAllAvailable()
    finally:
        client.stop()
    run.n_sweeps = end
    batches = stats.batch_windows(run.query.recentProgress)
    run.stop()
    t_first = min(b["t_start"] for b in batches)
    t_last = max(b["visible"] for b in batches)
    in_drain = [r for r in client.lookups[first_lookup:]
                if t_first <= r["start"] <= t_last]

    def due(s):
        return t_first

    return {
        "batches": batches,
        "due": due,
        "last": end,
        "freshness": stats.freshness_ms(batches, due, range(base, end)),
        "drain_s": t_last - t_first,
        "lookups": in_drain,
    }


def window_e2e(window: dict) -> dict:
    """Freshness and throughput of one window, each with its sample count
    (sweeps, and the distinct micro-batches that made them visible). Only
    the median is reported: a window's five to ten batches support no tail
    with ten batches beyond it."""
    fr, holders = window["freshness"]
    b = window["batches"]
    values = sum(x["rows"] for x in b)
    span = max(x["visible"] for x in b) - min(x["t_start"] for x in b)
    return {
        "freshness_ms_p50": {**stats.summary(fr, 0.5, holders), "unit": "ms"},
        "values_per_s": {"value": values / span, "unit": "1/s", "n": len(b)},
    }
