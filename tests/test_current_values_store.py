"""Snapshot generations of the parquet current-values store.

A merge writes the servers it changed as a new generation and commits it
with one ``os.replace`` of ``_CURRENT``; readers read exactly what the
manifest lists. These goldens kill a merge at each step of that commit,
run a reader beside a stream of merges, and pin the GC bound. The data is
a change-only source: after the first full sweep, each sweep emits only a
subset of each server's tags, so a merge that loses a server's unchanged
rows shows up as missing keys.
"""

from __future__ import annotations

import datetime
import glob
import os
import threading

import pytest
from pyspark.sql import functions as F

from opc2mongodb_spark.operators.last_value import last_value_per_key
from opc2mongodb_spark.streaming import sinks
from opc2mongodb_spark.streaming.ledger import BatchLedger
from opc2mongodb_spark.streaming.sinks import CurrentValuesStore

SERVERS = ("A", "B", "C")
TAGS = 6
COLS = ["server", "tag", "doubleValue", "serverTimestamp"]
T0 = datetime.datetime(2024, 1, 1, 10, 0, 0)


def change_only_sweep(spark, s: int):
    """Sweep ``s`` of a change-only source: sweep 0 reports every tag, later
    sweeps only the tags whose value changed (a third of them, rotating);
    server C changes on even sweeps only, so odd sweeps leave it alone."""
    rows = [
        (srv, f"{srv}.t{t}", float(100 * s + t), T0 + datetime.timedelta(seconds=s))
        for srv in SERVERS
        for t in range(TAGS)
        if s == 0
        or ((t + s + SERVERS.index(srv)) % 3 == 0 and (srv != "C" or s % 2 == 0))
    ]
    return spark.createDataFrame(rows, COLS)


def assert_store_matches_replay(spark, store, batches, ledger_root):
    """The store equals the batch replay of ``batches``: one ledger row over
    the store, reconciled (count, decimal sum, xor hash) against
    ``last_value_per_key`` of the union."""
    replay = batches[0]
    for b in batches[1:]:
        replay = replay.unionByName(b)
    replay = last_value_per_key(replay, ["server", "tag"], "serverTimestamp")
    led = BatchLedger(ledger_root, COLS, value_col="doubleValue")
    led.foreach_batch(store.read(spark).select(*COLS), 0)
    rec = led.reconcile(spark, replay.select(*COLS))
    assert rec["ok"], rec
    assert rec["ledger"]["n_rows"] == len(SERVERS) * TAGS


def generations(store):
    """server dir -> generation dirs on disk."""
    return {
        entry: sorted(os.listdir(os.path.join(store.path, entry)))
        for entry in os.listdir(store.path)
        if entry.startswith("server=")
    }


class Crash(Exception):
    pass


def _crash(*args, **kwargs):
    raise Crash


# kill point -> (what to break in the shared snapshot protocol, whether the
# merge committed before it died)
KILL_POINTS = {
    "after_generation_written": ("commit", False),
    "after_manifest_tmp_before_flip": ("os.replace", False),
    "after_flip_before_gc": ("_gc", True),
}


@pytest.mark.parametrize("kill_point", sorted(KILL_POINTS))
def test_merge_killed_at_each_commit_step_loses_no_tag(
    spark, tmp_path, monkeypatch, kill_point
):
    store = CurrentValuesStore(str(tmp_path / "cv"), backend="parquet")
    batches = [change_only_sweep(spark, s) for s in range(4)]
    ledger = str(tmp_path / "ledger")
    store.merge_batch(batches[0])
    store.merge_batch(batches[1])
    current = os.path.join(store.path, "_CURRENT")
    with open(current) as f:
        before = f.read()

    target, committed = KILL_POINTS[kill_point]
    with monkeypatch.context() as m:
        if target == "os.replace":
            m.setattr(sinks.os, "replace", _crash)
        else:
            m.setattr(sinks._Snapshots, target, _crash)
        with pytest.raises(Crash):
            store.merge_batch(batches[2])
    with open(current) as f:
        flipped = f.read() != before
    assert flipped == committed
    assert glob.glob(os.path.join(store.path, "server=*", "gen=3"))
    if target == "os.replace":
        assert os.path.exists(current + ".tmp")
    # a reader after the crash sees the last commit, whole
    assert_store_matches_replay(
        spark, store, batches[: 3 if committed else 2], ledger
    )

    store.merge_batch(batches[2])  # the restarted query replays the batch
    assert_store_matches_replay(spark, store, batches[:3], ledger)
    store.merge_batch(batches[3])
    assert_store_matches_replay(spark, store, batches, ledger)
    assert all(len(g) <= 2 for g in generations(store).values())


def test_reader_beside_merges_sees_one_row_per_lookup(spark, tmp_path):
    """An HMI-style reader does point lookups back to back while 30 merges
    commit: every lookup returns exactly one row, and the store never holds
    more than the two retained generations per server."""
    store = CurrentValuesStore(str(tmp_path / "cv"), backend="parquet")
    store.merge_batch(change_only_sweep(spark, 0))
    tags = [f"{s}.t{t}" for s in SERVERS for t in range(TAGS)]
    causes: list[str | None] = []
    stop = threading.Event()

    def reader():
        i = 0
        while not stop.is_set():
            tag = tags[i % len(tags)]
            i += 1
            try:
                n = len(store.read(spark).filter(F.col("tag") == tag).collect())
                causes.append(
                    None if n == 1 else ("missing_row" if n == 0 else "extra_rows")
                )
            except Exception as e:  # noqa: BLE001 - recorded, asserted below
                causes.append(
                    "missing_file" if "does not exist" in str(e)
                    or "FileNotFound" in str(e) else repr(e)
                )

    t = threading.Thread(target=reader)
    t.start()
    bound = []
    try:
        for s in range(1, 31):
            store.merge_batch(change_only_sweep(spark, s))
            bound.append(max(len(g) for g in generations(store).values()))
    finally:
        stop.set()
        t.join(timeout=120)
    assert not t.is_alive()
    assert len(causes) >= 30
    assert [c for c in causes if c] == []
    assert max(bound) <= 2
    files = glob.glob(os.path.join(store.path, "**", "*.parquet"), recursive=True)
    assert len(files) <= 2 * len(SERVERS)


def test_read_reuses_one_dataframe_per_generation(spark, tmp_path):
    """Between two commits a lookup is a cache hit: the same DataFrame, no
    Spark job (no footer read). A commit makes the next read a new one."""
    store = CurrentValuesStore(str(tmp_path / "cv"), backend="parquet")
    assert store.read(spark) is None
    store.merge_batch(change_only_sweep(spark, 0))
    sc = spark.sparkContext
    group = "test-store-read"
    sc.setJobGroup(group, "reads")
    try:
        first = store.read(spark)
        assert store.read(spark) is first
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert first.columns == ["tag", "doubleValue", "serverTimestamp", "server"]
    store.merge_batch(change_only_sweep(spark, 1))
    assert store.read(spark) is not first
