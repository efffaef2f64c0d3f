"""One commit per micro-batch for the corpus-ingest dedup gate.

A micro-batch writes its four segments (data, fps, sigs, bloom) as one
version and commits them with one ``os.replace`` of ``_CURRENT``;
``compact_index`` commits its folded index segments the same way. These
goldens kill both at each step of that commit: after the segment writes,
after the manifest temp file, and after the flip. A fresh gate on the same
directory must read the state before or the state after, never a mix, and
replaying the killed step must give the uninterrupted gate's corpus and
index. The commit and GC are the snapshot protocol the gate shares with the
current-values store; the GC golden runs against both.
"""

from __future__ import annotations

import json
import os
import shutil

import pytest

from opc2mongodb_spark.streaming import sinks
from opc2mongodb_spark.streaming.dedup_gate import CorpusIngestGate
from opc2mongodb_spark.streaming.sinks import CurrentValuesStore
from tests.test_current_values_store import change_only_sweep


class Crash(Exception):
    pass


def _crash(*args, **kwargs):
    raise Crash


# kill point -> (what to break in the shared snapshot protocol, whether the
# step committed before it died)
KILL_POINTS = {
    "after_segments_written": ("commit", False),
    "after_manifest_tmp_before_flip": ("os.replace", False),
    "after_flip_before_gc": ("_gc", True),
}


def docs(spark, b: int):
    """Batch ``b``: three documents; in odd batches the third is an exact
    duplicate of the previous batch's first, so the probe must reject it."""
    rows = [
        (b * 10 + i, " ".join(f"w{b * 10 + i}x{j}" for j in range(12)))
        for i in range(3)
    ]
    if b % 2:
        dup = rows[0][1].replace(f"w{b * 10}", f"w{b * 10 - 10}")
        rows[2] = (b * 10 + 2, dup)
    return spark.createDataFrame(rows, "doc_id long, text string")


def view(spark, corpus_dir: str) -> dict:
    """What a fresh gate reads: the doc ids of each table (sorted, so a
    doubled row shows) and the batch ids of each committed segment."""
    gate = CorpusIngestGate(corpus_dir, compact_after=None)
    corpus = gate.read_corpus(spark)
    fps, sigs, _ = gate.read_index(spark)
    with open(os.path.join(corpus_dir, "_CURRENT")) as f:
        segments = json.load(f)["segments"]
    return {
        "data": sorted(r.doc_id for r in corpus.select("doc_id").collect()),
        "fps": sorted(r.doc_id for r in fps.select("doc_id").collect()),
        "sigs": sorted(r.doc_id for r in sigs.select("doc_id").collect()),
        "segments": {t: [ids for _, ids in s] for t, s in segments.items()},
    }


@pytest.fixture(scope="module")
def reference(spark, tmp_path_factory):
    """Corpus dirs of an uninterrupted gate and their views: after batches
    0-1, after batch 2, and after compacting batches 0-1."""
    root = tmp_path_factory.mktemp("gate_reference")
    dirs = {name: str(root / name) for name in ("base", "batch", "compacted")}
    gate = CorpusIngestGate(dirs["base"], compact_after=None)
    for b in range(2):
        gate.process_batch(docs(spark, b), b)
    shutil.copytree(dirs["base"], dirs["batch"])
    CorpusIngestGate(dirs["batch"], compact_after=None).process_batch(
        docs(spark, 2), 2
    )
    shutil.copytree(dirs["batch"], dirs["compacted"])
    CorpusIngestGate(dirs["compacted"], compact_after=None).compact_index(
        spark, max_batch_dirs=2
    )
    views = {name: view(spark, d) for name, d in dirs.items()}
    # the fixture is what the goldens claim it is
    assert 12 not in views["base"]["data"]  # rejected by the probe
    assert views["batch"]["data"] == views["base"]["data"] + [20, 21, 22]
    assert views["batch"]["fps"] == views["batch"]["data"]
    assert views["compacted"]["segments"]["fps"] == [[0, 1], [2]]
    return dirs, views


def kill(monkeypatch, kill_point: str, step) -> None:
    target, _ = KILL_POINTS[kill_point]
    with monkeypatch.context() as m:
        if target == "os.replace":
            m.setattr(sinks.os, "replace", _crash)
        else:
            m.setattr(sinks._Snapshots, target, _crash)
        with pytest.raises(Crash):
            step()


def assert_gc_bound(corpus_dir: str) -> None:
    """On disk: only the segments this commit or the previous one lists."""
    with open(os.path.join(corpus_dir, "_CURRENT")) as f:
        manifest = json.load(f)
    for table in CorpusIngestGate._TABLES:
        listed = {
            d
            for segments in (manifest["segments"], manifest["previous"])
            for d, _ in segments.get(table, ())
        }
        assert set(os.listdir(os.path.join(corpus_dir, table))) <= listed


@pytest.mark.parametrize("kill_point", sorted(KILL_POINTS))
def test_batch_killed_at_each_commit_step(
    spark, tmp_path, monkeypatch, reference, kill_point
):
    dirs, views = reference
    corpus = str(tmp_path / "corpus")
    shutil.copytree(dirs["base"], corpus)
    gate = CorpusIngestGate(corpus, compact_after=None)
    kill(
        monkeypatch, kill_point, lambda: gate.process_batch(docs(spark, 2), 2)
    )
    # all four segments of the batch were written before the kill
    for table in CorpusIngestGate._TABLES:
        assert os.path.isdir(os.path.join(corpus, table, "v=3"))
    if KILL_POINTS[kill_point][0] == "os.replace":
        assert os.path.exists(os.path.join(corpus, "_CURRENT.tmp"))
    committed = KILL_POINTS[kill_point][1]
    assert view(spark, corpus) == views["batch" if committed else "base"]

    gate.process_batch(docs(spark, 2), 2)  # the restarted query replays it
    assert view(spark, corpus) == views["batch"]
    assert_gc_bound(corpus)


@pytest.mark.parametrize("kill_point", sorted(KILL_POINTS))
def test_compaction_killed_at_each_commit_step(
    spark, tmp_path, monkeypatch, reference, kill_point
):
    dirs, views = reference
    corpus = str(tmp_path / "corpus")
    shutil.copytree(dirs["batch"], corpus)
    gate = CorpusIngestGate(corpus, compact_after=None)
    kill(
        monkeypatch,
        kill_point,
        lambda: gate.compact_index(spark, max_batch_dirs=2),
    )
    committed = KILL_POINTS[kill_point][1]
    assert view(spark, corpus) == views["compacted" if committed else "batch"]

    gate.compact_index(spark, max_batch_dirs=2)  # the maintenance reruns
    assert view(spark, corpus) == views["compacted"]
    assert_gc_bound(corpus)


def test_default_compaction_keeps_index_reads_jobless(spark, tmp_path):
    """A read lists at most ``compact_after + 1`` segment dirs per index
    table. With the default that stays within Spark's
    parallelPartitionDiscovery threshold (32), so the index read builds
    its file indexes with no Spark job; one dir more and every read runs a
    listing job per table. The manifest lists copies of one small
    segment, which is all the listing sees."""
    corpus = str(tmp_path / "corpus")
    gate = CorpusIngestGate(corpus)
    gate.process_batch(docs(spark, 0), 0)
    with open(os.path.join(corpus, "_CURRENT")) as f:
        manifest = json.load(f)
    sc = spark.sparkContext

    def read_jobs(n_dirs: int) -> int:
        segments = dict(manifest["segments"])
        for table in CorpusIngestGate.INDEX_TABLES:
            segments[table] = segments[table] * n_dirs
        with open(os.path.join(corpus, "_CURRENT"), "w") as f:
            json.dump({**manifest, "segments": segments}, f)
        group = f"index-read-{n_dirs}"
        sc.setJobGroup(group, "index read")
        try:
            CorpusIngestGate(corpus).read_index(spark)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    assert read_jobs(gate.compact_after + 1) == 0
    assert read_jobs(gate.compact_after + 2) > 0


@pytest.mark.parametrize("owner", ["store", "gate"])
def test_gc_deletes_only_unlisted_segment_dirs(spark, tmp_path, owner):
    """The GC after a commit deletes exactly the segment dirs that neither
    this commit nor the previous one lists. A stray file and a stray
    non-segment dir inside a table (server) dir stay, and reads equal a
    clean run's."""

    def run(root: str, plant: bool):
        if owner == "store":
            store = CurrentValuesStore(root, backend="parquet")
            table, segment = "server=A", "gen"

            def step(s):
                store.merge_batch(change_only_sweep(spark, s))

            def read():
                return sorted(tuple(r) for r in store.read(spark).collect())
        else:
            gate = CorpusIngestGate(root, compact_after=None)
            table, segment = "fps", "v"

            def step(b):
                gate.process_batch(docs(spark, b), b)

            def read():
                return view(spark, root)

        step(0)
        step(1)
        d = os.path.join(root, table)
        if plant:
            # an unlisted segment dir: a copy of a listed one, at version 9
            shutil.copytree(
                os.path.join(d, sorted(os.listdir(d))[-1]),
                os.path.join(d, f"{segment}=9"),
            )
            with open(os.path.join(d, "notes.txt"), "w") as f:
                f.write("not a segment")
            os.makedirs(os.path.join(d, "junk"))
        step(2)
        return read(), sorted(os.listdir(d)), segment

    clean, clean_dirs, segment = run(str(tmp_path / "clean"), plant=False)
    got, dirs, _ = run(str(tmp_path / "planted"), plant=True)
    assert got == clean
    assert "notes.txt" in dirs and "junk" in dirs
    assert f"{segment}=9" not in dirs
    assert [e for e in dirs if e.startswith(f"{segment}=")] == clean_dirs
