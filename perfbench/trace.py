"""Spans recorded from the benchmark's own files, around the calls into
each layer. ``Tracer.installed`` wraps the sink's merge and the store's read
open for the length of a ``with`` block, and spans are recorded only inside
it; the traced run alone uses it. ``NullTracer`` is what the untraced run
uses: its spans cost one context-manager entry.

A span has a name, start, end, its parent's id, and the micro-batch or
lookup id it belongs to. Spans stay in memory; ``dump`` writes them out with
the worker-side source spans at the end of the run.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import threading
import time


class NullTracer:
    @contextlib.contextmanager
    def span(self, name: str, **ids):
        yield None

    def uninstall(self) -> None:
        pass

    @contextlib.contextmanager
    def installed(self, spark):
        yield


class Tracer:
    def __init__(self, spool: str) -> None:
        self.spool = spool
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._restore: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str, **ids):
        if not self._restore:  # not installed: record nothing
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {"id": next(self._ids), "name": name,
               "parent": stack[-1]["id"] if stack else None, **ids}
        stack.append(rec)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def _patch(self, owner, attr: str, make) -> None:
        orig = getattr(owner, attr)
        self._restore.append((owner, attr, orig))
        setattr(owner, attr, make(orig))

    @contextlib.contextmanager
    def installed(self, spark):
        self.install(spark)
        try:
            yield
        finally:
            self.uninstall()

    def install(self, spark) -> None:
        """Wrap ``CurrentValuesStore.merge_batch`` (span + the merge's Spark
        jobs, stages and tasks under a job group of its own) and
        ``CurrentValuesStore.read`` (listing + footers); start the worker
        spans of the traced source."""
        from opc2mongodb_spark.streaming.sinks import CurrentValuesStore

        sc = spark.sparkContext
        tracer = self

        def wrap_merge(orig):
            def merge_batch(store, batch):
                batch_id = sc.getLocalProperty("streaming.sql.batchId")
                group = sc.getLocalProperty("spark.jobGroup.id")
                mine = f"perfbench-merge-{batch_id}"
                sc.setJobGroup(mine, "perfbench sink merge")
                try:
                    with tracer.span("sink.merge", batch=int(batch_id)) as rec:
                        orig(store, batch)
                finally:
                    sc.setLocalProperty("spark.jobGroup.id", group)
                if rec is not None:  # None if uninstalled as it began
                    rec.update(job_counts(sc, mine))
            return merge_batch

        def wrap_read(orig):
            def read(store, spark_):
                with tracer.span("read.open"):
                    return orig(store, spark_)
            return read

        self._patch(CurrentValuesStore, "merge_batch", wrap_merge)
        self._patch(CurrentValuesStore, "read", wrap_read)
        open(os.path.join(self.spool, "ON"), "w").close()

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore.clear()
        on = os.path.join(self.spool, "ON")
        if os.path.exists(on):
            os.remove(on)

    def worker_spans(self) -> list[dict]:
        path = os.path.join(self.spool, "source.jsonl")
        if not os.path.exists(path):
            return []
        with open(path, encoding="utf-8") as f:
            return [json.loads(line) for line in f if line.strip()]

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump({"spans": self.spans, "worker_spans": self.worker_spans(),
                       **extra}, f)


def job_counts(sc, group: str) -> dict:
    """Jobs, stages and tasks that ran under job group ``group``."""
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = tasks = 0
    for j in jobs:
        info = tracker.getJobInfo(j)
        for s in info.stageIds if info else ():
            stages += 1
            st = tracker.getStageInfo(s)
            tasks += st.numTasks if st else 0
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks}
