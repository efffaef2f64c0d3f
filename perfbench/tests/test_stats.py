"""Unit tests of the benchmark's arithmetic, on synthetic inputs.

    python3 -m pytest perfbench/tests -q      (from the repository root)
"""

from __future__ import annotations

import math

import pytest

from perfbench import stats
from perfbench.paced import due_count


def _progress(batch_id, start, end, stamp, trigger_ms, rows=1200, **dur):
    return {
        "batchId": batch_id,
        "numInputRows": rows,
        "timestamp": stamp,
        "sources": [{
            "startOffset": "None" if start is None else f"{{'sweep': {start}}}",
            "endOffset": f"{{'sweep': {end}}}",
        }],
        "durationMs": {"triggerExecution": trigger_ms, **dur},
    }


# --- percentiles with their sample counts ---------------------------------

def test_percentile_is_nearest_rank():
    values = list(range(1, 101))  # 1..100
    assert stats.percentile(values, 0.5) == 50
    assert stats.percentile(values, 0.75) == 75
    assert stats.percentile(values, 0.95) == 95
    assert stats.percentile(values, 1.0) == 100
    assert stats.percentile([7.0], 0.5) == 7.0


def test_failures_sort_as_infinity():
    ok = [100.0, 110.0, 120.0]
    assert stats.percentile(ok + [math.inf], 0.5) == 110.0
    assert stats.percentile(ok + [math.inf] * 3, 0.5) == 120.0
    assert stats.percentile(ok + [math.inf] * 4, 0.5) == math.inf


def test_percentile_rejects_empty_and_bad_q():
    with pytest.raises(ValueError):
        stats.percentile([], 0.5)
    with pytest.raises(ValueError):
        stats.percentile([1.0], 0.0)


def test_summary_carries_sample_and_batch_counts():
    values = [float(v) for v in range(40)]
    assert stats.summary(values, 0.75, range(40)) == {
        "value": 29.0, "n": 40, "batches": 40}
    # the median is always supported, whatever the batch count
    assert stats.summary(values[:3], 0.5, [7, 7, 7]) == {
        "value": 1.0, "n": 3, "batches": 1}


def test_tail_needs_ten_batches_beyond_it():
    values = [float(v) for v in range(40)]
    with pytest.raises(ValueError, match="p75 has 9 batches beyond it"):
        stats.summary(values[:39], 0.75, range(39))
    # 40 sweeps with 10 beyond p75, but those 10 came from 5 batches:
    # five visible times, not ten samples
    with pytest.raises(ValueError, match="p75 has 5 batches beyond it"):
        stats.summary(values, 0.75, [v // 2 for v in range(40)])


# --- freshness from progress events ----------------------------------------

def test_batch_windows_reads_offsets_and_skips_empty_batches():
    events = [
        _progress(0, None, 3, "2026-01-01T00:00:00.000Z", 1500),
        _progress(1, 3, 3, "2026-01-01T00:00:01.600Z", 10, rows=0),
        _progress(2, 3, 5, "2026-01-01T00:00:02.000Z", 1250,
                  queryPlanning=30, walCommit=40, commitOffsets=50),
    ]
    out = stats.batch_windows(events)
    assert [(b["batch"], b["start"], b["end"]) for b in out] == [(0, 0, 3), (2, 3, 5)]
    t = stats.parse_progress_time("2026-01-01T00:00:02.000Z")
    assert out[1]["t_start"] == t
    assert out[1]["visible"] == pytest.approx(t + 1.25)
    assert out[1]["durations"]["walCommit"] == 40


def test_freshness_is_visible_minus_due_per_sweep():
    t0 = stats.parse_progress_time("2026-01-01T00:00:00.000Z")
    # base sweep 10, two sweeps per second: sweep 10 due at t0+0.5,
    # sweep 11 at t0+1.0, sweep 12 at t0+1.5, sweep 13 at t0+2.0
    due = stats.paced_due(t0, 10, 0.5)
    assert due(10) == t0 + 0.5 and due(13) == t0 + 2.0
    events = [
        # holds sweeps 10, 11: starts at t0+1.0, visible at t0+2.2
        _progress(4, 10, 12, "2026-01-01T00:00:01.000Z", 1200),
        # holds sweeps 12, 13: starts at t0+2.2, visible at t0+3.0
        _progress(5, 12, 14, "2026-01-01T00:00:02.200Z", 800),
    ]
    fr, batches = stats.freshness_ms(stats.batch_windows(events), due,
                                     range(10, 14))
    assert fr == pytest.approx([1700.0, 1200.0, 1500.0, 1000.0])
    assert batches == [4, 4, 5, 5]


def test_freshness_refuses_a_sweep_no_batch_holds():
    events = [_progress(0, 0, 2, "2026-01-01T00:00:01.000Z", 500)]
    with pytest.raises(ValueError, match="never made visible"):
        stats.freshness_ms(stats.batch_windows(events), lambda s: 0.0, range(0, 3))


def test_paced_schedule_counts_due_sweeps():
    assert due_count({"base": 9, "t0": None, "period": None}, 123.0) == 9
    sched = {"base": 9, "t0": 100.0, "period": 0.5}
    assert due_count(sched, 99.0) == 9
    assert due_count(sched, 100.49) == 9
    assert due_count(sched, 100.5) == 10  # sweep 9 is due at t0 + period
    assert due_count(sched, 110.0) == 29


# --- failure counting -------------------------------------------------------

def test_failures_count_against_attempts_by_cause():
    f = stats.Failures()
    for _ in range(8):
        f.attempt("lookup")
    f.attempt("lookup", "missing_file")
    f.attempt("lookup", "missing_row")
    f.attempt("store_check", "mismatch")
    f.attempt("store_check")
    assert f.attempted() == 12 and f.failed() == 3
    assert f.as_dict() == {
        "lookup": {"attempted": 10,
                   "failed": {"missing_file": 1, "missing_row": 1}},
        "store_check": {"attempted": 2, "failed": {"mismatch": 1}},
    }


def test_lookup_causes():
    missing = RuntimeError(
        "[FAILED_READ_FILE.FILE_NOT_EXIST] Encountered error while reading file"
    )
    assert stats.lookup_cause(1, None) is None
    assert stats.lookup_cause(0, None) == "missing_row"
    assert stats.lookup_cause(2, None) == "extra_rows"
    assert stats.lookup_cause(None, missing) == "missing_file"
    assert stats.lookup_cause(
        None, RuntimeError("java.io.FileNotFoundException: x")) == "missing_file"
    assert stats.lookup_cause(None, ValueError("boom")) == "error"
