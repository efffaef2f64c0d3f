"""Driver-side unit tests for the opcsim Python data source internals
(sources/opc.py).

The goldens run this source through Spark, where the DataSourceReader
callbacks execute inside the Python data-source worker process — invisible
to a driver tracer. The reader protocol is plain Python, so these tests
drive it directly: partition planning, sweep-row generation, the streaming
offset lifecycle (including the restart high-water-mark contract the
docstring promises), and the DataSource option wiring. No SparkSession.
"""

from __future__ import annotations

import os

import pytest

from opc2mongodb_spark.sources.opc import (
    ARROW_SCHEMA,
    RAW_SCHEMA,
    OpcSimBatchReader,
    OpcSimDataSource,
    OpcSimStreamReader,
    _ServerPartition,
    _sweep_batches,
    _sweep_rows,
    dt_to_us,
)
from opc2mongodb_spark.sources.config import parse_config_file

CONF = os.path.join(os.path.dirname(__file__), "fixtures", "opcsim.conf")


def _topo():
    return parse_config_file(CONF)


def _batch_rows(batches):
    """Flatten RecordBatch yields back to row tuples with timestamps as
    epoch-µs ints (the arrow wire representation)."""
    import pyarrow as pa

    out = []
    for b in batches:
        assert b.schema == ARROW_SCHEMA
        cols = []
        for i in range(b.num_columns):
            col = b.column(i)
            if pa.types.is_timestamp(col.type):
                col = col.cast(pa.int64())
            cols.append(col.to_pylist())
        for row in zip(*cols):
            out.append(row)
    return out


def _tuple_rows_as_us(rows):
    """_sweep_rows tuples with datetimes → epoch-µs ints, for comparison."""
    return [
        (r[0], r[1], r[2], r[3], dt_to_us(r[4]), dt_to_us(r[5]), r[6])
        for r in rows
    ]


def test_sweep_rows_shape_and_determinism():
    topo = _topo()
    part = _ServerPartition(0, 0, 3)
    rows = list(_sweep_rows(topo, part))
    n_tags = len(topo.servers[0].entries)
    assert len(rows) == 3 * n_tags
    # wire arity matches RAW_SCHEMA; quality always GOOD in the simulator
    assert all(len(r) == len(RAW_SCHEMA.fields) for r in rows)
    assert all(r[-1] == 192 for r in rows)
    # serverTimestamp = sourceTimestamp + 1s; timestamps naive (session UTC)
    assert all((r[5] - r[4]).total_seconds() == 1.0 for r in rows)
    assert rows == list(_sweep_rows(topo, _ServerPartition(0, 0, 3)))
    # a later window generates different sweeps for subscribe tags
    later = list(_sweep_rows(topo, _ServerPartition(0, 3, 6)))
    assert later != rows


def test_batch_reader_partitions_per_server():
    topo = _topo()
    r = OpcSimBatchReader(topo, sweeps=4)
    parts = r.partitions()
    assert [p.server_idx for p in parts] == list(range(len(topo.servers)))
    assert all((p.start_sweep, p.end_sweep) == (0, 4) for p in parts)
    got = _batch_rows(r.read(parts[0]))
    assert len(got) == 4 * len(topo.servers[0].entries)


def test_arrow_batches_match_tuple_spec_exactly():
    """The r11 Arrow-batched reader must reproduce ``_sweep_rows`` (the
    row-tuple semantic spec) bit-for-bit — same rows, same order — for
    every server and across arbitrary sweep windows (poll-tag hold
    boundaries included)."""
    topo = _topo()
    for server_idx in range(len(topo.servers)):
        for lo, hi in ((0, 3), (3, 9), (2, 2), (7, 11)):
            part = _ServerPartition(server_idx, lo, hi)
            arrow = _batch_rows(_sweep_batches(topo, part))
            tuples = _tuple_rows_as_us(_sweep_rows(topo, part))
            assert arrow == tuples


def test_arrow_batches_chunking():
    """One batch per ~_BATCH_TARGET_ROWS rows: a range small enough for one
    chunk yields exactly one RecordBatch; chunk boundaries never drop or
    duplicate rows (total row count is exact)."""
    from opc2mongodb_spark.sources import opc as opc_mod

    topo = _topo()
    n_tags = len(topo.servers[0].entries)
    part = _ServerPartition(0, 0, 10)
    batches = list(_sweep_batches(topo, part))
    assert len(batches) == 1 and batches[0].num_rows == 10 * n_tags

    # force multi-chunk by shrinking the target (monkeypatch-free: window
    # big enough that sweeps_per_chunk=max(1, target//n_tags) splits it)
    old = opc_mod._BATCH_TARGET_ROWS
    opc_mod._BATCH_TARGET_ROWS = n_tags * 3
    try:
        batches = list(_sweep_batches(topo, part))
    finally:
        opc_mod._BATCH_TARGET_ROWS = old
    assert len(batches) == 4  # ceil(10 / 3) sweeps-per-chunk windows
    assert sum(b.num_rows for b in batches) == 10 * n_tags
    assert _batch_rows(batches) == _tuple_rows_as_us(
        _sweep_rows(topo, part)
    )


def test_sweep_batches_render_amortization_and_bounded_cache():
    """The value cache must be O(n_tags), not O(rows) (r11 ADVICE: the
    (tag, sweep)-keyed cache retained one entry per rendered value for the
    partition's lifetime). Accounting proof via a counting _render_value:
    subscribe tags render every sweep (nothing cached), poll tags render
    once per 4-sweep hold window — including ACROSS chunk boundaries that
    do not align with the hold window."""
    from opc2mongodb_spark.sources import opc as opc_mod

    topo = _topo()
    srv = topo.servers[0]
    n_sub = sum(1 for e in srv.entries if e.subscribe)
    n_poll = len(srv.entries) - n_sub
    assert n_sub > 0 and n_poll > 0  # fixture exercises both classes

    calls = []
    real = opc_mod._render_value

    def counting(dt, tag, sweep, sub):
        calls.append((tag, sweep, sub))
        return real(dt, tag, sweep, sub)

    lo, hi = 2, 13  # 11 sweeps; neither end 4-aligned
    part = _ServerPartition(0, lo, hi)
    # misaligned 3-sweep chunks so hold windows straddle chunk boundaries
    old = opc_mod._BATCH_TARGET_ROWS
    opc_mod._BATCH_TARGET_ROWS = len(srv.entries) * 3
    opc_mod._render_value = counting
    try:
        rows = _batch_rows(_sweep_batches(topo, part))
    finally:
        opc_mod._render_value = real
        opc_mod._BATCH_TARGET_ROWS = old

    assert rows == _tuple_rows_as_us(_sweep_rows(topo, part))
    # hold windows intersecting [2, 13): starts 0, 4, 8, 12 → 4 windows
    n_windows = len(range((lo // 4) * 4, hi, 4))
    assert n_windows == 4
    sub_calls = sum(1 for c in calls if c[2])
    poll_calls = len(calls) - sub_calls
    assert sub_calls == n_sub * (hi - lo)  # every sweep, never cached
    assert poll_calls == n_poll * n_windows  # once per window, reused across chunks


def test_stream_reader_offset_lifecycle_and_restart_contract():
    topo = _topo()
    r = OpcSimStreamReader(topo, sweeps_per_batch=4, max_sweeps=10)
    assert r.initialOffset() == {"sweep": 0}
    assert r.latestOffset() == {"sweep": 4}
    assert r.latestOffset() == {"sweep": 8}
    assert r.latestOffset() == {"sweep": 10}  # capped at max_sweeps
    assert r.latestOffset() == {"sweep": 10}

    # restart: a FRESH reader recovers the high-water mark from whichever
    # engine callback first reveals the checkpointed offset — latestOffset
    # must never plan an inverted/empty range behind the checkpoint
    r2 = OpcSimStreamReader(topo, sweeps_per_batch=4, max_sweeps=20)
    parts = r2.partitions({"sweep": 4}, {"sweep": 8})
    assert [p.server_idx for p in parts] == list(range(len(topo.servers)))
    assert all((p.start_sweep, p.end_sweep) == (4, 8) for p in parts)
    assert r2.latestOffset() == {"sweep": 12}

    r3 = OpcSimStreamReader(topo, sweeps_per_batch=4, max_sweeps=20)
    r3.commit({"sweep": 8})
    assert r3.latestOffset() == {"sweep": 12}

    rows = _batch_rows(r2.read(parts[0]))
    assert len(rows) == 4 * len(topo.servers[0].entries)


def test_datasource_option_wiring():
    assert OpcSimDataSource.name() == "opcsim"
    ds = OpcSimDataSource(options={"config": CONF, "sweeps": "3"})
    assert ds.schema() == RAW_SCHEMA
    batch = ds.reader(RAW_SCHEMA)
    assert batch.sweeps == 3

    ds2 = OpcSimDataSource(
        options={"config": CONF, "sweeps_per_batch": "7", "max_sweeps": "21"}
    )
    stream = ds2.streamReader(RAW_SCHEMA)
    assert (stream.sweeps_per_batch, stream.max_sweeps) == (7, 21)


def test_datasource_requires_config_option():
    with pytest.raises(ValueError, match="requires option 'config'"):
        OpcSimDataSource(options={}).reader(RAW_SCHEMA)


def test_dt_to_us_integer_exact_and_tz_handling():
    """dt_to_us: naive == UTC (the session timezone), tz-aware converts,
    None passes through, and the arithmetic is integer-exact at µs
    precision (float .timestamp() loses sub-ms bits at 2024-scale
    epochs)."""
    from datetime import datetime, timedelta, timezone

    assert dt_to_us(None) is None
    naive = datetime(2024, 1, 1, 0, 0, 0, 123456)
    aware = naive.replace(tzinfo=timezone.utc)
    assert dt_to_us(naive) == dt_to_us(aware)
    # a +02:00 wall time is 2h earlier as a UTC instant
    plus2 = naive.replace(tzinfo=timezone(timedelta(hours=2)))
    assert dt_to_us(plus2) == dt_to_us(naive) - 2 * 3600 * 1_000_000
    # exactness: microsecond survives round-trip
    assert dt_to_us(naive) % 1_000_000 == 123456


def test_source_import_loads_no_batch_stack():
    """Every Python worker that unpickles the source imports
    ``opc2mongodb_spark.sources.opc``. The package surface is lazy, so that
    import must not pull in pandas or the batch operators / pipelines."""
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    probe = (
        "import sys, opc2mongodb_spark.sources.opc\n"
        "print(sorted(m for m in sys.modules if m == 'pandas' or m.startswith("
        "('opc2mongodb_spark.operators', 'opc2mongodb_spark.pipelines'))))\n"
    )
    env = dict(os.environ, PYTHONPATH=root)
    out = subprocess.run(
        [sys.executable, "-c", probe], env=env, cwd=root,
        capture_output=True, text=True, check=True,
    )
    assert out.stdout.strip() == "[]", out.stdout
