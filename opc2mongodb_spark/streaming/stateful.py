"""Stateful streaming gates: per-key state carried across micro-batches
via ``applyInPandasWithState`` (SURVEY.md H5 upgrade path).

The reference's own semantics need no streaming state: the stateless
foreachBatch upsert (``sinks.upsert_query``, run by ``Engine.ingest``)
keeps the newest row per key in the store. This module is for per-key
logic that must carry state across micro-batches: change detection
against the previous value (the reference's subscribe-on-change path,
Program.cs:126-444 ``Monitor<T>``), recursive filters, drift tests,
admission control.

Every gate but the watchdog is one keyed fold over :func:`_keyed_fold`,
which owns the engine half (Structured Streaming's arbitrary stateful
operator: a user step plus engine-owned state, no timeout). A gate
supplies only a pure step::

    step(key, pdf, state) -> (rows, new_state | None)

- ``key``: the group-key tuple, in ``groupBy`` order.
- ``pdf``: the key's whole micro-batch slice as ONE pandas frame
  (Arrow batches concatenated), stable-sorted by the gate's ``order_by``
  when it has one.
- ``state``: the carried state tuple, or the gate's ``initial`` value
  when the key has none yet.
- ``rows``: a column mapping or frame, emitted in the output schema's
  column order; ``new_state`` replaces the key's state, ``None`` leaves
  it as is.

Under ``NoTimeout`` Spark calls the fold only for keys with rows in the
batch, so a step never sees an empty slice. State per key is a few
scalars or a schema-sized list — O(#keys) memory, checkpoint-recoverable
under either state-store provider. ``watchdog_stream`` is the one
event-time-timeout gate and keeps its own ``applyInPandasWithState``
call.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)


def _keyed_fold(
    df: DataFrame,
    keys: list[str],
    step: Callable,
    out_schema: StructType,
    state_schema: StructType,
    initial: Any,
    order_by: str | list[str] | None = None,
) -> DataFrame:
    """Group ``df`` by ``keys`` and fold each key's micro-batch slice
    through ``step`` with per-key state (the contract is in the module
    docstring): append output, no state timeout."""
    cols = [f.name for f in out_schema.fields]

    def _apply(  # pragma: worker
        key: tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        pdf = pd.concat(list(batches), ignore_index=True)
        if order_by is not None:
            pdf = pdf.sort_values(order_by, kind="stable", ignore_index=True)
        st = state.get if state.exists else initial
        rows, new_state = step(key, pdf, st)
        if new_state is not None:
            state.update(new_state)
        yield pd.DataFrame(rows, columns=cols)

    return df.groupBy(*keys).applyInPandasWithState(
        _apply,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


CHANGES_SCHEMA = StructType(
    [
        StructField("server", StringType()),
        StructField("tag", StringType()),
        StructField("doubleValue", DoubleType()),
        StructField("prevValue", DoubleType()),
        StructField("changed", BooleanType()),
        StructField("serverTimestamp", TimestampType()),
    ]
)

STATE_SCHEMA = StructType(
    [
        StructField("lastValue", DoubleType()),
    ]
)


def _detect_changes(key, pdf, st):  # pragma: worker
    server, tag = key
    (last,) = st

    # Vectorized change detection: previous value is shift(1) seeded with the
    # carried state — no per-row Python loop (Arrow batch in, Arrow batch out).
    vals = pdf["doubleValue"].astype(float)
    prev = vals.shift(1)
    if last is not None:
        prev.iat[0] = last
    changed = prev.isna() | (vals != prev)
    new_last = vals.iat[-1]

    return {
        "server": server,
        "tag": tag,
        # Arrow hands SQL NULL to pandas as NaN (float64 column), so NULL
        # and a genuine NaN observation are indistinguishable here by
        # transport; both are emitted as NULL (null-preserving object
        # conversion, same as prevValue) and carried as "no previous
        # value" for change detection. Documented contract, not a leak of
        # NaN into a nullable column.
        "doubleValue": vals.astype(object).where(vals.notna(), None),
        # NaN (no previous) must surface as NULL, not float('nan')
        "prevValue": prev.astype(object).where(prev.notna(), None),
        "changed": changed,
        "serverTimestamp": pdf["serverTimestamp"],
    }, ((float(new_last),) if pd.notna(new_last) else (None,))


def value_changes(opc_stream: DataFrame) -> DataFrame:
    """Streaming change detection per (server, tag) — the reference's
    Monitor<T> subscribe-on-change callback (Program.cs:126-444) as a
    stateful operator. Use ``.filter(changed)`` for change-only output."""
    return _keyed_fold(
        opc_stream.select("server", "tag", "doubleValue", "serverTimestamp"),
        ["server", "tag"], _detect_changes, CHANGES_SCHEMA, STATE_SCHEMA,
        (None,), order_by="serverTimestamp",
    )


EWMA_ALPHA = 0.5

EWMA_SCHEMA = StructType(
    [
        StructField("server", StringType()),
        StructField("tag", StringType()),
        StructField("doubleValue", DoubleType()),
        StructField("ewma", DoubleType()),
        StructField("serverTimestamp", TimestampType()),
    ]
)

EWMA_STATE_SCHEMA = StructType(
    [
        StructField("lastEwma", DoubleType()),
    ]
)


def _ewma_update(key, pdf, st):  # pragma: worker
    server, tag = key
    (seed,) = st
    vals = pdf["doubleValue"].astype(float)

    # Recursive EWMA via pandas' C implementation (adjust=False):
    # e_i = (1-a)*e_{i-1} + a*v_i. The carried state seeds the recursion by
    # prepending it as row 0 (e_0 = seed), then dropping that row — the
    # exact float recursion continues bit-for-bit across micro-batches.
    if seed is not None:
        seeded = pd.concat([pd.Series([seed]), vals], ignore_index=True)
        ewma = seeded.ewm(alpha=EWMA_ALPHA, adjust=False).mean().iloc[1:]
        ewma.index = vals.index
    else:
        ewma = vals.ewm(alpha=EWMA_ALPHA, adjust=False).mean()

    return {
        "server": server,
        "tag": tag,
        "doubleValue": vals,
        "ewma": ewma,
        "serverTimestamp": pdf["serverTimestamp"],
    }, (float(ewma.iloc[-1]),)


def ewma_stream(opc_stream: DataFrame) -> DataFrame:
    """Streaming recursive EWMA per (server, tag) — the untruncated,
    order-dependent form the batch q_ewma approximates with 8 lags. State
    per key is one double; the recursion resumes exactly across
    micro-batches and restarts (state lives in the checkpoint)."""
    return _keyed_fold(
        opc_stream.select("server", "tag", "doubleValue", "serverTimestamp"),
        ["server", "tag"], _ewma_update, EWMA_SCHEMA, EWMA_STATE_SCHEMA,
        (None,), order_by="serverTimestamp",
    )


DEADBAND_SCHEMA = StructType(
    [
        StructField("server", StringType()),
        StructField("tag", StringType()),
        StructField("doubleValue", DoubleType()),
        StructField("reportedValue", DoubleType()),
        StructField("reported", BooleanType()),
        StructField("serverTimestamp", TimestampType()),
    ]
)

DEADBAND_STATE_SCHEMA = StructType(
    [
        StructField("lastReported", DoubleType()),
    ]
)


def _deadband_step(deadband: float):
    def step(key, pdf, st):  # pragma: worker
        server, tag = key
        (last,) = st
        vals = pdf["doubleValue"].astype(float).to_numpy()

        # The deadband recursion is data-dependent (each verdict depends on
        # the last REPORTED value, not the last value) — no vectorized or
        # C-library form exists, so this is a tight numpy-scalar loop over
        # ONE key's micro-batch slice. Keys parallelize across tasks and
        # batches are Arrow-bounded, so the sequential section is
        # O(rows-per-key-per-batch) — the same bound every OPC server's own
        # per-tag deadband evaluation has. NaN/NULL observations are never
        # reported and never update state (OPC quality semantics: a bad
        # sample can't move the band).
        reported = []
        ref = []
        for v in vals:
            if v != v:  # NaN / NULL transport
                reported.append(False)
                ref.append(last)
                continue
            if last is None or abs(v - last) >= deadband:
                reported.append(True)
                last = v
            else:
                reported.append(False)
            ref.append(last)

        return {
            "server": server,
            "tag": tag,
            "doubleValue": pd.Series(vals, dtype=object).where(
                pd.Series(vals).notna(), None
            ),
            "reportedValue": pd.Series(ref, dtype=object),
            "reported": reported,
            "serverTimestamp": pdf["serverTimestamp"],
        }, ((float(last),) if last is not None else (None,))

    return step


def deadband_stream(opc_stream: DataFrame, deadband: float) -> DataFrame:
    """Report-by-exception per (server, tag) — the OPC deadband contract:
    a sample is REPORTED iff there is no previously reported value or it
    moved at least ``deadband`` away from the last REPORTED value (not the
    last observed one — historian "swinging door"-style compression needs
    the reported anchor, which is why no window/lag expression can replace
    this). The reference's subscribe path delivers every change
    (OPC2MongoDB/Program.cs:143 Monitor<T>); real OPC servers apply exactly
    this filter server-side, so the operator is the bridge's missing
    ingest-volume control. State per key is ONE double (the reported
    anchor), checkpoint-recoverable; ``.filter(reported)`` yields the
    compressed stream. The batch lag-based twin (``q_deadband_filter``)
    compresses against the previous OBSERVATION — weaker suppression,
    but window-expressible and oracle-checkable; this operator is the
    exact form."""
    return _keyed_fold(
        opc_stream.select("server", "tag", "doubleValue", "serverTimestamp"),
        ["server", "tag"], _deadband_step(deadband), DEADBAND_SCHEMA,
        DEADBAND_STATE_SCHEMA, (None,), order_by="serverTimestamp",
    )


SDT_SCHEMA = StructType(
    [
        StructField("server", StringType()),
        StructField("tag", StringType()),
        StructField("serverTimestamp", TimestampType()),
        StructField("doubleValue", DoubleType()),
    ]
)

# SdtKernel.state_tuple(): anchor (t µs, v), door slopes, previous (t µs, v).
SDT_STATE_SCHEMA = StructType(
    [
        StructField("aT", DoubleType()),
        StructField("aV", DoubleType()),
        StructField("sUp", DoubleType()),
        StructField("sLow", DoubleType()),
        StructField("pT", DoubleType()),
        StructField("pV", DoubleType()),
    ]
)


def _sdt_step(comp_dev: float):
    from opc2mongodb_spark.operators.compress import SdtKernel

    def step(key, pdf, st):  # pragma: worker
        server, tag = key
        kernel = (
            SdtKernel.from_state(comp_dev, st)
            if st is not None
            else SdtKernel(comp_dev)
        )
        ts = pdf["serverTimestamp"]
        vals = pdf["doubleValue"].astype(float).to_numpy()
        out_t, out_v = [], []
        for i, v in enumerate(vals):
            if v != v:  # NaN/NULL: bad quality never moves the doors
                continue
            # µs since epoch keeps the kernel identical to the batch path.
            t_us = ts.iloc[i].value // 1000
            for at, av, _ in kernel.push(t_us, float(v), i):
                # Rebuild the timestamp from the kernel's own µs value: an
                # archived point may be the held end of a PREVIOUS batch,
                # whose row no longer exists in this one.
                out_t.append(pd.Timestamp(int(at) * 1000))
                out_v.append(av)
        # an all-NULL slice on a fresh key never starts the kernel: no state
        return {
            "server": server,
            "tag": tag,
            "serverTimestamp": pd.Series(out_t, dtype="datetime64[us]"),
            "doubleValue": pd.Series(out_v, dtype="float64"),
        }, (kernel.state_tuple() if kernel.started else None)

    return step


def sdt_stream(opc_stream: DataFrame, comp_dev: float) -> DataFrame:
    """Swinging-door trending on a LIVE stream — the archive-side companion
    of :func:`deadband_stream`, running the SAME kernel as the batch
    operator (operators/compress.py::SdtKernel), so batch and streaming
    archives agree point-for-point on the decided prefix. Emits each
    archived point as soon as the doors close on it (append mode); the
    held live end of every signal stays in state, exactly as a historian's
    in-flight compression buffer does, and is emitted only when a later
    point closes its doors. State per key is six doubles —
    checkpoint-recoverable, O(#keys) memory.

    Micro-batch boundaries do not change the archive: the kernel's
    verdicts depend only on point order, which the per-batch
    serverTimestamp sort plus cross-batch state preserves for in-order
    streams (late data is the watermark policy's job, as with
    ``deadband_stream``)."""
    return _keyed_fold(
        opc_stream.select("server", "tag", "doubleValue", "serverTimestamp"),
        ["server", "tag"], _sdt_step(comp_dev), SDT_SCHEMA, SDT_STATE_SCHEMA,
        None, order_by="serverTimestamp",
    )


CUSUM_SCHEMA = StructType(
    [
        StructField("server", StringType()),
        StructField("tag", StringType()),
        StructField("doubleValue", DoubleType()),
        StructField("s_hi", DoubleType()),
        StructField("s_lo", DoubleType()),
        StructField("alarm", BooleanType()),
        StructField("serverTimestamp", TimestampType()),
    ]
)

CUSUM_STATE_SCHEMA = StructType(
    [
        StructField("s_hi", DoubleType()),
        StructField("s_lo", DoubleType()),
    ]
)


def _cusum_step(target: float, slack: float, threshold: float):
    def step(key, pdf, st):  # pragma: worker
        server, tag = key
        s_hi, s_lo = st
        hi_out, lo_out, alarms = [], [], []
        for v in pdf["doubleValue"].astype(float).tolist():
            hit = False
            # NaN/NULL: a bad sample never moves the run (max(0.0, nan) is
            # 0.0 and would silently reset it; the batch twin's SUM skips
            # NULLs) — emitted with the carried sums, never alarming.
            if v == v:
                # Page's recursive CUSUM: the clamped form the batch
                # cumulative-deviation statistic (q_cusum_changepoint)
                # cannot express in window algebra — the clamp makes each
                # step depend on the previous RESULT, not the previous input.
                s_hi = max(0.0, s_hi + (v - target - slack))
                s_lo = max(0.0, s_lo + (target - v - slack))
                hit = s_hi > threshold or s_lo > threshold
            hi_out.append(s_hi)
            lo_out.append(s_lo)
            alarms.append(hit)
            if hit:
                # alarm resets the detector (standard practice: start a
                # fresh run so repeated drift re-alarms, not saturates)
                s_hi, s_lo = 0.0, 0.0
        return {
            "server": server,
            "tag": tag,
            "doubleValue": pdf["doubleValue"],
            "s_hi": hi_out,
            "s_lo": lo_out,
            "alarm": alarms,
            "serverTimestamp": pdf["serverTimestamp"],
        }, (float(s_hi), float(s_lo))

    return step


def cusum_stream(
    opc_stream: DataFrame,
    target: float,
    slack: float = 0.5,
    threshold: float = 5.0,
) -> DataFrame:
    """Streaming recursive CUSUM drift detector per (server, tag) — Page's
    sequential test in its clamped two-sided form: s_hi accumulates
    upward drift beyond ``target + slack``, s_lo downward, either crossing
    ``threshold`` raises an alarm and resets the run. The clamp makes the
    recursion depend on its own previous OUTPUT, which no window frame
    can express — this is the genuinely stateful streaming twin of the
    batch cumulative-deviation statistic (q_cusum_changepoint), the same
    relationship ewma_stream has to q_ewma. State per key is two doubles
    (checkpoint-recoverable); micro-batch boundaries don't change
    verdicts because the per-batch serverTimestamp sort plus carried
    state preserves point order for in-order streams (late data is the
    watermark policy's job). A NULL sample is emitted with the carried
    sums, never alarms and never moves the run (the batch twin's SUM
    skips NULLs too)."""
    return _keyed_fold(
        opc_stream.select("server", "tag", "doubleValue", "serverTimestamp"),
        ["server", "tag"], _cusum_step(target, slack, threshold),
        CUSUM_SCHEMA, CUSUM_STATE_SCHEMA, (0.0, 0.0),
        order_by="serverTimestamp",
    )


PSI_SCHEMA = StructType(
    [
        StructField("server", StringType()),
        StructField("tag", StringType()),
        StructField("batch_n", LongType()),
        StructField("n_seen", LongType()),
        StructField("psi", DoubleType()),
        StructField("alarm", BooleanType()),
    ]
)

PSI_STATE_SCHEMA = StructType(
    [
        StructField("counts", ArrayType(LongType())),
    ]
)


def psi_reference(ref: DataFrame, value_col: str) -> tuple[list, list]:
    """Batch-side prep for :func:`psi_drift_stream`: exact rank-selected
    decile edges of the reference sample (through the shared histogram
    rank-selection — never a single-task global sort; the q_psi_drift
    discipline) plus the reference's own per-bin counts. Driver state is
    9 floats + 10 longs — the broadcastable 'reference decile table'.

    Edge semantics match q_psi_drift exactly: edges are the values at
    ranks ceil(k*n/10), k=1..9 (duplicate ranks deduped, duplicate VALUES
    kept), and a value v falls in bin 1 + |{e : e < v}| — left-inclusive
    upper edges."""
    from pyspark.sql import functions as F

    from opc2mongodb_spark.operators.histogram import rank_select

    deciles = rank_select(
        ref.select(F.col(value_col).alias("__v")),
        "__v",
        [(lambda n, k=k: F.ceil(k * n / 10.0)) for k in range(1, 10)],
    )
    edges = sorted(r["__v"] for r in deciles.select("__v").collect())
    binned = ref.select(
        (
            1
            + sum(
                F.when(F.col(value_col) > F.lit(e), 1).otherwise(0)
                for e in edges
            )
        ).alias("bin")
    )
    by_bin = {
        r["bin"]: r["c"]
        for r in binned.groupBy("bin").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    return edges, [int(by_bin.get(b, 0)) for b in range(1, 11)]


def _psi_step(edges: list, ref_counts: list, threshold: float):
    import math

    n1 = sum(ref_counts)
    p = [(c + 0.5) / (n1 + 5.0) for c in ref_counts]

    def step(key, pdf, st):  # pragma: worker
        server, tag = key
        counts = list(st[0])
        batch_n = len(pdf)
        for v in pdf["doubleValue"].astype(float):
            b = 0
            for e in edges:  # <= 9 comparisons; bin = 1 + |{e < v}|
                if e < v:
                    b += 1
            counts[b] += 1
        n2 = sum(counts)
        psi = 0.0
        for i in range(10):
            q = (counts[i] + 0.5) / (n2 + 5.0)
            psi += (p[i] - q) * math.log(p[i] / q)
        alarm = psi > threshold
        out = {
            "server": [server],
            "tag": [tag],
            "batch_n": [batch_n],
            "n_seen": [n2],
            "psi": [psi],
            "alarm": [alarm],
        }
        if alarm:
            # like cusum_stream's reset: start a fresh accumulation run so
            # a later, separate drift episode re-alarms instead of the
            # statistic saturating forever on stale history
            counts = [0] * 10
        return out, (counts,)

    return step


def psi_drift_stream(
    opc_stream: DataFrame,
    edges: list,
    ref_counts: list,
    threshold: float = 0.2,
) -> DataFrame:
    """Streaming population-stability gate per (server, tag) — the
    stateful twin of q_psi_drift, completing the drift triple's streaming
    side (cusum_stream landed r6). Each micro-batch bins its values
    against the BROADCAST reference-decile table (``edges``/``ref_counts``
    from :func:`psi_reference` — 19 scalars in the closure, no join) and
    scores the cumulative observed bin counts against the reference with
    the exact q_psi_drift arithmetic: Jeffreys +0.5 smoothing, PSI =
    sum (p_i - q_i) * ln(p_i / q_i). ``psi > threshold`` alarms and
    resets the accumulation (the cusum_stream reset discipline). One
    output row per key per micro-batch; state per key is ten longs —
    checkpoint-recoverable, O(#keys) memory. The conventional alert
    thresholds are 0.1 (watch) / 0.2 (act)."""
    if len(edges) > 9 or len(ref_counts) != 10:
        raise ValueError(
            f"expected <=9 edges and 10 reference bin counts, got "
            f"{len(edges)}/{len(ref_counts)}"
        )
    return _keyed_fold(
        opc_stream.select("server", "tag", "doubleValue"),
        ["server", "tag"],
        _psi_step(list(edges), [int(c) for c in ref_counts], threshold),
        PSI_SCHEMA, PSI_STATE_SCHEMA, ([0] * 10,),
    )


HH_SCHEMA = StructType(
    [
        StructField("server", StringType()),
        StructField("tag", StringType()),
        StructField("est_count", LongType()),
        StructField("max_err", LongType()),
        StructField("n_seen", LongType()),
    ]
)

HH_STATE_SCHEMA = StructType(
    [
        StructField("tags", ArrayType(StringType())),
        StructField("counts", ArrayType(LongType())),
        StructField("errs", ArrayType(LongType())),
        StructField("n_seen", LongType()),
    ]
)


def _hh_step(k: int):
    def step(key, pdf, st):  # pragma: worker
        (server,) = key
        tags, counts, errs, n_seen = st
        table = {t: [c, e] for t, c, e in zip(tags, counts, errs)}
        for tag in pdf["tag"].astype(str):
            n_seen += 1
            if tag in table:
                table[tag][0] += 1
            elif len(table) < k:
                table[tag] = [1, 0]
            else:
                # evict the (count, tag)-min entry; the newcomer inherits
                # its count as both estimate base and error bound
                victim = min(table, key=lambda t: (table[t][0], t))
                vcount = table[victim][0]
                del table[victim]
                table[tag] = [vcount + 1, vcount]
        items = sorted(
            table.items(), key=lambda kv: (-kv[1][0], kv[0])
        )
        tags = [t for t, _ in items]
        counts = [c for _, (c, _) in items]
        errs = [e for _, (_, e) in items]
        return {
            "server": server,
            "tag": tags,
            "est_count": counts,
            "max_err": errs,
            "n_seen": int(n_seen),
        }, (tags, counts, errs, int(n_seen))

    return step


def heavy_hitters_stream(opc_stream: DataFrame, k: int = 8) -> DataFrame:
    """Streaming top-k heavy hitters per server — the Space-Saving
    summary (Metwally et al., the same guarantee family as the batch CMS
    in operators/bloom.py / q_heavy_hitters_cms, but maintained
    INCREMENTALLY in O(k) state instead of recounted per query): at most
    ``k`` (tag, est, err) entries per key; a full counter table forces
    the newcomer to evict the smallest entry and inherit its count as
    both base and error bound. Invariants (golden-tested): est_count >=
    true count >= est_count - max_err for every surviving tag, and any
    tag with true frequency > n/k is guaranteed present. Emits the whole
    k-row summary per key per micro-batch (monitoring-dashboard shape);
    per-batch arrival order is pinned by the serverTimestamp sort, and
    the counter table survives checkpoint restarts. This is the cardinal
    streaming answer to "which tags dominate this server's traffic"
    when the tag universe is unbounded and a per-tag groupBy state would
    grow without limit."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    return _keyed_fold(
        opc_stream.select("server", "tag", "serverTimestamp"),
        ["server"], _hh_step(int(k)), HH_SCHEMA, HH_STATE_SCHEMA,
        ([], [], [], 0), order_by="serverTimestamp",
    )


QUOTA_STATE_SCHEMA = StructType(
    [
        StructField("tokens", DoubleType()),
        StructField("last_us", LongType()),
    ]
)


def _quota_step(rate_per_sec: float, burst: float):
    def step(key, pdf, st):  # pragma: worker
        tokens, last_us = st
        admitted, tokens_after = [], []
        for ts in pdf["serverTimestamp"]:
            now_us = int(ts.value // 1000)  # pandas ns -> integer us
            if last_us is not None and now_us > last_us:
                # integer-microsecond refill: deterministic replay — the
                # bucket depends only on EVENT time, never wall clock
                tokens = min(
                    float(burst),
                    tokens + (now_us - last_us) * rate_per_sec / 1e6,
                )
            last_us = now_us if last_us is None else max(last_us, now_us)
            ok = tokens >= 1.0
            if ok:
                tokens -= 1.0
            admitted.append(ok)
            tokens_after.append(tokens)
        out = pdf.assign(admitted=admitted, tokens_after=tokens_after)
        return out, (float(tokens), int(last_us))

    return step


def quota_gate(
    opc_stream: DataFrame,
    rate_per_sec: float,
    burst: float,
) -> DataFrame:
    """Per-server token-bucket admission gate — the ingestion
    rate-limiting primitive (protect a downstream sink or paid API from
    a misbehaving server flooding the bridge; the reference has no
    defense at all — its queue just grows, Program.cs's
    BlockingCollection). Classic token bucket on EVENT time: the bucket
    refills at ``rate_per_sec`` up to ``burst``, each admitted row costs
    one token, rows arriving with an empty bucket are flagged
    ``admitted=false`` (annotate-don't-drop, the with_late_data_policy
    discipline — the caller filters). Refill arithmetic runs on integer
    microseconds of the event timestamps, so a checkpoint replay of the
    same events reproduces the same verdicts bit-for-bit; out-of-order
    rows within a batch are ordered by the per-batch timestamp sort and
    a stale timestamp never rewinds the bucket (monotone last_us).
    State per key is two scalars."""
    if rate_per_sec <= 0 or burst < 1:
        raise ValueError(
            f"need rate_per_sec > 0 and burst >= 1, got "
            f"{rate_per_sec}/{burst}"
        )
    if "serverTimestamp" not in opc_stream.columns:
        raise ValueError("quota_gate needs a serverTimestamp column")
    # SCHEMA PASS-THROUGH (r7 composition fix): the gate annotates, it
    # does not narrow — every input column survives so downstream sinks
    # (to_mongo_documents needs quality/sourceTimestamp) keep working.
    out_schema = StructType(
        list(opc_stream.schema.fields)
        + [
            StructField("admitted", BooleanType()),
            StructField("tokens_after", DoubleType()),
        ]
    )
    return _keyed_fold(
        opc_stream, ["server"],
        _quota_step(float(rate_per_sec), float(burst)), out_schema,
        QUOTA_STATE_SCHEMA, (float(burst), None), order_by="serverTimestamp",
    )


# ---------------------------------------------------------------------------
# r8 — staleness watchdog (EVENT-time state timeouts)
# ---------------------------------------------------------------------------

WATCHDOG_SCHEMA = StructType(
    [
        StructField("server", StringType()),
        StructField("tag", StringType()),
        StructField("last_ts", TimestampType()),
        StructField("last_value", DoubleType()),
        StructField("silent_for_us", LongType()),
    ]
)

WATCHDOG_STATE_SCHEMA = StructType(
    [
        StructField("last_us", LongType()),
        StructField("last_value", DoubleType()),
    ]
)


def _watchdog(stale_after_s: float):
    stale_ms = int(stale_after_s * 1000)

    def _apply(  # pragma: worker
        key: tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        server, tag = key
        if state.hasTimedOut:
            # the tag went silent: one alarm, then drop the state — a
            # later arrival re-creates it (and a fresh silence re-alarms).
            last_us, last_value = state.get
            wm_us = state.getCurrentWatermarkMs() * 1000
            state.remove()
            yield pd.DataFrame(
                {
                    "server": [server],
                    "tag": [tag],
                    "last_ts": [pd.Timestamp(last_us, unit="us")],
                    "last_value": [last_value],
                    "silent_for_us": [int(wm_us - last_us)],
                }
            )
            return
        last_us, last_value = state.get if state.exists else (None, None)
        for pdf in batches:
            for ts, v in zip(pdf["serverTimestamp"], pdf["doubleValue"]):
                us = int(ts.value // 1000)
                # monotone: a late straggler never rewinds the deadline
                if last_us is None or us > last_us:
                    last_us, last_value = us, float(v)
        state.update((int(last_us), last_value))
        state.setTimeoutTimestamp(last_us // 1000 + stale_ms)
        yield pd.DataFrame(
            {
                "server": pd.Series([], dtype="object"),
                "tag": pd.Series([], dtype="object"),
                "last_ts": pd.Series([], dtype="datetime64[us]"),
                "last_value": pd.Series([], dtype="float64"),
                "silent_for_us": pd.Series([], dtype="int64"),
            }
        )

    return _apply


def watchdog_stream(
    opc_stream: DataFrame,
    stale_after_s: float,
    watermark_delay: str = "10 seconds",
) -> DataFrame:
    """Per-(server, tag) staleness watchdog: emits ONE alarm row when a tag
    stops reporting for ``stale_after_s`` of EVENT time.

    The reference's operators watch this by hand (a tag that stops
    updating just silently keeps its last Mongo document,
    OPC2MongoDB/Program.cs's Monitor callbacks simply stop firing); a
    historian needs the inverse signal. Built on EVENT-TIME state
    timeouts (``GroupStateTimeout.EventTimeTimeout`` — the repo's first;
    every other gate is NoTimeout): the deadline is
    last_seen + stale_after in event time, fired when the WATERMARK
    passes it, so a checkpoint replay of the same events reproduces the
    same alarms — a processing-time watchdog would depend on wall clock
    and flake under replay. Consequences, documented: silence is only
    observed while the watermark advances, i.e. some OTHER tag keeps
    producing events (the standard event-time-timeout contract; an
    all-quiet topology needs a heartbeat source). State per key is two
    scalars; an alarmed key's state is dropped (re-created on the next
    arrival, so a recovered tag re-arms).

    Output is alarm-only (append mode): (server, tag, last_ts,
    last_value, silent_for_us), where silent_for_us measures watermark
    minus last seen — how long past the data the stream has provably
    advanced without this tag.
    """
    if stale_after_s <= 0:
        raise ValueError(f"need stale_after_s > 0, got {stale_after_s}")
    for c in ("server", "tag", "doubleValue", "serverTimestamp"):
        if c not in opc_stream.columns:
            raise ValueError(f"watchdog_stream needs a {c} column")
    return (
        opc_stream.withWatermark("serverTimestamp", watermark_delay)
        .groupBy("server", "tag")
        .applyInPandasWithState(
            _watchdog(float(stale_after_s)),
            outputStructType=WATCHDOG_SCHEMA,
            stateStructType=WATCHDOG_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


SCHEMA_DRIFT_SCHEMA = StructType(
    [
        StructField("server", StringType()),
        StructField("batch_keys", LongType()),
        StructField("new_keys", ArrayType(StringType())),
        StructField("invalid_rows", LongType()),
        StructField("n_known", LongType()),
        StructField("alarm", BooleanType()),
    ]
)

SCHEMA_DRIFT_STATE_SCHEMA = StructType(
    [
        StructField("keys", ArrayType(StringType())),
    ]
)


def _schema_drift_step(key, pdf, st):  # pragma: worker
    (server,) = key
    known = set(st[0])
    batch_keys: set[str] = set()
    invalid = 0
    for arr in pdf["_keys"]:
        if arr is None:
            invalid += 1
        else:
            batch_keys.update(str(k) for k in arr)
    new = sorted(batch_keys - known)
    known |= batch_keys
    return {
        "server": [server],
        "batch_keys": [len(batch_keys)],
        "new_keys": [new],
        "invalid_rows": [invalid],
        "n_known": [len(known)],
        "alarm": [len(new) > 0],
    }, (sorted(known),)


def schema_drift_stream(
    stream: DataFrame,
    json_col: str = "props",
    key_col: str = "server",
    baseline: list[str] | tuple[str, ...] = (),
) -> DataFrame:
    """Streaming SCHEMA-DRIFT gate — the stateful twin of
    q_json_schema_profile: alarm the moment a payload key never seen
    before appears in a key group's semi-structured column (the
    upstream-deployed-a-new-field signal that silently breaks downstream
    extraction). JSON parsing stays JVM-side (``from_json`` →
    ``map_keys``; Arrow ships only the small key arrays), so the pandas
    state op does pure set union — state per group is the sorted list of
    keys ever seen (schema-sized, NOT data-sized), checkpoint-recoverable.
    One output row per group per micro-batch: distinct keys observed, the
    sorted first-seen keys (alarm when non-empty), rows whose payload
    failed to parse (malformed drift counts too), and the cumulative known
    count. ``baseline`` seeds the known set so deploy-time keys don't
    alarm on the first batch."""
    from pyspark.sql import functions as F

    keyed = stream.select(
        F.col(key_col).alias("server"),
        F.map_keys(
            F.from_json(F.col(json_col), "map<string,string>")
        ).alias("_keys"),
    )
    return _keyed_fold(
        keyed, ["server"], _schema_drift_step, SCHEMA_DRIFT_SCHEMA,
        SCHEMA_DRIFT_STATE_SCHEMA, ([str(k) for k in baseline],),
    )


ALARM_SCHEMA = StructType(
    [
        StructField("server", StringType()),
        StructField("tag", StringType()),
        StructField("serverTimestamp", TimestampType()),
        StructField("transition", StringType()),
    ]
)

ALARM_STATE_SCHEMA = StructType(
    [
        StructField("state", LongType()),
    ]
)


def _hysteresis_step(hi: float, lo: float):
    def step(key, pdf, st):  # pragma: worker
        server, tag = key
        cur = int(st[0])
        ts_out, tr_out = [], []
        for v, ts in zip(pdf["doubleValue"], pdf["serverTimestamp"]):
            if v >= hi:
                nxt = 1
            elif v <= lo:
                nxt = 0
            else:
                nxt = cur  # dead zone holds — no chatter
            if nxt != cur:
                ts_out.append(ts)
                tr_out.append("SET" if nxt == 1 else "CLEAR")
                cur = nxt
        return {
            "server": server,
            "tag": tag,
            "serverTimestamp": ts_out,
            "transition": tr_out,
        }, (cur,)

    return step


def hysteresis_stream(
    opc_stream: DataFrame,
    hi: float,
    lo: float,
) -> DataFrame:
    """Streaming HYSTERESIS alarm gate per (server, tag) — the stateful
    twin of q_hysteresis_alarms and the alarm layer industrial historians
    run over exactly the reference's record stream (reference:
    OPC2MongoDB/Program.cs:73-82 — doubleValue + serverTimestamp):
    ``value >= hi`` SETS the alarm, ``value <= lo`` CLEARS it, the dead
    zone between holds, so noise around one threshold cannot chatter.
    Emits ONLY transitions (SET/CLEAR rows stamped with the crossing
    record's timestamp); state per key is a single long —
    checkpoint-recoverable, O(#keys) memory, and an in-dead-zone restart
    provably resumes the pre-stop alarm state (golden). Within a
    micro-batch, records order by (serverTimestamp, doubleValue) — the
    value tiebreak makes same-instant crossings deterministic across
    reruns (the batch twin q_hysteresis_alarms tiebreaks on event_id,
    which this stream schema lacks). ``hi`` must exceed ``lo`` or the
    dead zone is empty and the gate degenerates to a plain threshold."""
    if not hi > lo:
        raise ValueError(f"need hi > lo, got hi={hi!r} lo={lo!r}")
    # total order: equal-timestamp records tiebreak on value (the stream
    # schema has no event id) — without it, Arrow batch concat order would
    # decide whether a same-instant (hi, lo) pair ends SET or CLEAR,
    # making reruns of the same input diverge
    return _keyed_fold(
        opc_stream.select("server", "tag", "doubleValue", "serverTimestamp"),
        ["server", "tag"], _hysteresis_step(float(hi), float(lo)),
        ALARM_SCHEMA, ALARM_STATE_SCHEMA, (0,),
        order_by=["serverTimestamp", "doubleValue"],
    )


SRM_SCHEMA = StructType(
    [
        StructField("experiment", StringType()),
        StructField("batch_n", LongType()),
        StructField("n_treatment", LongType()),
        StructField("n_control", LongType()),
        StructField("chi2_stat", DoubleType()),
        StructField("srm_alarm", BooleanType()),
    ]
)

SRM_STATE_SCHEMA = StructType(
    [
        StructField("n_t", LongType()),
        StructField("n_c", LongType()),
    ]
)


def _srm_step(seed: str, critical: float):
    import hashlib

    def step(key, pdf, st):  # pragma: worker
        (experiment,) = key
        n_t, n_c = st
        batch_n = len(pdf)
        for uid in pdf["user_id"]:
            # the batch twin's md5 bucket (q_srm_check): first 8 hex
            # chars of md5("srm:<uid>") mod 100, < 50 -> treatment
            h = hashlib.md5(f"{seed}{int(uid)}".encode()).hexdigest()
            if int(h[:8], 16) % 100 < 50:
                n_t += 1
            else:
                n_c += 1
        n = n_t + n_c
        if n > 0:
            e = n * 0.5
            chi2 = (n_t - e) * (n_t - e) / e + (n_c - e) * (n_c - e) / e
        else:
            chi2 = 0.0
        return {
            "experiment": [experiment],
            "batch_n": [batch_n],
            "n_treatment": [n_t],
            "n_control": [n_c],
            "chi2_stat": [chi2],
            "srm_alarm": [chi2 > critical],
        }, (int(n_t), int(n_c))

    return step


def srm_stream(
    assignments: DataFrame,
    seed: str = "srm:",
    critical: float = 3.841,
) -> DataFrame:
    """Streaming Sample-Ratio-Mismatch gate per experiment — the stateful
    twin of q_srm_check, run over the live assignment/exposure stream so a
    broken randomizer is caught DURING the experiment, not at read-out.
    Input: a stream of (experiment, user_id) exposure records; each
    micro-batch hashes users into arms with exactly the batch twin's
    seeded md5 bucket, folds the counts into per-experiment cumulative
    state (two longs — checkpoint-recoverable, O(#experiments) memory),
    and emits ONE row per (experiment, micro-batch) with the cumulative
    df=1 chi-square against 50/50 and the alarm at ``critical`` (3.841 =
    alpha 0.05).  The alarm does NOT reset state: SRM is a validity
    property of the whole assignment history, so once the split is broken
    every later read-out is suspect — the row stream records when it
    broke.  Counts are exposure events, not distinct users (cross-batch
    user dedup would need unbounded state; upstream exactly-once exposure
    logging is the CorpusIngestGate-style dedup seam).  Chi-square on
    exact integer counts is deterministic; no transcendentals."""
    return _keyed_fold(
        assignments.select("experiment", "user_id"), ["experiment"],
        _srm_step(seed, float(critical)), SRM_SCHEMA, SRM_STATE_SCHEMA,
        (0, 0),
    )


FUNNEL_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("stage", LongType()),
        StructField("step", StringType()),
        StructField("ts", TimestampType()),
    ]
)

FUNNEL_STATE_SCHEMA = StructType(
    [
        StructField("stage", LongType()),
    ]
)


def _funnel_step(steps: tuple):
    def step(key, pdf, st):  # pragma: worker
        (user_id,) = key
        (stage,) = st
        out_stage, out_step, out_ts = [], [], []
        for _, row in pdf.iterrows():
            # advance ONLY on the next expected step, strictly in event
            # order — the stateful twin of q_funnel's correlated-min
            # chain (each step counts only strictly after the previous)
            if stage < len(steps) and row["event_type"] == steps[stage]:
                stage += 1
                out_stage.append(stage)
                out_step.append(row["event_type"])
                out_ts.append(row["ts"])
        return {
            "user_id": user_id,
            "stage": out_stage,
            "step": out_step,
            "ts": out_ts,
        }, (int(stage),)

    return step


def funnel_stream(
    events: DataFrame,
    steps: tuple = ("view", "click", "purchase"),
) -> DataFrame:
    """Streaming funnel-stage tracker per user — the stateful twin of
    q_funnel: each user advances one stage when (and only when) the NEXT
    expected step arrives strictly after the previous advance, and the
    gate emits one row per transition (user, new stage, step, event
    time).  The conversion funnel is tracked LIVE instead of recomputed
    from history — the standard product-analytics streaming need.  State
    per user is a single long (checkpoint-recoverable, O(#active users);
    an idle-user TTL would ride GroupStateTimeout like watchdog_stream if
    the funnel should expire).  Within a micro-batch, events order by
    (ts, event_id) — the unique tiebreak makes same-instant steps
    deterministic; across micro-batches the carried stage preserves the
    strictly-after semantics for in-order streams (late data is the
    watermark policy's job, as everywhere in this package)."""
    return _keyed_fold(
        events.select("user_id", "event_type", "ts", "event_id"),
        ["user_id"], _funnel_step(tuple(steps)), FUNNEL_SCHEMA,
        FUNNEL_STATE_SCHEMA, (0,), order_by=["ts", "event_id"],
    )


DRAWDOWN_SCHEMA = StructType(
    [
        StructField("server", StringType()),
        StructField("tag", StringType()),
        StructField("doubleValue", DoubleType()),
        StructField("peak", DoubleType()),
        StructField("drawdown", DoubleType()),
        StructField("max_drawdown", DoubleType()),
        StructField("serverTimestamp", TimestampType()),
    ]
)

DRAWDOWN_STATE_SCHEMA = StructType(
    [
        StructField("peak", DoubleType()),
        StructField("max_dd", DoubleType()),
    ]
)


def _drawdown_step(key, pdf, st):  # pragma: worker
    server, tag = key
    peak, max_dd = st
    peaks, dds, maxdds = [], [], []
    for v in pdf["doubleValue"].astype(float):
        # running-peak recursion: peak depends on its own previous
        # OUTPUT — the same why-stateful argument as cusum_stream
        peak = v if v > peak else peak
        dd = peak - v
        max_dd = dd if dd > max_dd else max_dd
        peaks.append(peak)
        dds.append(dd)
        maxdds.append(max_dd)
    return {
        "server": server,
        "tag": tag,
        "doubleValue": pdf["doubleValue"],
        "peak": peaks,
        "drawdown": dds,
        "max_drawdown": maxdds,
        "serverTimestamp": pdf["serverTimestamp"],
    }, (float(peak), float(max_dd))


def drawdown_stream(opc_stream: DataFrame) -> DataFrame:
    """Streaming running-peak drawdown per (server, tag) — the stateful
    twin of q_max_drawdown: every record is scored against the
    all-history peak carried in state (two doubles, checkpoint-
    recoverable), emitting the instantaneous drawdown and the running
    maximum drawdown.  The peak recursion depends on its own previous
    output, which no batch window can express incrementally — the same
    relationship cusum_stream has to q_cusum_changepoint.  Within a
    micro-batch, records order by serverTimestamp (stable sort); across
    batches and restarts the carried (peak, max_dd) preserves exact
    continuation for in-order streams."""
    return _keyed_fold(
        opc_stream.select("server", "tag", "doubleValue", "serverTimestamp"),
        ["server", "tag"], _drawdown_step, DRAWDOWN_SCHEMA,
        DRAWDOWN_STATE_SCHEMA, (float("-inf"), 0.0),
        order_by="serverTimestamp",
    )


EVALUE_SCHEMA = StructType(
    [
        StructField("server", StringType()),
        StructField("tag", StringType()),
        StructField("batch_n", LongType()),
        StructField("n_seen", LongType()),
        StructField("x_seen", LongType()),
        StructField("lne", DoubleType()),
        StructField("alarm", BooleanType()),
    ]
)

EVALUE_STATE_SCHEMA = StructType(
    [
        StructField("x", LongType()),
        StructField("n", LongType()),
    ]
)

# ln(3/2) and ln(5/6): the log-likelihood ratios of the simple test
# H0: p = 1/4 vs H1: p = 3/8 — universal constants, identical literals in
# the batch twin (queries.q_evalue_drift) and here.
_EVALUE_LR1 = 0.4054651081081644
_EVALUE_LR0 = -0.18232155679395462
_EVALUE_LN20 = 2.995732273553991


def _evalue_step(key, pdf, st):  # pragma: worker
    server, tag = key
    x, n = st
    batch_n = len(pdf)
    x += int((pdf["quality"] != 192).sum())
    n += batch_n
    lne = x * _EVALUE_LR1 + (n - x) * _EVALUE_LR0
    return {
        "server": [server],
        "tag": [tag],
        "batch_n": [batch_n],
        "n_seen": [n],
        "x_seen": [x],
        "lne": [lne],
        "alarm": [lne > _EVALUE_LN20],
    }, (int(x), int(n))


def evalue_stream(opc_stream: DataFrame) -> DataFrame:
    """Streaming anytime-valid quality monitor per (server, tag) — the
    stateful twin of the batch e-process (queries.q_evalue_drift): each
    record bets the key's bad-quality share (quality != 192) against
    H0 "share <= 1/4" at the simple alternative 3/8, and the cumulative
    log e-value X*ln(3/2) + (N-X)*ln(5/6) crossing ln(20) bounds the
    false-alarm rate at 1/20 UNDER CONTINUOUS MONITORING (Ville's
    inequality) — the gate can be checked after every micro-batch with
    no peeking correction, which is exactly the regime a streaming
    monitor lives in (cusum_stream's threshold, by contrast, is a tuned
    constant with no anytime guarantee).  State per key is two exact
    integers (checkpoint-recoverable, order-independent — counts don't
    care about intra-batch order, so restarts reproduce bit-identical
    e-values); the coefficients are universal literals shared with the
    batch twin."""
    return _keyed_fold(
        opc_stream.select("server", "tag", "quality"), ["server", "tag"],
        _evalue_step, EVALUE_SCHEMA, EVALUE_STATE_SCHEMA, (0, 0),
    )
