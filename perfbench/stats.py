"""Pure arithmetic of the benchmark: percentiles with their sample counts,
per-sweep freshness from micro-batch progress events, and failure counts.

Nothing here touches Spark, so the rules are unit-tested on synthetic
inputs (``perfbench/tests/test_stats.py``).
"""

from __future__ import annotations

import math
from collections import Counter
from datetime import datetime, timezone

# A reported high percentile must leave at least this many samples beyond it.
MIN_BEYOND = 10


def percentile(values, q: float) -> float:
    """Nearest-rank percentile of ``values`` (``q`` in (0, 1]); ``+inf``
    entries sort last, so a failed operation can only raise a percentile."""
    if not values:
        raise ValueError("percentile of an empty sample")
    if not 0.0 < q <= 1.0:
        raise ValueError(f"q must lie in (0, 1], got {q}")
    ordered = sorted(values)
    return ordered[max(1, math.ceil(q * len(ordered))) - 1]


def summary(values, q: float, batches) -> dict:
    """``{"value", "n", "batches"}`` of a ``q``-percentile that the sample
    supports. ``batches[i]`` is the micro-batch that made sample ``i``
    visible. Samples of one batch share its visible time, so the rule that
    a tail needs ``MIN_BEYOND`` samples beyond it counts distinct batches,
    not samples. The median is always supported; an unsupported tail
    raises, so a run never reports a tail it cannot back."""
    pairs = sorted(zip(values, batches))
    pos = max(1, math.ceil(q * len(pairs))) - 1
    beyond = len({b for _, b in pairs[pos + 1:]})
    if q > 0.5 and beyond < MIN_BEYOND:
        raise ValueError(
            f"p{round(q * 100)} has {beyond} batches beyond it, "
            f"needs {MIN_BEYOND}"
        )
    return {"value": percentile(values, q), "n": len(pairs),
            "batches": len(set(batches))}


def parse_progress_time(stamp: str) -> float:
    """Progress ``timestamp`` (ISO-8601 UTC, ms precision) → epoch seconds."""
    dt = datetime.strptime(stamp, "%Y-%m-%dT%H:%M:%S.%fZ")
    return dt.replace(tzinfo=timezone.utc).timestamp()


def batch_windows(progress: list[dict]) -> list[dict]:
    """One record per micro-batch that read data: its sweep range
    ``[start, end)``, start and end wall time, and its ``durationMs``.
    ``visible`` is the batch start (progress ``timestamp``) plus
    ``triggerExecution``: when the batch's rows became readable."""
    out = []
    for p in progress:
        if not p.get("numInputRows"):
            continue
        src = p["sources"][0]
        start = _sweep(src["startOffset"])
        end = _sweep(src["endOffset"])
        t_start = parse_progress_time(p["timestamp"])
        dur = p["durationMs"]
        out.append({
            "batch": p["batchId"],
            "start": start,
            "end": end,
            "t_start": t_start,
            "visible": t_start + dur["triggerExecution"] / 1000.0,
            "durations": dur,
            "rows": p["numInputRows"],
        })
    return out


def _sweep(offset) -> int:
    """Sweep count of a progress offset. The Python source's offsets come
    back as the ``repr`` of its dict (``"{'sweep': 2}"``), and the first
    batch's start offset as ``"None"``: the initial offset, sweep 0."""
    import ast

    if isinstance(offset, str):
        offset = ast.literal_eval(offset)
    return 0 if offset is None else int(offset["sweep"])


def freshness_ms(batches: list[dict], due, sweeps: range):
    """Per sweep ``s`` in ``sweeps``: ``visible − due(s)`` in ms, where
    ``visible`` ends the batch whose offset range holds ``s``; returns the
    values and, per sweep, that batch's id. A sweep that no batch holds has
    no visible time yet and raises."""
    holder = {}
    for b in batches:
        for s in range(b["start"], b["end"]):
            holder[s] = b
    missing = [s for s in sweeps if s not in holder]
    if missing:
        raise ValueError(f"sweeps never made visible: {missing[:5]}...")
    return ([(holder[s]["visible"] - due(s)) * 1000.0 for s in sweeps],
            [holder[s]["batch"] for s in sweeps])


def paced_due(t0: float, base: int, period: float):
    """Due time of sweep ``s`` on the paced plant: sweep ``base`` is due one
    period after ``t0``, and one more sweep falls due every period."""
    return lambda s: t0 + (s - base + 1) * period


class Failures:
    """Attempts and failures per operation kind, failures split by cause."""

    def __init__(self) -> None:
        self.attempts: Counter = Counter()
        self.causes: Counter = Counter()

    def attempt(self, kind: str, cause: str | None = None) -> None:
        """Record one attempt of ``kind``; ``cause`` names a failure."""
        self.attempts[kind] += 1
        if cause is not None:
            self.causes[(kind, cause)] += 1

    def failed(self) -> int:
        return sum(self.causes.values())

    def attempted(self) -> int:
        return sum(self.attempts.values())

    def by_cause(self, kind: str) -> dict[str, int]:
        return {c: n for (k, c), n in self.causes.items() if k == kind}

    def as_dict(self) -> dict:
        return {
            k: {"attempted": n, "failed": self.by_cause(k)}
            for k, n in sorted(self.attempts.items())
        }


def lookup_cause(rows: int | None, error: BaseException | None) -> str | None:
    """Failure cause of one HMI point lookup, or None when it succeeded.

    A lookup must return exactly one row. The upsert sink swaps a server
    directory by delete-then-rename, so a reader that listed the old file
    can fail on it (``missing_file``) or see the partition gone
    (``missing_row``)."""
    if error is not None:
        text = str(error)
        if (
            "FILE_NOT_EXIST" in text
            or "FileNotFoundException" in text
            or "does not exist" in text
        ):
            return "missing_file"
        return "error"
    if rows == 0:
        return "missing_row"
    if rows != 1:
        return "extra_rows"
    return None
