"""The benchmark's load generator: a wall-clock cap on the opcsim offsets.

``PacedOpcSim`` registers under the package source's own format name
(``opcsim``), so ``Engine.ingest`` picks it up unchanged. Its stream reader
hands out at most the sweeps that are due by now; ``read()`` stays the
package's ``_sweep_batches``. The schedule lives in a small JSON file whose
path the environment variable ``PERFBENCH_PACE`` names, because offsets are
planned in a separate Python process that only inherits the environment:

    {"base": B}                       sweeps [0, B) are due now
    {"base": B, "t0": T, "period": P} plus one more sweep every P seconds
                                      after T (sweep B is due at T + P)

``TracedPacedOpcSim`` adds a span around each partition's ``read()``,
appended from the Python worker to ``$PERFBENCH_SPOOL/source.jsonl`` while
``$PERFBENCH_SPOOL/ON`` exists. Only the traced run registers it.
"""

from __future__ import annotations

import json
import os
import time

from opc2mongodb_spark.sources.opc import OpcSimDataSource, OpcSimStreamReader


def write_schedule(path: str, base: int, t0: float | None = None,
                   period: float | None = None) -> None:
    """Atomically replace the schedule file (readers never see half a file)."""
    tmp = path + ".tmp"
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump({"base": base, "t0": t0, "period": period}, f)
    os.replace(tmp, path)


def due_count(schedule: dict, now: float) -> int:
    """Number of sweeps due at ``now`` under ``schedule``."""
    base = int(schedule["base"])
    if schedule.get("t0") is None:
        return base
    return base + max(0, int((now - schedule["t0"]) / schedule["period"]))


class PacedStreamReader(OpcSimStreamReader):
    def __init__(self, topo, sweeps_per_batch, max_sweeps, schedule_path):
        super().__init__(topo, sweeps_per_batch, max_sweeps)
        self.schedule_path = schedule_path

    def latestOffset(self):
        with open(self.schedule_path, encoding="utf-8") as f:
            due = due_count(json.load(f), time.time())
        cap = min(self._latest + self.sweeps_per_batch, self.max_sweeps, due)
        self._latest = max(self._latest, cap)
        return {"sweep": self._latest}


class TracedPacedStreamReader(PacedStreamReader):
    def read(self, partition):  # pragma: worker
        spool = os.environ["PERFBENCH_SPOOL"]
        if not os.path.exists(os.path.join(spool, "ON")):
            yield from super().read(partition)
            return
        start = time.time()
        values = 0
        for batch in super().read(partition):
            values += batch.num_rows
            yield batch
        span = {
            "name": "source.read",
            "start": start,
            "end": time.time(),
            "server": partition.server_idx,
            "sweeps": [partition.start_sweep, partition.end_sweep],
            "values": values,
        }
        with open(os.path.join(spool, "source.jsonl"), "a",
                  encoding="utf-8") as f:
            f.write(json.dumps(span) + "\n")


class PacedOpcSim(OpcSimDataSource):
    reader_class = PacedStreamReader

    def streamReader(self, schema):
        return self.reader_class(
            self._topo(),
            int(self.options.get("sweeps_per_batch", 1)),
            int(self.options.get("max_sweeps", 16)),
            os.environ["PERFBENCH_PACE"],
        )


class TracedPacedOpcSim(PacedOpcSim):
    reader_class = TracedPacedStreamReader
