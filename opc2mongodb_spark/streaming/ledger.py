"""Per-micro-batch audit ledger — cheap end-to-end reconciliation for
exactly-once pipelines.

The operational question after any streaming incident is "did every row
make it, exactly once?" — and answering it by diffing source against sink
at 100 TB is a full-table job. The standard mitigation is a LEDGER: each
micro-batch appends one row of order-insensitive checksums
(row count, decimal-exact value sum, XOR of 64-bit row hashes), and
reconciliation becomes comparing two 1-row aggregates — the sink (or the
source) replayed in batch vs the ledger's column sums. XOR and decimal
sums are associative/commutative, so the ledger total is independent of
both batch boundaries AND row order within batches; any lost or
duplicated row flips the count, the sum, and (with probability
1 - 2^-64) the hash fold.

Idempotence contract (the staged-write-then-rename discipline of
``operators/compaction.py``): each batch's ledger row lives in its own
``batch=<id>`` directory, staged then atomically renamed, so a Structured
Streaming RETRY of batch N overwrites N's row instead of appending a
duplicate — the ledger stays exactly-once even when the stream is
at-least-once. Driver-side state per batch is ONE row of scalars (the
measured-aggregate class, not a data collect).

Reference parity note: the reference (OPC2MongoDB/Program.cs) has no
delivery audit at all — a crash between the queue drain and the Mongo
ack loses rows silently. This operator is the repo's answer for the
bridge topology it replaces.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class BatchLedger:
    """Checksum ledger over a streaming sink's input.

    ``value_col`` is decimal-pinned at scale 6 before summing (the repo's
    float-aggregate rule: order-insensitive exact accumulation);
    ``hash_cols`` feed a single ``xxhash64`` per row folded with
    ``bit_xor``. Use the PAYLOAD IDENTITY columns (key + timestamp +
    value), not Spark-internal ids.
    """

    def __init__(
        self,
        root: str,
        hash_cols: list[str],
        value_col: str | None = None,
    ) -> None:
        self.root = root
        self.hash_cols = list(hash_cols)
        self.value_col = value_col

    def _aggs(self):
        aggs = [
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.coalesce(
                F.bit_xor(F.xxhash64(*self.hash_cols)), F.lit(0)
            ).alias("xor_hash"),
        ]
        if self.value_col is not None:
            aggs.append(
                F.coalesce(
                    F.sum(F.col(self.value_col).cast("decimal(28,6)")),
                    F.lit(0).cast("decimal(28,6)"),
                ).alias("value_sum")
            )
        return aggs

    def foreach_batch(self, batch: DataFrame, batch_id: int) -> None:
        row = batch.agg(*self._aggs()).withColumn(
            "batch_id", F.lit(int(batch_id)).cast("long")
        )
        out = os.path.join(self.root, f"batch={batch_id}")
        tmp = os.path.join(self.root, f"_staging_batch_{batch_id}")
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        row.coalesce(1).write.mode("overwrite").parquet(tmp)
        os.makedirs(self.root, exist_ok=True)
        if os.path.exists(out):
            shutil.rmtree(out)  # retry: replace, never duplicate
        os.rename(tmp, out)

    def read(self, spark: SparkSession) -> DataFrame | None:
        dirs = [
            d
            for d in (os.listdir(self.root) if os.path.isdir(self.root) else [])
            if d.startswith("batch=")
        ]
        if not dirs:
            return None
        return spark.read.parquet(
            *[os.path.join(self.root, d) for d in sorted(dirs)]
        )

    def totals(self, spark: SparkSession):
        """Ledger-side grand totals (one tiny job over <= #batches rows)."""
        led = self.read(spark)
        if led is None:
            return None
        aggs = [
            F.sum("n_rows").cast("long").alias("n_rows"),
            F.coalesce(F.bit_xor("xor_hash"), F.lit(0)).alias("xor_hash"),
        ]
        if self.value_col is not None:
            aggs.append(F.sum("value_sum").alias("value_sum"))
        return led.agg(*aggs).collect()[0]

    def reconcile(self, spark: SparkSession, replay: DataFrame) -> dict:
        """Compare the ledger against a batch replay of the same data.
        Returns ``{"ok": bool, "ledger": {...}, "replay": {...}}`` — a
        mismatch in n_rows/value_sum/xor_hash means rows were lost,
        duplicated, or mutated between source and sink."""
        lt = self.totals(spark)
        rt = replay.agg(*self._aggs()).collect()[0]
        if lt is None:
            return {"ok": rt.n_rows == 0, "ledger": None, "replay": rt.asDict()}
        keys = ["n_rows", "xor_hash"] + (
            ["value_sum"] if self.value_col is not None else []
        )
        ok = all(lt[k] == rt[k] for k in keys)
        return {"ok": ok, "ledger": lt.asDict(), "replay": rt.asDict()}
