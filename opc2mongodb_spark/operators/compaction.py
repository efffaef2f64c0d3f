"""Small-file compaction — the table-maintenance operator every long-running
ingest needs: streaming sinks and per-batch appends (streaming/sinks.py,
streaming/dedup_gate.py) accrete many small parquet files, and at 100 TB the
file count — not the byte count — becomes the scan bottleneck (driver-side
listing, per-file open cost, tiny row groups defeating column-chunk reads).

``compact_parquet`` rewrites a parquet directory into ~``target_bytes``
files: one full scan, one round-robin repartition to
ceil(total_bytes / target) (round-robin, not coalesce — coalesce would chain
upstream and skew output file sizes to input locality), staged write, atomic
rename swap. POSIX-only swap (on object storage, use a table format's
rewrite instead). The swap keeps the
old data under ``._pre_compact`` until the new directory is fully in place,
so a crash leaves either the old or the new complete directory, never a mix.

Partitioned layouts (``partition_cols``) compact each partition's files
together and preserve the partition directory structure via
``partitionBy`` — partition values never change, so readers' pruning is
unaffected.
"""

from __future__ import annotations

import math
import os
import shutil

from pyspark.sql import SparkSession


def dir_stats(path: str) -> tuple[int, int]:
    """(total_bytes, n_data_files) for a parquet directory tree, ignoring
    hidden/metadata entries (``_``/``.`` prefixes, Spark's convention)."""
    total, n = 0, 0
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for f in files:
            if f.startswith(("_", ".")) or f.endswith(".crc"):
                continue
            total += os.path.getsize(os.path.join(root, f))
            n += 1
    return total, n


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_bytes: int = 128 << 20,
    partition_cols: list[str] | None = None,
) -> dict:
    """Rewrite ``path`` into ~``target_bytes`` parquet files; returns a
    stats dict (files/bytes before and after, output partitions).

    No-op (returns with ``compacted=False``) when the directory already has
    fewer files than the computed target count — compaction must never
    churn a healthy table.
    """
    if target_bytes <= 0:
        raise ValueError(f"target_bytes must be positive, got {target_bytes}")
    before_bytes, before_files = dir_stats(path)
    n_out = max(1, math.ceil(before_bytes / target_bytes))
    if before_files <= n_out:
        return {
            "compacted": False,
            "files_before": before_files,
            "bytes_before": before_bytes,
            "n_out": n_out,
        }
    df = spark.read.parquet(path)
    staging = path.rstrip("/") + "._compact_staging"
    backup = path.rstrip("/") + "._pre_compact"
    if os.path.exists(staging):
        shutil.rmtree(staging)  # leftover from a crashed prior attempt
    writer = df.repartition(n_out).write.mode("overwrite")
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(staging)
    # Swap: old -> backup, staging -> live, drop backup. A crash between
    # the two renames leaves the complete staging dir next to the complete
    # backup — recoverable by hand, never a half-written live directory.
    if os.path.exists(backup):
        shutil.rmtree(backup)
    os.rename(path, backup)
    os.rename(staging, path)
    shutil.rmtree(backup)
    after_bytes, after_files = dir_stats(path)
    return {
        "compacted": True,
        "files_before": before_files,
        "bytes_before": before_bytes,
        "files_after": after_files,
        "bytes_after": after_bytes,
        "n_out": n_out,
    }
