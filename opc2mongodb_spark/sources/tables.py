"""Parquet table catalog over the driver testdata (SURVEY.md §2.2 A1).

At 100 TB these reads stay exactly the same API — ``spark.read.parquet`` on a
partitioned directory — with Catalyst supplying predicate pushdown, column
pruning and partition pruning for free. Nothing here materializes or caches:
each query composes on a lazy scan so the optimizer sees the whole plan.

Reads depend on two session keys (UTC timezone, parquet nanosAsLong) that
``session.get_spark`` sets; ``load_table`` checks them and never writes the
session's conf, which the Engine shares with streaming and HMI lookups.
"""

from __future__ import annotations

from functools import lru_cache

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


@lru_cache(maxsize=128)
def _nanos_timestamp_cols(path: str) -> tuple[str, ...]:
    """Columns stored as parquet TIMESTAMP(NANOS) — Spark can't scan those
    natively (PARQUET_TYPE_ILLEGAL), so they're read as int64 nanos and
    converted. Footer-only read, driver-side, cached. Accepts both a single
    parquet file (the driver testdata layout) and a directory dataset (the
    cluster norm — sniff one data file's footer; files in one dataset share
    logical types)."""
    import os

    p = path
    if os.path.isdir(p):
        # find one *.parquet DATA FILE anywhere under the dataset — a
        # hive-partitioned layout (table/date=.../part-0.parquet) puts
        # only directories at the top level, and stray non-parquet files
        # (README, _SUCCESS) must never be footer-read. Files in one
        # dataset share logical types, so any one file decides.
        found = None
        for root, dirs, files in os.walk(p):
            dirs[:] = sorted(
                d for d in dirs if not d.startswith(("_", "."))
            )
            for f in sorted(files):
                if f.endswith(".parquet") and not f.startswith(("_", ".")):
                    found = os.path.join(root, f)
                    break
            if found:
                break
        if found is None:
            return ()
        p = found
    schema = pq.read_schema(p)
    return tuple(
        f.name
        for f in schema
        if str(f.type).startswith("timestamp[ns")
    )


# Spark-inferred schema per parquet path. Without an explicit schema every
# spark.read.parquet() call runs footer-reading schema inference (a driver
# job, ~50-200ms) — pure per-query constant cost that poisoned the bench's
# build-inside-the-timer measurement (the r3 "8-query drift"). First read of
# a path infers once; every later read passes the cached StructType and
# plans with zero jobs.
_SCHEMA_CACHE: dict[str, object] = {}


def _require_conf(spark: SparkSession, key: str, value: str) -> None:
    got = spark.conf.get(key)
    if got.lower() != value.lower():
        raise ValueError(
            f"load_table needs {key}={value} on the session (got {got!r}); "
            "build it with session.get_spark or pass the key in its conf"
        )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy parquet scan for one catalog table.

    Nanosecond-timestamp columns are read as int64 (legacy nanosAsLong) and
    truncated to microseconds with integer DIV — the same truncation DuckDB
    applies when scanning TIMESTAMP_NS, so both engines see identical values.

    The session must carry the two keys ``session.build_session_conf``
    sets for this: ``spark.sql.session.timeZone=UTC`` (timestamp semantics
    host-independent, matching the DuckDB oracle) and, for a table with
    nanosecond columns, ``spark.sql.legacy.parquet.nanosAsLong=true``. The
    shared session's conf is never written here: a session without them
    gets a ``ValueError`` naming the key.
    """
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    _require_conf(spark, "spark.sql.session.timeZone", "UTC")
    path = f"{sf_dir}/{name}.parquet"
    ns_cols = _nanos_timestamp_cols(path)
    if ns_cols:
        _require_conf(spark, "spark.sql.legacy.parquet.nanosAsLong", "true")
    if path not in _SCHEMA_CACHE:
        _SCHEMA_CACHE[path] = spark.read.parquet(path).schema
    df = spark.read.schema(_SCHEMA_CACHE[path]).parquet(path)
    for c in ns_cols:
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` DIV 1000")))
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every catalog table as a temp view for spark.sql queries."""
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
