"""Structured Streaming layer (SURVEY.md §2.2 category H, §3 lifecycle map).

The reference's runtime is one streaming topology: per-server source threads
→ normalize → global queue → keyed upsert sink (reference: OPC2MongoDB/
Program.cs:1300-1314). Here that topology is a single streaming query:

    readStream (per-server sources, unionByName = the queue fan-in R7)
      → normalize (the SAME coercion expressions as batch — one impl)
      → watermark (fixes the reference's silent out-of-order overwrite,
        Program.cs:1179-1182 never compares sourceTimestamp)
      → windowed aggregation / last-value dedup
      → sink (foreachBatch upsert, sinks.py)

Every transformation is expressed on the streaming DataFrame with the same
Column expressions the batch path uses, so the DuckDB oracle on the batch
twin certifies the streaming semantics too (H1 ↔ q_window_tumbling).
"""

from __future__ import annotations

import math
from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from opc2mongodb_spark.opcmodel import events_as_opc_values

# Keys per state-store partition a last-value topology targets. State rows
# here are tiny (one row per key), so the partition count is NOT a memory
# knob — it is a per-batch overhead knob: every stateful partition commits
# one state file + snapshot bookkeeping per micro-batch, so 32 partitions
# holding 1,200 keys pay 32 commits to update 1,200 rows (~2x the whole
# batch's time at r11 measurement). 150 keys/partition keeps small bridges
# at a handful of partitions while a 10M-tag deployment still saturates its
# cluster (the cap below).
STATE_KEYS_PER_PARTITION = 150


def sized_state_partitions(n_keys: int, parallelism: int) -> int:
    """State-store partition count for a streaming topology whose key
    cardinality is known up front (the bridge's .conf declares every tag —
    reference Program.cs:1257-1296).

    Structured Streaming pins the stateful-operator partition count to
    ``spark.sql.shuffle.partitions`` at the query's FIRST batch (recorded in
    the checkpoint, immutable for the query's life), so the batch-query
    default silently over-partitions small-key topologies. Clamp to
    [1, parallelism]: more partitions than cores only adds per-batch commit
    files, never parallelism."""
    return max(1, min(parallelism, math.ceil(n_keys / STATE_KEYS_PER_PARTITION)))


@contextmanager
def state_partitioning(spark, n_keys: int):
    """Scope ``spark.sql.shuffle.partitions`` to a topology-sized value while
    a stateful streaming query STARTS (the first batch bakes it into the
    checkpoint; the restored session value governs later batch queries).
    Yields the partition count chosen."""
    n = sized_state_partitions(
        n_keys, spark.sparkContext.defaultParallelism
    )
    before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield n
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)


def normalize_stream(events_stream: DataFrame) -> DataFrame:
    """Stream twin of the batch normalize: same expressions, same schema."""
    return events_as_opc_values(events_stream)


def with_late_data_policy(
    opc_stream: DataFrame, watermark_delay: str = "1 minute"
) -> DataFrame:
    """H4: event-time watermark on sourceTimestamp. Records later than the
    watermark are dropped from stateful ops — the deliberate, documented
    divergence from the reference, which let any later *arrival* overwrite a
    newer reading (SURVEY.md §2.1 end)."""
    return opc_stream.withWatermark("sourceTimestamp", watermark_delay)


def tumbling_counts(
    opc_stream: DataFrame, width: str = "10 minutes"
) -> DataFrame:
    """H1: tumbling event-time window per tag."""
    return (
        with_late_data_policy(opc_stream)
        .groupBy(F.window("sourceTimestamp", width).alias("w"), F.col("tag"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("doubleValue").alias("total"),
        )
        .select(F.col("w.start").alias("bucket_start"), "tag", "n", "total")
    )
def tumbling_ohlc(
    opc_stream: DataFrame, width: str = "1 hour"
) -> DataFrame:
    """H1 (r8): streaming candle rollup — the live twin of q_ohlc_hourly.

    Open/close are argmin/argmax over (sourceTimestamp, doubleValue)
    structs folded into the SAME combinable windowed aggregation as
    high/low/count — no per-window state beyond the five aggregates, no
    second pass, late rows folded until the watermark closes the window.
    Tiebreak note: the batch twin orders by (ts, event_id); a stream has
    no such unique column, so ties on the timestamp resolve by value
    (struct lexicographic order) — deterministic for a replayed feed.
    """
    return (
        with_late_data_policy(opc_stream)
        .groupBy(F.window("sourceTimestamp", width).alias("w"), F.col("tag"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(F.struct("sourceTimestamp", "doubleValue"))[
                "doubleValue"
            ].alias("open"),
            F.max("doubleValue").alias("high"),
            F.min("doubleValue").alias("low"),
            F.max(F.struct("sourceTimestamp", "doubleValue"))[
                "doubleValue"
            ].alias("close"),
        )
        .select(
            F.col("w.start").alias("bucket_start"),
            "tag",
            "n",
            "open",
            "high",
            "low",
            "close",
        )
    )


def sliding_avg(
    opc_stream: DataFrame, width: str = "10 minutes", slide: str = "5 minutes"
) -> DataFrame:
    """H2: sliding event-time window per tag."""
    return (
        with_late_data_policy(opc_stream)
        .groupBy(
            F.window("sourceTimestamp", width, slide).alias("w"), F.col("tag")
        )
        .agg(F.avg("doubleValue").alias("avg_value"))
        .select(
            F.col("w.start").alias("win_start"),
            F.col("w.end").alias("win_end"),
            "tag",
            "avg_value",
        )
    )


def session_activity(opc_stream: DataFrame, gap: str = "5 minutes") -> DataFrame:
    """H3: session window per server — bursts of telemetry separated by gap."""
    return (
        with_late_data_policy(opc_stream)
        .groupBy(
            F.session_window("sourceTimestamp", gap).alias("w"), F.col("server")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("w.start").alias("sess_start"),
            F.col("w.end").alias("sess_end"),
            "server",
            "n",
        )
    )


def streaming_last_value(
    opc_stream: DataFrame, watermark_delay: str = "1 minute"
) -> DataFrame:
    """H5: streaming dedup state — at-most-one record per (server, tag,
    serverTimestamp) within the watermark. Combined with the upsert sink
    (sinks.upsert_query) this reproduces the reference's
    current-values table with event-time-correct semantics."""
    return opc_stream.withWatermark(
        "serverTimestamp", watermark_delay
    ).dropDuplicatesWithinWatermark(["server", "tag", "serverTimestamp"])


def correlate_streams(
    left: DataFrame,
    right: DataFrame,
    key: str = "tag",
    left_delay: str = "30 seconds",
    right_delay: str = "30 seconds",
    band: str = "2 minutes",
    how: str = "inner",
) -> DataFrame:
    """H6 (bonus): watermarked stream-stream interval join — correlate two
    telemetry streams on key within a time band (e.g. raw values vs alarm
    stream). State is bounded by both watermarks + the band; at scale this
    is the standard interval-join state story, one shuffle per side.

    ``how="left_outer"`` (r8) is the "value with NO alarm in its window"
    detector: an unmatched left row is held in state and emitted with a
    null right side only once BOTH watermarks prove no in-band right row
    can still arrive — so outer results are late by the watermark delay
    but exactly-once under replay, which is why this needs the interval
    bound on the join condition (Spark rejects unbounded outer
    stream-stream joins: state could never be proven complete)."""
    l = left.withWatermark("serverTimestamp", left_delay).alias("l")
    r = right.withWatermark("serverTimestamp", right_delay).alias("r")
    return l.join(
        r,
        F.expr(
            f"""
            l.{key} = r.{key} AND
            r.serverTimestamp >= l.serverTimestamp AND
            r.serverTimestamp <= l.serverTimestamp + INTERVAL {band}
            """
        ),
        how,
    ).select(
        F.col(f"l.{key}").alias(key),
        F.col("l.doubleValue").alias("left_value"),
        F.col("r.doubleValue").alias("right_value"),
        F.col("l.serverTimestamp").alias("left_ts"),
        F.col("r.serverTimestamp").alias("right_ts"),
    )


def enrich_with_topology(opc_stream: DataFrame, topology: DataFrame) -> DataFrame:
    """Stream-static dim enrichment — the reference's config-application
    path as a join: every in-flight OPC value picks up its server's
    connection/auth posture from the parsed topology
    (sources/config.py::topology_df; reference Program.cs:104-121 carries
    the same struct on each client session). Stream-static joins are
    stateless in Structured Streaming — the static side is re-planned per
    micro-batch and BROADCASTS (it is |servers| rows), so the stream side
    never shuffles and no watermark is needed. Left join: a value from a
    server missing in the config surfaces with NULL posture rather than
    silently disappearing (the monitorable misconfiguration signal).
    """
    dim = F.broadcast(
        topology.select(
            "server", "protocol", "read_period", "auth_mode", "n_subscribed"
        )
    )
    return opc_stream.join(dim, "server", "left")
