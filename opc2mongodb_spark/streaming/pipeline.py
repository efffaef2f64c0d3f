"""Structured Streaming layer (SURVEY.md §2.2 category H, §3 lifecycle map).

The reference's runtime is one streaming topology: per-server source threads
→ normalize → global queue → keyed upsert sink (reference: OPC2MongoDB/
Program.cs:1300-1314). Here that topology is a single stateless streaming
query (``Engine.ingest``):

    readStream (per-server sources, unionByName = the queue fan-in R7)
      → normalize (the SAME coercion expressions as batch — one impl)
      → sink (foreachBatch upsert, sinks.py). ``CurrentValuesStore``
        keeps the max-serverTimestamp row per key at any lateness, so a
        late or replayed row never overwrites a newer one.
        ``MongoBulkUpsertSink`` keeps the latest row per key within a
        micro-batch and replaces unconditionally across batches, as the
        reference does (Program.cs:1179-1182 compares no timestamps).

The windowed aggregates in this module (H1–H3) add an event-time
watermark on sourceTimestamp and drop rows later than it.

Every transformation is expressed on the streaming DataFrame with the same
Column expressions the batch path uses, so the DuckDB oracle on the batch
twin certifies the streaming semantics too (H1 ↔ q_window_tumbling).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from opc2mongodb_spark.opcmodel import events_as_opc_values


def normalize_stream(events_stream: DataFrame) -> DataFrame:
    """Stream twin of the batch normalize: same expressions, same schema."""
    return events_as_opc_values(events_stream)


def with_late_data_policy(
    opc_stream: DataFrame, watermark_delay: str = "1 minute"
) -> DataFrame:
    """H4: event-time watermark on sourceTimestamp for the windowed
    aggregates (H1–H3): records later than the watermark are dropped from
    their windows. The current-values upsert needs no watermark — its store
    compares timestamps itself (sinks.py)."""
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
