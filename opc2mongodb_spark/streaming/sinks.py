"""Streaming sinks (SURVEY.md A3/A4 — the reference's Mongo upsert, R8).

The reference holds a "current values" table: one document per tag,
``ReplaceOneAsync(filter={tag}, IsUpsert=true)`` into a collection per
server (reference: OPC2MongoDB/Program.cs:1159, :1179-1182) — one awaited
RPC per record, single consumer (§6: the bottleneck).

Spark-first replacement: ``foreachBatch`` merges each micro-batch into a
keyed parquet state store, partitioned by server (A4: the
collection-per-server routing becomes partitionBy). Per batch, ONE Spark
action over ONE shuffle:

    new_state[changed] = last_value_per_key(old_state ∪ batch)[changed]

where ``changed`` is the set of servers for which a batch row won at least
one key. Untouched servers are read but never rewritten. Reading them costs
little: the shipped sources (``opcsim``, ``opc_live``) emit rows for every
server in every micro-batch, so the changed set is normally the whole
store, and pruning the read would need a pass over the batch of its own.

The parquet backend keeps snapshot generations under one atomic pointer:

    <path>/server=X/gen=N/part-*.parquet   rows of server X as of commit N
    <path>/_CURRENT                        JSON manifest: version, schema,
                                           server dir -> generation, and the
                                           previous commit's map
                                           (the leading ``_`` keeps Spark's
                                           file listings off it)

A merge writes only the servers it changed, as generation N, then commits
with ONE ``os.replace`` of ``_CURRENT``; unchanged servers keep pointing at
their old generation. After the flip, GC deletes the generations that
neither this commit nor the one before it references. Readers resolve
``_CURRENT`` once and read exactly the listed directories with the
manifest's schema, so a reader never sees a half-written merge, and a crash
at any point leaves the last commit intact. A directory without
``_CURRENT`` is an empty store. A plain
``spark.read.parquet(path)`` sees both retained generations (and a ``gen``
column): read through ``CurrentValuesStore.read`` /
``Engine.current_values``. One writer per store (one streaming query).
The corpus-ingest dedup gate (``streaming/dedup_gate.py``) commits each
micro-batch's four tables through the same pointer code
(``_read_pointer`` / ``_flip_pointer``).

At scale the state store is a transactional Delta MERGE when ``delta-spark``
is importable (``backend="auto"``). The parquet backend needs POSIX
atomicity for one thing only: the single-file ``os.replace`` of the
pointer. Object stores (S3/GCS) do not give that either: use the Delta
backend there.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from opc2mongodb_spark.operators.last_value import last_value_per_key

# Codec of the parquet backend's state files. An interleaved snappy-vs-zstd
# A/B on the sink's own lane (SINK_CODEC_AB_r13.json) measured per-batch
# time flat and 45% fewer bytes for zstd; the state is re-read every batch.
PARQUET_CODEC = "zstd"

# The parquet backend's commit pointer and generation directory prefix.
CURRENT = "_CURRENT"
GEN = "gen"


def _read_pointer(root: str) -> str | None:
    """The committed manifest under ``root`` as text (None before the
    first commit)."""
    try:
        with open(os.path.join(root, CURRENT), encoding="utf-8") as f:
            return f.read()
    except FileNotFoundError:
        return None


def _flip_pointer(root: str, manifest: dict) -> dict:
    """Commit ``manifest`` under ``root``: write it beside the pointer, then
    flip ``_CURRENT`` to it with one atomic ``os.replace``. The ``commit``
    uuid makes every manifest unique, so a reader's cache never mistakes a
    recreated directory for the old one."""
    manifest = {**manifest, "commit": uuid.uuid4().hex}
    tmp = os.path.join(root, CURRENT + ".tmp")
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump(manifest, f)
    os.replace(tmp, os.path.join(root, CURRENT))
    return manifest


def delta_available() -> bool:
    """True when the delta-spark package is importable (not installed in the
    test sandbox — the Delta code path is exercised wherever it is)."""
    try:
        import delta  # noqa: F401  # pragma: no cover - delta absent here

        return True  # pragma: no cover - delta absent here
    except ImportError:
        return False


class CurrentValuesStore:
    """Keyed last-value store: one row per (server, tag).

    ``backend``: "auto" (Delta when importable, else parquet), "delta", or
    "parquet". Both backends implement the same upsert contract: after
    ``merge_batch``, the store holds each key's row with the greatest
    ``order_col`` seen so far (ties: batch wins).
    """

    def __init__(
        self,
        path: str,
        key_cols: tuple[str, ...] = ("server", "tag"),
        order_col: str = "serverTimestamp",
        backend: str = "auto",
    ) -> None:
        if backend == "auto":
            backend = "delta" if delta_available() else "parquet"
        if backend not in ("delta", "parquet"):
            raise ValueError(f"unknown backend {backend!r}")
        if backend == "delta" and not delta_available():
            raise ImportError(
                "backend='delta' requires the delta-spark package"
            )
        self.path = path
        self.key_cols = list(key_cols)
        self.order_col = order_col
        self.backend = backend
        # (manifest text, DataFrame over it) of the last generation read:
        # lookups between two commits reuse the DataFrame, so they list no
        # directory, read no footer and build no new relation.
        self._snapshot: tuple[str, DataFrame] | None = None

    def read(self, spark: SparkSession) -> DataFrame | None:
        if self.backend == "delta":
            if not os.path.exists(self.path):
                return None
            return spark.read.format("delta").load(self.path)  # pragma: no cover - delta absent here
        return self._current(spark)

    def merge_batch(self, batch: DataFrame) -> None:
        if self.backend == "delta":
            self._merge_batch_delta(batch)  # pragma: no cover - delta absent here
        else:
            self._merge_batch_parquet(batch)

    def _merge_batch_delta(self, batch: DataFrame) -> None:  # pragma: no cover - delta absent here; contract mirrored by tests/test_delta_backend.py when installed
        """Transactional upsert — the 100 TB path. The batch collapses to its
        latest row per key, then ONE ``MERGE`` on the key upserts it; the
        ``whenMatched`` condition keeps the stored row when it is newer, so
        replayed/out-of-order batches cannot regress state. Atomicity,
        concurrent readers, and object-store safety come from the table
        format — no generations, no pointer file."""
        from delta.tables import DeltaTable

        spark = batch.sparkSession
        latest = last_value_per_key(batch, self.key_cols, self.order_col)
        if not DeltaTable.isDeltaTable(spark, self.path):
            (
                latest.write.format("delta")
                .partitionBy(self.key_cols[0])
                .save(self.path)
            )
            return
        target = DeltaTable.forPath(spark, self.path)
        on = " AND ".join(f"t.{c} <=> s.{c}" for c in self.key_cols)
        (
            target.alias("t")
            .merge(latest.alias("s"), on)
            .whenMatchedUpdateAll(
                condition=f"s.{self.order_col} >= t.{self.order_col}"
            )
            .whenNotMatchedInsertAll()
            .execute()
        )

    def _merge_batch_parquet(self, batch: DataFrame) -> None:
        """Upsert a micro-batch with ONE Spark action (the parquet stand-in
        for the Delta MERGE above) into a new generation, then commit it
        with one ``os.replace`` of ``_CURRENT``. Servers the batch did not
        change are read but never rewritten: the new manifest keeps their
        old generation.

        One action scans the batch once, so the batch needs no persist.
        A batch that changes no server commits nothing.

        Crash-safe at every step: a generation that was written but not
        committed is unreferenced (this merge's retry clears it, GC removes
        it otherwise), and the committed manifest always lists complete
        generations."""
        pcol = self.key_cols[0]
        schema = self._state_schema(batch)
        text = _read_pointer(self.path)
        manifest = json.loads(text) if text else None
        gen = (manifest["version"] if manifest else 0) + 1
        # leftovers of a crashed attempt at this generation
        shutil.rmtree(os.path.join(self.path, "_temporary"), ignore_errors=True)
        for entry in self._server_dirs():
            shutil.rmtree(
                os.path.join(self.path, entry, f"{GEN}={gen}"), ignore_errors=True
            )
        (
            self._changed_partitions(batch, schema)
            .withColumn(GEN, F.lit(gen))
            .write.mode("append")
            .option("compression", PARQUET_CODEC)
            .partitionBy(pcol, GEN)
            .parquet(self.path)
        )
        written = self._holding(gen)
        if not written:
            return
        previous = manifest["servers"] if manifest else {}
        self._gc(self._commit(gen, schema, {**previous, **written}, previous))

    def _commit(
        self, version: int, schema: StructType, servers: dict, previous: dict
    ) -> dict:
        return _flip_pointer(
            self.path,
            {
                "version": version,
                "schema": schema.jsonValue(),
                "servers": servers,
                "previous": previous,
            },
        )

    def _gc(self, manifest: dict) -> None:
        """Delete every generation that neither ``manifest`` nor the commit
        before it references: a reader that resolved the previous pointer
        can still finish."""
        keep = {
            (entry, g)
            for servers in (manifest["servers"], manifest["previous"])
            for entry, g in servers.items()
        }
        for entry in self._server_dirs():
            d = os.path.join(self.path, entry)
            for sub in os.listdir(d):
                gen = sub.partition(f"{GEN}=")[2]
                if gen and (entry, int(gen)) not in keep:
                    shutil.rmtree(os.path.join(d, sub))

    def _server_dirs(self) -> list[str]:
        prefix = f"{self.key_cols[0]}="
        if not os.path.isdir(self.path):
            return []
        return [e for e in os.listdir(self.path) if e.startswith(prefix)]

    def _holding(self, gen: int) -> dict[str, int]:
        """server dir -> ``gen`` for every server that has generation ``gen``
        on disk."""
        return {
            entry: gen
            for entry in self._server_dirs()
            if os.path.isdir(os.path.join(self.path, entry, f"{GEN}={gen}"))
        }

    def _current(self, spark: SparkSession) -> DataFrame | None:
        """The DataFrame of the committed generation: ``_CURRENT`` is read
        once per call. The DataFrame reads exactly the generation
        directories the manifest lists, with its schema (no footer job),
        and is reused until the pointer changes."""
        text = _read_pointer(self.path)
        if text is None:
            return None
        snap = self._snapshot  # two threads racing here build two equal frames
        if snap is None or snap[0] != text:
            manifest = json.loads(text)
            schema = StructType.fromJson(manifest["schema"])
            dirs = [
                os.path.join(self.path, entry, f"{GEN}={g}")
                for entry, g in sorted(manifest["servers"].items())
            ]
            df = (
                spark.read.schema(schema)
                .option("basePath", self.path)
                .parquet(*dirs)
                .select(*schema.names)  # drops the inferred `gen` column
            )
            snap = self._snapshot = (text, df)
        return snap[1]

    def _state_schema(self, batch: DataFrame) -> StructType:
        """The batch's fields, nullable, partition column last: the layout
        a partitioned parquet read of the state returns."""
        pcol = self.key_cols[0]
        fields = [f for f in batch.schema.fields if f.name != pcol]
        fields.append(batch.schema[pcol])
        return StructType(
            [StructField(f.name, f.dataType, True) for f in fields]
        )

    def _changed_partitions(
        self, batch: DataFrame, schema: StructType
    ) -> DataFrame:
        """The new rows of every server the batch changes, planned over one
        exchange: ``existing ∪ batch`` is hash-partitioned on the server
        once, and both the per-key aggregate and the per-server window
        reuse that partitioning."""
        spark = batch.sparkSession
        pcol = self.key_cols[0]
        cols = schema.names
        # _src tiebreak: on an order_col tie the BATCH row wins — the same
        # semantics as the Delta MERGE's `s.order >= t.order` condition, and
        # deterministic (max_by alone picks an arbitrary row on ties).
        merged = batch.select(*cols, F.lit(1).alias("_src"))
        existing = self._current(spark)
        if existing is not None:
            # batch first: its scan tasks are the slow ones, so they start
            # ahead of the state's file scans
            merged = merged.union(existing.select(*cols, F.lit(0).alias("_src")))
        latest = last_value_per_key(
            merged.repartition(pcol),
            self.key_cols,
            self.order_col,
            tiebreak_cols=["_src"],
        )
        # _src is now the winning row's origin: a server changes when a
        # batch row won any of its keys.
        changed = F.max("_src").over(Window.partitionBy(pcol))
        return (
            latest.withColumn("_changed", changed)
            .filter(F.col("_changed") == 1)
            .select(*cols)
        )

    def foreach_batch(self, batch: DataFrame, batch_id: int) -> None:
        self.merge_batch(batch)


def upsert_query(
    opc_stream: DataFrame,
    store: CurrentValuesStore | MongoBulkUpsertSink,
    checkpoint_dir: str,
    trigger_seconds: int | None = None,
):
    """writeStream wiring for the current-values upsert (A3+A4).

    ``store`` is any sink exposing ``foreach_batch(batch, batch_id)``:
    the parquet/Delta ``CurrentValuesStore`` or the Mongo bulk-upsert
    document sink (``MongoBulkUpsertSink``).

    ``trigger_seconds`` maps the reference's per-server ``read_period``
    (conf column READ_PERIOD, Program.cs:1281) onto the micro-batch trigger.
    Retry/reconnect (R10) is checkpoint + restart — no custom loops.

    The query keeps no streaming state. Exactly-once output comes from the
    replayable source plus an idempotent sink: a replayed micro-batch
    writes the same rows again.
    """
    writer = (
        opc_stream.writeStream.outputMode("append")
        .foreachBatch(store.foreach_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_seconds is not None:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer


class MongoBulkUpsertSink:
    """foreachBatch adapter: one ReplaceOne-shaped upsert per key per
    micro-batch, bulk-issued per partition through an injectable client.

    The reference awaits one ``ReplaceOneAsync(filter={tag}, IsUpsert=true)``
    RPC per record on a single consumer thread (reference: OPC2MongoDB/
    Program.cs:1159, :1179-1182 — §6's bottleneck). Here each micro-batch is
    first collapsed to the latest value per key (so at most ONE replace per
    changed key per batch), rendered engine-side by ``to_mongo_documents``,
    then written with one bulk call per (partition, collection).

    ``client_factory()`` runs ON THE EXECUTOR, once per partition (the
    pymongo pattern — clients don't pickle; construct where you write). It
    must return an object with ``bulk_replace(collection, ops)`` where ops is
    a list of ``(key, doc_json)``, and optionally ``close()``. No MongoDB
    exists in this environment, so tests inject a spool-directory fake; a
    real deployment wraps ``pymongo.MongoClient`` mapping each op to
    ``ReplaceOne({'tag': key}, json.loads(doc_json), upsert=True)``.
    """

    def __init__(
        self,
        client_factory,
        key_cols: tuple[str, ...] = ("server", "tag"),
        order_col: str = "serverTimestamp",
    ) -> None:
        self.client_factory = client_factory
        self.key_cols = list(key_cols)
        self.order_col = order_col

    def foreach_batch(self, batch: DataFrame, batch_id: int) -> None:
        latest = last_value_per_key(batch, self.key_cols, self.order_col)
        docs = to_mongo_documents(latest)
        factory = self.client_factory

        def _write_partition(rows) -> None:  # pragma: worker
            from collections import defaultdict

            by_collection: dict[str, list] = defaultdict(list)
            for r in rows:
                by_collection[r.collection].append((r.key, r.doc_json))
            if not by_collection:
                return
            client = factory()
            try:
                for collection, ops in by_collection.items():
                    client.bulk_replace(collection, ops)
            finally:
                close = getattr(client, "close", None)
                if close is not None:
                    close()

        docs.foreachPartition(_write_partition)


def pymongo_available() -> bool:
    """True when the pymongo package is importable (not installed in the
    test sandbox — the real-wire code path is exercised wherever it is)."""
    try:
        import pymongo  # noqa: F401  # pragma: no cover - pymongo absent here

        return True  # pragma: no cover - pymongo absent here
    except ImportError:
        return False


class PymongoClientFactory:
    """Executor-side REAL-MongoDB client factory for ``MongoBulkUpsertSink``
    (r7 VERDICT #4 — the wire adapter behind the injectable-fake contract).

    Picklable: carries only the connection URL + database name; the
    ``MongoClient`` is constructed where the partition writes (pymongo
    clients hold sockets/locks and must never cross process boundaries —
    the documented fork-safety rule). Import-guarded like
    ``delta_available``: constructing the factory is always safe; CALLING
    it without pymongo raises ImportError.

    Each (key, doc_json) op becomes
    ``ReplaceOne({'tag': key}, json.loads(doc_json), upsert=True)`` — the
    exact request the reference awaits once per record
    (OPC2MongoDB/Program.cs:1179-1182) — issued as ONE unordered
    ``bulk_write`` per (collection, partition, batch): identical idempotent
    upsert semantics, one RPC round-trip where the reference pays N.

    ``database=None`` resolves the default database from the URL path
    (the reference's ``mongodb://host/db`` conf line, Program.cs:1229).
    """

    def __init__(self, mongo_url: str, database: str | None = None) -> None:
        self.mongo_url = mongo_url
        self.database = database

    def __call__(self):
        if not pymongo_available():
            raise ImportError(
                "PymongoClientFactory requires the pymongo package; inject "
                "a fake client factory (bulk_replace/close) to test without it"
            )
        import pymongo  # pragma: no cover - pymongo absent here

        client = pymongo.MongoClient(self.mongo_url)  # pragma: no cover - pymongo absent here
        db = (  # pragma: no cover - pymongo absent here
            client[self.database]
            if self.database
            else client.get_default_database()
        )
        return PymongoBulkClient(client, db)  # pragma: no cover - pymongo absent here


class PymongoBulkClient:
    """``bulk_replace``/``close`` contract over a (real or injected)
    MongoClient: builds the ReplaceOne request set and issues one unordered
    bulk_write per collection call. Split from the factory so the
    request-building logic is testable with an injected fake client."""

    def __init__(self, client, database) -> None:
        self._client = client
        self._database = database

    def bulk_replace(self, collection: str, ops) -> None:
        import json as _json

        from pymongo import ReplaceOne

        requests = [
            ReplaceOne({"tag": key}, _json.loads(doc_json), upsert=True)
            for key, doc_json in ops
        ]
        if requests:
            self._database[collection].bulk_write(requests, ordered=False)

    def close(self) -> None:
        self._client.close()


def to_mongo_documents(opc_values: DataFrame) -> DataFrame:
    """Render current-values rows as the reference's exact Mongo document
    shape (reference: OPC2MongoDB/Program.cs:1162-1172 — 8 fields, tag as
    the upsert key, collection per server):

        {tag, dataType, doubleValue, boolValue, stringValue,
         sourceTimestamp, serverTimestamp, quality}

    Returned as (collection, key, doc_json) rows — what a foreachBatch Mongo
    bulkWrite adapter would send one ReplaceOne per row of; the JSON is
    engine-built (to_json), no Python in the loop."""
    return opc_values.select(
        F.col("server").alias("collection"),
        F.col("tag").alias("key"),
        F.to_json(
            F.struct(
                "tag",
                "dataType",
                "doubleValue",
                "boolValue",
                "stringValue",
                "sourceTimestamp",
                "serverTimestamp",
                "quality",
            )
        ).alias("doc_json"),
    )
