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
    <path>/_CURRENT                        the manifest (below); the leading
                                           ``_`` keeps Spark's file listings
                                           off it

A merge writes only the servers it changed, as generation N, and commits
them; unchanged servers keep pointing at their old generation. A plain
``spark.read.parquet(path)`` sees both retained generations (and a ``gen``
column): read through ``CurrentValuesStore.read`` /
``Engine.current_values``. One writer per store (one streaming query).

The snapshot protocol (``_Snapshots``) is shared with the corpus-ingest
dedup gate (``streaming/dedup_gate.py``). A root holds table dirs, each
table dir holds segment dirs ``<segment>=N`` (the store's tables are its
server dirs, its segments ``gen=N``), and ``_CURRENT`` is the JSON
manifest: ``version``, table -> ``schemas``, table -> ``segments`` as
``[[dir, meta]]``, the ``previous`` commit's segments and a ``commit``
uuid. Version N is written in four steps:

1. Clear what a crashed attempt at N left: every table's segment dir at N
   (no commit lists it yet) and Spark's ``_temporary``.
2. Write the new segments (the caller's Spark jobs).
3. Commit: write the manifest beside the pointer and flip ``_CURRENT`` to
   it with ONE ``os.replace``.
4. GC: delete the segment dirs that neither this commit nor the previous
   one lists, so a reader that resolved the previous pointer can still
   finish. Every other entry, file or dir, stays.

A crash before step 3 leaves the last commit intact and its leftovers are
cleared by the retry; a crash after it leaves the new commit whole.
Readers resolve ``_CURRENT`` once per call and read exactly the listed
dirs with the manifest's schemas: one DataFrame per table per commit,
reused until the pointer changes, so a lookup between two commits lists no
directory and reads no footer. A directory without ``_CURRENT`` is empty.

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
# A/B on the sink's own lane (artifacts/SINK_CODEC_AB_r13.json) measured
# per-batch time flat and 45% fewer bytes for zstd; the state is re-read
# every batch.
PARQUET_CODEC = "zstd"

# The snapshot pointer and the store's segment (generation) prefix.
CURRENT = "_CURRENT"
GEN = "gen"


class _Snapshots:
    """The snapshot protocol of the module docstring over ``root``, whose
    segment dirs are named ``<segment>=N``. ``partitioned``: the table dirs
    are ``col=value`` partition dirs, and a read recovers that column from
    the path."""

    def __init__(self, root: str, segment: str, partitioned: bool = False):
        self.root = root
        self.segment = segment
        self.partitioned = partitioned
        # (pointer text, manifest, frames by table tuple) of the last commit
        # read: reads between two commits reuse the frames.
        self._cache: tuple[str, dict, dict] | None = None

    def head(self) -> dict | None:
        """The committed manifest (None before the first commit). The
        pointer is read once per call and parsed once per commit; callers
        must not mutate the result."""
        try:
            with open(os.path.join(self.root, CURRENT), encoding="utf-8") as f:
                text = f.read()
        except FileNotFoundError:
            return None
        cache = self._cache  # two threads racing here build two equal frames
        if cache is None or cache[0] != text:
            cache = self._cache = (text, json.loads(text), {})
        return cache[1]

    def frame(
        self, spark: SparkSession, manifest: dict, *tables: str
    ) -> DataFrame:
        """One scan of the segment dirs ``manifest`` lists for ``tables``
        (with the first one's schema), reused until the next commit."""
        cache = self._cache
        frames = cache[2] if cache is not None and cache[1] is manifest else {}
        if tables not in frames:
            segments = manifest["segments"]
            dirs = [os.path.join(t, d) for t in tables for d, _ in segments[t]]
            frames[tables] = self.scan(spark, manifest, tables[0], dirs)
        return frames[tables]

    def scan(
        self, spark: SparkSession, manifest: dict, table: str, dirs
    ) -> DataFrame:
        """Exactly ``dirs`` (relative to the root), read with ``table``'s
        schema from the manifest: no other listing, no footer job."""
        schema = StructType.fromJson(manifest["schemas"][table])
        reader = spark.read.schema(schema)
        if self.partitioned:
            reader = reader.option("basePath", self.root)
        return reader.parquet(
            *(os.path.join(self.root, d) for d in dirs)
        ).select(*schema.names)  # drops an inferred segment column

    def begin(self, manifest: dict | None) -> int:
        """The version the commit after ``manifest`` writes. What a crashed
        attempt at it left is cleared first: each table's segment dir at
        that version and Spark's ``_temporary``."""
        version = (manifest["version"] if manifest else 0) + 1
        temporary = os.path.join(self.root, "_temporary")
        shutil.rmtree(temporary, ignore_errors=True)
        self._drop(lambda table, d: d == f"{self.segment}={version}")
        return version

    def commit(
        self, manifest: dict | None, schemas: dict, segments: dict
    ) -> None:
        """Commit the version ``begin(manifest)`` returned: ``schemas`` and
        ``segments`` replace their tables' entries of ``manifest``. The
        ``commit`` uuid makes every manifest unique, so a reader's cache
        never mistakes a recreated directory for the old one."""
        head = manifest or {"version": 0, "schemas": {}, "segments": {}}
        new = {
            "version": head["version"] + 1,
            "schemas": {**head["schemas"], **schemas},
            "segments": {**head["segments"], **segments},
            "previous": head["segments"],
            "commit": uuid.uuid4().hex,
        }
        tmp = os.path.join(self.root, CURRENT + ".tmp")
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump(new, f)
        os.replace(tmp, os.path.join(self.root, CURRENT))
        self._gc(new)

    def _gc(self, manifest: dict) -> None:
        """Delete the segment dirs neither ``manifest`` nor the commit
        before it lists: a reader that resolved the previous pointer can
        still finish."""
        keep = {
            (table, d)
            for segments in (manifest["segments"], manifest["previous"])
            for table, listed in segments.items()
            for d, _ in listed
        }
        self._drop(lambda table, d: (table, d) not in keep)

    def on_disk(self) -> list[tuple[str, str]]:
        """(table, segment dir) of every segment dir under the root."""
        if not os.path.isdir(self.root):
            return []
        prefix = f"{self.segment}="
        return [
            (table.name, seg.name)
            for table in os.scandir(self.root)
            if table.is_dir()
            for seg in os.scandir(table.path)
            if seg.name.startswith(prefix)
            and seg.name[len(prefix):].isdigit()
            and seg.is_dir()
        ]

    def _drop(self, doomed) -> None:
        for table, d in self.on_disk():
            if doomed(table, d):
                shutil.rmtree(os.path.join(self.root, table, d))


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
        self._snapshots = _Snapshots(path, GEN, partitioned=True)

    def read(self, spark: SparkSession) -> DataFrame | None:
        if self.backend == "delta":
            if not os.path.exists(self.path):
                return None
            return spark.read.format("delta").load(self.path)  # pragma: no cover - delta absent here
        return self._current(spark, self._snapshots.head())

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
        for the Delta MERGE above) into a new generation of the servers it
        changed, and commit it (module docstring). Servers the batch did not
        change are read but never rewritten: the new manifest keeps their
        old generation. One action scans the batch once, so the batch needs
        no persist. A batch that changes no server commits nothing."""
        manifest = self._snapshots.head()
        gen = self._snapshots.begin(manifest)
        schema = self._state_schema(batch)
        existing = self._current(batch.sparkSession, manifest)
        (
            self._changed_partitions(batch, schema, existing)
            .withColumn(GEN, F.lit(gen))
            .write.mode("append")
            .option("compression", PARQUET_CODEC)
            .partitionBy(self.key_cols[0], GEN)
            .parquet(self.path)
        )
        written = {
            server: [[d, None]]
            for server, d in self._snapshots.on_disk()
            if d == f"{GEN}={gen}"
        }
        if written:
            schemas = {server: schema.jsonValue() for server in written}
            self._snapshots.commit(manifest, schemas, written)

    def _current(
        self, spark: SparkSession, manifest: dict | None
    ) -> DataFrame | None:
        """The committed state as of ``manifest``: one scan of every
        server's listed generation."""
        if manifest is None:
            return None
        servers = sorted(manifest["segments"])
        return self._snapshots.frame(spark, manifest, *servers)

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
        self,
        batch: DataFrame,
        schema: StructType,
        existing: DataFrame | None,
    ) -> DataFrame:
        """The new rows of every server the batch changes, planned over one
        exchange: ``existing ∪ batch`` is hash-partitioned on the server
        once, and both the per-key aggregate and the per-server window
        reuse that partitioning."""
        pcol = self.key_cols[0]
        cols = schema.names
        # _src tiebreak: on an order_col tie the BATCH row wins — the same
        # semantics as the Delta MERGE's `s.order >= t.order` condition, and
        # deterministic (max_by alone picks an arbitrary row on ties).
        merged = batch.select(*cols, F.lit(1).alias("_src"))
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
