"""Continuous corpus-ingestion dedup gate — the streaming composition of
``operators/dedup.py::incremental_keep_list``.

A training corpus is not built in one batch job: documents arrive
continuously, and each arrival must be admitted or rejected against the
corpus AS OF that moment. This gate is the ``foreachBatch`` form of that
loop: per micro-batch, (1) exact-dedup WITHIN the batch (min-id per
normalized-text fingerprint), (2) probe the corpus-so-far with the
incremental gate (exact fingerprint semi-join, then MinHash-LSH band probe
— zero corpus x corpus work, cost proportional to the batch), and
(3) append only the keepers as a new ``ingest_batch=<id>`` partition.

Persisted corpus index (r5): the corpus side of the probe never reads
corpus *text*. Alongside the data partitions, the gate maintains
``_index/fps`` (id, fp), ``_index/sigs`` (id, mh0..mh{k-1}) and
``_index/bloom`` (word, mask — a per-batch Bloom sketch of the batch's
band buckets, bit_or-combined at probe time) as incrementally-appended
tables: each admitted batch appends exactly its own
``ingest_batch=<id>`` partition to each. Per-batch probe cost is the
batch's own tokenization plus narrow index scans — O(batch), not
O(corpus) — which is the scale contract the operator docstring promises.

Index compaction (r6): one directory per micro-batch per table decays
into a thousands-of-files listing after a long run — the streaming
small-file problem. Once ``compact_after`` committed per-batch dirs
accumulate, ``compact_index`` folds them into one consolidated
``_index/<table>_compact`` parquet dir that keeps ``ingest_batch`` as a
regular column (so the retry-exclusion and data-batch filters are
unchanged) plus a ``_compacted.json`` manifest of folded ids; reads union
live per-batch dirs with the compact table, preferring the compact copy
when a crash leaves an id in both.

Crash consistency: data renames land BEFORE index renames, and the index
read is restricted to batches whose data partition exists — an index row
can never outlive (or predate) its document, so a crash between the two
renames cannot cause false rejections. Missing index partitions (crash, or
a corpus seeded before the index existed) are self-healed per-batch by
``repair_index``: each missing batch's index is rebuilt from that batch's
data partition only — O(missing batch), never O(corpus).

The append is partition-granular and idempotent: each micro-batch owns
exactly one ``ingest_batch`` directory per table, staged under the
Spark-hidden ``_staging`` root and atomically renamed, so a Structured
Streaming retry of batch N overwrites batch N's own output and nothing
else (the same recovery contract as the reference's restart loop,
OPC2MongoDB/Program.cs retry/reconnect). Staging lives at
``<corpus_dir>/_staging/...``: the leading underscore keeps half-written
files out of every Spark file listing, so a crash mid-write can never leak
partial rows into the corpus view or corrupt partition inference (the
``<part>._staging`` sibling naming used previously was visible to
listings and did exactly that).

Write codec (r12): the gate's data + index parquet writes use zstd —
A/B'd against snappy on the ingest lane (``GATE_CODEC_AB_r12.json``,
interleaved arms): per-batch time flat
(+0.10 s p50, inside noise, total time equal-or-better) for a 41%
smaller on-disk corpus+index (10.35→6.14 MB at 24x2k docs, 34.4→20.3 MB
at 8x20k), identical admitted corpora. At real scale the trade only
improves (storage + re-read bandwidth). Override via constructor
``parquet_codec`` or conf ``spark.sparkGraft.gateParquetCodec``.

POSIX-only rename caveat matches streaming/sinks.py.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from opc2mongodb_spark.operators.dedup import DEFAULT_K


class CorpusIngestGate:
    """foreachBatch target: admit new documents against the corpus-so-far.

    ``corpus_dir`` holds one parquet partition per processed micro-batch
    (``ingest_batch=<id>``) plus the ``_index/`` tables described in the
    module docstring. ``threshold`` is the MinHash signature-agreement
    bar for near-duplicate rejection (see incremental_keep_list).
    """

    INDEX_TABLES = ("fps", "sigs", "bloom")
    COMPACT_MANIFEST = "_compacted.json"

    def __init__(
        self,
        corpus_dir: str,
        id_col: str = "doc_id",
        text_col: str = "text",
        threshold: float = 0.5,
        k: int = DEFAULT_K,
        compact_after: int | None = 64,
        parquet_codec: str = "zstd",
    ):
        self.corpus_dir = corpus_dir
        self.id_col = id_col
        self.text_col = text_col
        self.threshold = threshold
        self.k = k
        # Codec for the gate's own parquet writes (module docstring: zstd
        # measured time-flat at -41% bytes on the ingest lane). The conf
        # key spark.sparkGraft.gateParquetCodec overrides when set.
        self.parquet_codec = parquet_codec
        # Fold per-batch index partitions into one consolidated parquet dir
        # once this many live per-batch dirs accumulate (None disables).
        # Without it every probe lists one directory PER MICRO-BATCH ever
        # processed — the classic streaming small-file decay (r5 VERDICT).
        self.compact_after = compact_after
        # In-flight admitted checkpoint, registered by _process_enriched so
        # process_batch's finally can release it on any failure path.
        self._admitted_ckpt: DataFrame | None = None

    # ---- layout -----------------------------------------------------------
    def _part(self, batch_id: int) -> str:
        return f"ingest_batch={batch_id}"

    def _index_dir(self, table: str) -> str:
        return os.path.join(self.corpus_dir, "_index", table)

    def _compact_dir(self, table: str) -> str:
        """Consolidated index table: one parquet dir holding the rows of
        many folded ``ingest_batch=`` partitions, with ``ingest_batch`` as
        a REGULAR column (exclusion/read filters keep working) and a
        ``_compacted.json`` manifest (underscore-hidden from Spark
        listings) recording which batch ids it holds."""
        return self._index_dir(table) + "_compact"

    def _compacted_ids(self, table: str) -> set[int]:
        path = os.path.join(self._compact_dir(table), self.COMPACT_MANIFEST)
        if not os.path.isfile(path):
            return set()
        import json

        with open(path) as fh:
            return {int(b) for b in json.load(fh)}

    def _index_batches(self, table: str) -> set[int]:
        """Batch ids the index holds for ``table`` — per-batch dirs plus
        the compacted manifest."""
        return self._batches(self._index_dir(table)) | self._compacted_ids(
            table
        )

    def _staging_dir(self, *parts: str) -> str:
        return os.path.join(self.corpus_dir, "_staging", *parts)

    def _batches(self, root: str) -> set[int]:
        """ingest_batch ids present under ``root`` (by directory listing)."""
        if not os.path.isdir(root):
            return set()
        out = set()
        for e in os.listdir(root):
            if e.startswith("ingest_batch="):
                try:
                    out.add(int(e.split("=", 1)[1]))
                except ValueError:
                    continue
        return out

    def _codec(self, spark: SparkSession) -> str:
        """Effective parquet codec for the gate's writes (conf overrides
        the constructor default)."""
        conf = spark.conf.get("spark.sparkGraft.gateParquetCodec", None)
        return conf if conf else self.parquet_codec

    def _swap_in(self, df: DataFrame, root: str, batch_id: int, tag: str) -> None:
        """Stage ``df`` under the hidden ``_staging`` root, then atomically
        rename into ``root/ingest_batch=<batch_id>`` (replacing any previous
        attempt's output — the retry contract)."""
        out = os.path.join(root, self._part(batch_id))
        tmp = self._staging_dir(tag, self._part(batch_id))
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        df.write.mode("overwrite").option(
            "compression", self._codec(df.sparkSession)
        ).parquet(tmp)
        os.makedirs(root, exist_ok=True)
        if os.path.exists(out):
            shutil.rmtree(out)
        os.rename(tmp, out)

    # ---- reads ------------------------------------------------------------
    def read_corpus(
        self, spark: SparkSession, exclude_batch: int | None = None
    ) -> DataFrame | None:
        """The admitted corpus so far (data columns only), or None if empty.

        ``exclude_batch`` drops that ingest partition from the view — the
        retry path probes the corpus WITHOUT the batch's own previous
        output, otherwise a re-processed batch's documents would
        self-reject as exact duplicates and the retry would rewrite the
        partition empty (losing them)."""
        if not self._batches(self.corpus_dir):
            return None
        df = spark.read.parquet(self.corpus_dir)
        if exclude_batch is not None:
            df = df.filter(F.col("ingest_batch") != F.lit(exclude_batch))
        return df.drop("ingest_batch")

    def _batch_index_frames(
        self, data: DataFrame
    ) -> tuple[DataFrame, DataFrame, DataFrame]:
        """(fps, sigs, bloom) index frames for ONE batch's documents — the
        only place index rows are ever derived from text."""
        from opc2mongodb_spark.functions.text import fingerprint
        from opc2mongodb_spark.operators.bloom import bloom_sketch
        from opc2mongodb_spark.operators.dedup import (
            band_bloom_key,
            minhash_band_rows,
            minhash_signatures,
        )

        fps = data.select(
            F.col(self.id_col), fingerprint(F.col(self.text_col)).alias("fp")
        )
        sigs = minhash_signatures(data, self.id_col, self.text_col, self.k)
        bloom = bloom_sketch(
            minhash_band_rows(sigs, self.id_col, self.k).select(
                band_bloom_key().alias("_bkey")
            ),
            "_bkey",
        )
        return fps, sigs, bloom

    def repair_index(
        self, spark: SparkSession, exclude_batch: int | None = None
    ) -> int:
        """Rebuild index partitions for data batches that lack them (crash
        between data and index renames, or a corpus seeded pre-index).
        Cost is O(missing batches' data), never O(corpus). Returns the
        number of (table, batch) partitions written."""
        data_batches = self._batches(self.corpus_dir)
        if exclude_batch is not None:
            data_batches.discard(exclude_batch)
        missing = {
            t: data_batches - self._index_batches(t)
            for t in self.INDEX_TABLES
        }
        repaired = 0
        for bid in sorted(set().union(*missing.values())):
            data = spark.read.parquet(
                os.path.join(self.corpus_dir, self._part(bid))
            )
            fps, sigs, bloom = self._batch_index_frames(data)
            for table, frame in (("fps", fps), ("sigs", sigs), ("bloom", bloom)):
                if bid in missing[table]:
                    self._swap_in(frame, self._index_dir(table), bid, table)
                    repaired += 1
        return repaired

    def read_index(
        self, spark: SparkSession, exclude_batch: int | None = None
    ) -> tuple[DataFrame, DataFrame, DataFrame] | None:
        """(fps, sigs, bloom_sketch) over the corpus-so-far, or None if the
        corpus is empty. Restricted to batches whose DATA partition exists
        (index rows never outlive their documents) and, like read_corpus,
        excluding ``exclude_batch`` for retry idempotence. The per-batch
        bloom sketches bit_or-combine into one broadcastable sketch."""
        data_batches = self._batches(self.corpus_dir)
        if exclude_batch is not None:
            data_batches.discard(exclude_batch)
        if not data_batches:
            return None
        # A crash inside compact_index's swap window (old compact dir
        # renamed to ._pre, staging not yet renamed in) leaves previously
        # folded batches covered by NEITHER a live per-batch dir NOR the
        # manifest. process_batch always repairs first, but a direct
        # read_index caller would silently probe an incomplete index and
        # falsely admit duplicates of folded documents — detect orphaned
        # coverage and self-heal (O(missing batches' data)) before reading.
        if any(
            data_batches - self._index_batches(t) for t in self.INDEX_TABLES
        ):
            self.repair_index(spark, exclude_batch=exclude_batch)

        def _read(table: str) -> DataFrame:
            # Two physical layouts union into one logical table: live
            # per-batch dirs (ids NOT in the compacted manifest — a crash
            # between the compaction swap and dir cleanup can leave an id
            # in both, and the compacted copy wins to avoid double rows)
            # and the consolidated compact dir.
            root = self._index_dir(table)
            man = self._compacted_ids(table)
            live = (self._batches(root) - man) & data_batches
            parts = []
            if live:
                parts.append(
                    spark.read.parquet(root).filter(
                        F.col("ingest_batch").isin([int(b) for b in live])
                    )
                )
            if man & data_batches:
                parts.append(
                    spark.read.parquet(self._compact_dir(table)).filter(
                        F.col("ingest_batch").isin(
                            [int(b) for b in data_batches]
                        )
                    )
                )
            if not parts:
                # no index rows for any data batch: preserve the pre-compact
                # behavior (empty frame with the table's schema)
                parts.append(
                    spark.read.parquet(root).filter(F.lit(False))
                )
            df = parts[0]
            for p in parts[1:]:
                df = df.unionByName(p)
            return df.drop("ingest_batch")

        fps, sigs, blooms = (_read(t) for t in self.INDEX_TABLES)
        bloom = blooms.groupBy("word").agg(F.bit_or("mask").alias("mask"))
        return fps, sigs, bloom

    def compact_index(
        self,
        spark: SparkSession,
        before_batch: int | None = None,
        max_batch_dirs: int | None = None,
    ) -> dict:
        """Fold per-batch index partitions into the consolidated compact
        dir once ``max_batch_dirs`` live per-batch dirs accumulate
        (default: the instance's ``compact_after``). Only batches
        ``< before_batch`` fold — the in-flight batch may still be retried
        and must keep rewriting its own partition; older batches are
        committed by the streaming checkpoint. When ``before_batch`` is
        None (a standalone maintenance call), the HIGHEST present batch id
        is excluded for the same reason: Structured Streaming only ever
        retries the latest uncommitted batch, so folding the max id could
        freeze a stale pre-retry copy into the manifest while the retry's
        fresh partition gets swept as a leftover.

        Crash contract (same discipline as operators/compaction.py): the
        new compact dir is staged (manifest inside, so dir and manifest
        swap atomically), the old dir is kept as ``._pre`` until the new
        one is live, and folded per-batch dirs are deleted LAST. A crash
        in the one lossy-looking window (old renamed away, new not yet in
        place) leaves the manifest absent, so ``repair_index`` rebuilds
        the folded batches from their still-present data partitions —
        self-healing, never silent loss. Returns per-table stats."""
        import json

        if max_batch_dirs is None:
            max_batch_dirs = self.compact_after
        if before_batch is None:
            present = self._batches(self.corpus_dir)
            for t in self.INDEX_TABLES:
                present |= self._batches(self._index_dir(t))
            before_batch = max(present) if present else 0
        stats: dict[str, dict] = {}
        for table in self.INDEX_TABLES:
            root = self._index_dir(table)
            man = self._compacted_ids(table)
            dir_ids = self._batches(root)
            # leftover dirs whose ids already folded (crash between swap
            # and cleanup): compacted copy wins, drop the dir now
            for bid in sorted(dir_ids & man):
                shutil.rmtree(os.path.join(root, self._part(bid)))
            live = dir_ids - man
            todo = {b for b in live if b < before_batch}
            # not todo: nothing foldable even when max_batch_dirs forces a
            # fold (reading the index root with zero live dirs would fail)
            if not todo or max_batch_dirs is None or len(todo) < max_batch_dirs:
                stats[table] = {"dirs": len(live), "folded": 0}
                continue
            frames = spark.read.parquet(root).filter(
                F.col("ingest_batch").isin([int(b) for b in todo])
            )
            cdir = self._compact_dir(table)
            if man:
                frames = frames.unionByName(spark.read.parquet(cdir))
            staging = self._staging_dir(table + "_compact")
            if os.path.exists(staging):
                shutil.rmtree(staging)
            frames.write.mode("overwrite").option(
                "compression", self._codec(spark)
            ).parquet(staging)
            with open(
                os.path.join(staging, self.COMPACT_MANIFEST), "w"
            ) as fh:
                json.dump(sorted(int(b) for b in man | todo), fh)
            backup = cdir + "._pre"
            if os.path.exists(backup):
                shutil.rmtree(backup)
            if os.path.exists(cdir):
                os.rename(cdir, backup)
            os.rename(staging, cdir)
            if os.path.exists(backup):
                shutil.rmtree(backup)
            for bid in sorted(todo):
                shutil.rmtree(
                    os.path.join(root, self._part(bid)), ignore_errors=True
                )
            stats[table] = {"dirs": len(live - todo), "folded": len(todo)}
        return stats

    # ---- the gate ---------------------------------------------------------
    # Reserved per-batch enrichment column names (dropped before the data
    # write; renamed to the index tables' fp / mh{j} on the index writes).
    _FP = "_gate_fp"

    def _sig_col(self, j: int) -> str:
        return f"_gate_mh{j}"

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        from opc2mongodb_spark.functions.text import fingerprint
        from opc2mongodb_spark.operators.dedup import minhash_signatures

        spark = batch.sparkSession
        sig_cols = [self._sig_col(j) for j in range(self.k)]
        # The enrichment columns are reserved names: a user batch already
        # carrying one would be silently overwritten here and then dropped
        # from the data write (silent column loss) — refuse loudly instead.
        reserved = {self._FP, *sig_cols} & set(batch.columns)
        if reserved:
            raise ValueError(
                "batch columns collide with reserved gate enrichment names: "
                f"{sorted(reserved)}"
            )
        # (1) enrich ONCE: fingerprint + minhash signature columns behind a
        # lazy checkpoint. Every later consumer — within-batch dedup, the
        # corpus probe, and all three index writes — projects these columns
        # instead of re-running normalize/tokenize/md5 over the text: Spark
        # shares no common subtrees across separate consumers of a lazy
        # frame, so the previous shape executed the tokenization pipeline
        # three times per batch (probe plan, sigs write, bloom write).
        # Bounded: the checkpoint is the batch itself plus k+1 columns.
        # LEFT join: minhash_signatures emits no row for a NULL-text
        # document (explode of a null token array), so an inner join would
        # silently drop such docs from the gate entirely — the
        # pre-enrichment shape admitted them with verdict 'keep' (null fp /
        # null mh columns never match the exact or band probes). The left
        # join preserves exactly that behavior.
        sigs_b = minhash_signatures(batch, self.id_col, self.text_col, self.k)
        enriched = batch.withColumn(
            self._FP, fingerprint(F.col(self.text_col))
        ).join(
            sigs_b.select(
                F.col(self.id_col),
                *[
                    F.col(f"mh{j}").alias(self._sig_col(j))
                    for j in range(self.k)
                ],
            ),
            self.id_col,
            "left",
        ).localCheckpoint(eager=False)
        # (6) — placed as try/finally around steps (2)-(5): both per-batch
        # checkpoints are released deterministically even when a step
        # throws (e.g. a _swap_in failure). DataFrame.unpersist is a no-op
        # on localCheckpoint blocks and the ContextCleaner only reclaims
        # them when the JVM Dataset happens to be GC'd — measured here: ~1
        # resident batch-sized RDD accumulated PER MICRO-BATCH across a
        # 12-batch run (guide §5); an exception between checkpoint creation
        # and the old end-of-body release leaked the same way. Everything
        # derived from them has been written by the time the finally runs
        # on the success path; a streaming retry re-invokes process_batch
        # with fresh frames, never with these.
        from opc2mongodb_spark.operators.components import release_checkpoint

        self._admitted_ckpt = None
        try:
            self._process_enriched(spark, enriched, batch_id, sig_cols)
        finally:
            if self._admitted_ckpt is not None:
                release_checkpoint(self._admitted_ckpt)
            self._admitted_ckpt = None
            release_checkpoint(enriched)

    def _process_enriched(
        self,
        spark: SparkSession,
        enriched: DataFrame,
        batch_id: int,
        sig_cols: list[str],
    ) -> None:
        from opc2mongodb_spark.operators.bloom import bloom_sketch
        from opc2mongodb_spark.operators.dedup import (
            band_bloom_key,
            incremental_keep_list,
            minhash_band_rows,
        )

        # (2) within-batch exact dedup on the precomputed fingerprint: keep
        # the min id per fingerprint (exact_dedup_groups semantics).
        keep_ids = (
            enriched.groupBy(self._FP)
            .agg(F.min(self.id_col).alias(self.id_col))
            .select(self.id_col)
        )
        kept = enriched.join(keep_ids, self.id_col, "left_semi")
        # (3) probe the corpus-so-far (minus this batch's own prior output,
        # for retry idempotence) through the PERSISTED index — corpus text
        # is never read; only 'keep' verdicts survive. Self-heal any
        # missing index partitions first (per-batch cost). The batch side
        # of the probe reads the checkpointed fp/sig columns.
        self.repair_index(spark, exclude_batch=batch_id)
        index = self.read_index(spark, exclude_batch=batch_id)
        if index is not None:
            fps_c, sigs_c, bloom_c = index
            verdicts = incremental_keep_list(
                None,
                kept,
                self.id_col,
                self.text_col,
                k=self.k,
                threshold=self.threshold,
                corpus_fps=fps_c,
                corpus_sigs=sigs_c,
                corpus_bloom=bloom_c,
                batch_fps=kept.select(
                    F.col(self.id_col), F.col(self._FP).alias("fp")
                ),
                batch_sigs=kept.select(
                    F.col(self.id_col),
                    *[
                        F.col(self._sig_col(j)).alias(f"mh{j}")
                        for j in range(self.k)
                    ],
                ),
            )
            kept = kept.join(
                verdicts.filter(F.col("verdict") == "keep").select(self.id_col),
                self.id_col,
                "left_semi",
            )
        # The admitted frame feeds four writes (data + three index tables);
        # checkpointing it keeps the batch's dedup + probe plan from
        # re-running per write. Bounded: it is the admitted batch itself.
        # Registered on the instance so process_batch's finally can release
        # it no matter where a later step fails.
        admitted = kept.localCheckpoint(eager=False)
        self._admitted_ckpt = admitted
        kept = admitted
        # (4) idempotent partition-granular appends: data FIRST, then the
        # index tables (module docstring: an index row must never exist
        # without its document). All four frames are projections of the
        # admitted checkpoint; only the bloom adds compute (band-stack +
        # one small aggregation).
        self._swap_in(
            kept.drop(self._FP, *sig_cols), self.corpus_dir, batch_id, "data"
        )
        fps = kept.select(F.col(self.id_col), F.col(self._FP).alias("fp"))
        sigs = kept.select(
            F.col(self.id_col),
            *[F.col(self._sig_col(j)).alias(f"mh{j}") for j in range(self.k)],
        )
        bloom = bloom_sketch(
            minhash_band_rows(sigs, self.id_col, self.k).select(
                band_bloom_key().alias("_bkey")
            ),
            "_bkey",
        )
        # The three index writes are INDEPENDENT projections of the same
        # admitted checkpoint (distinct target dirs, distinct staging
        # dirs), so they run as concurrent jobs (guide §2.6 "overlap
        # independent jobs"): at the gate's 2k-doc batch floor each write
        # is dominated by fixed per-job latency, not data, and the
        # sequential form paid that latency three times. Crash contract
        # unchanged: the data write above still lands strictly first, and
        # a partial index failure (any subset missing) is the exact state
        # repair_index already self-heals per batch.
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=3) as pool:
            futures = [
                pool.submit(
                    self._swap_in, frame, self._index_dir(table), batch_id,
                    table,
                )
                for table, frame in (
                    ("fps", fps), ("sigs", sigs), ("bloom", bloom),
                )
            ]
            for fut in futures:
                fut.result()
        # (5) bounded maintenance: fold committed (< batch_id) per-batch
        # index dirs into the compact table once enough accumulate, so
        # probe cost never decays with micro-batch count. Step (6) — the
        # deterministic checkpoint release — runs in process_batch's
        # finally block.
        if self.compact_after is not None:
            self.compact_index(spark, before_batch=batch_id)

    def foreach_batch(self, batch: DataFrame, batch_id: int) -> None:
        self.process_batch(batch, batch_id)
