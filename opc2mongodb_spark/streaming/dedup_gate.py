"""Continuous corpus-ingestion dedup gate — the streaming composition of
``operators/dedup.py::incremental_keep_list``.

A training corpus is not built in one batch job: documents arrive
continuously, and each arrival must be admitted or rejected against the
corpus AS OF that moment. This gate is the ``foreachBatch`` form of that
loop: per micro-batch, (1) exact-dedup WITHIN the batch (min-id per
normalized-text fingerprint), (2) probe the corpus-so-far with the
incremental gate (exact fingerprint semi-join, then MinHash-LSH band probe
— zero corpus x corpus work, cost proportional to the batch), and
(3) commit only the keepers.

Persisted corpus index: the corpus side of the probe never reads corpus
*text*. Beside the admitted documents (``data``) the gate keeps three
index tables: ``fps`` (id, fp), ``sigs`` (id, mh0..mh{k-1}) and ``bloom``
(word, mask — a per-batch Bloom sketch of the batch's band buckets,
bit_or-combined at probe time). Per-batch probe cost is the batch's own
tokenization plus narrow index scans — O(batch), not O(corpus) — which is
the scale contract the operator docstring promises.

Layout and commit: the snapshot protocol of ``streaming/sinks.py``, one
pointer for four tables:

    <corpus>/<table>/v=<version>/part-*.parquet   one segment; every file
                                                  carries ``ingest_batch``
                                                  as a regular column
    <corpus>/_CURRENT                             the manifest; a segment's
                                                  meta is its batch ids

A micro-batch writes its four segments as one new version and one commit
makes the batch visible in all four tables at once. A retry of batch N
commits a manifest without N's previous segments and probes with
``ingest_batch != N``, so the retry is idempotent (the reference's
restart loop, OPC2MongoDB/Program.cs retry/reconnect). A plain
``spark.read.parquet(corpus_dir)`` is NOT a read path: it would union the
four tables, uncommitted segments and the previous commit's.

Index compaction: one segment per micro-batch per index table decays into a
thousands-of-dirs read after a long run — the streaming small-file problem.
Once ``compact_after`` committed index segments accumulate,
``compact_index`` folds them into one segment (``ingest_batch`` kept, so the
retry exclusion is unchanged) and commits it through the same flip.

POSIX-only: the commit needs an atomic single-file ``os.replace``.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from opc2mongodb_spark.operators.dedup import DEFAULT_K
from opc2mongodb_spark.streaming.sinks import _Snapshots

# Codec of the gate's segment files: an interleaved A/B against snappy on
# the ingest lane (artifacts/GATE_CODEC_AB_r12.json) measured per-batch
# time flat for a 41% smaller corpus + index, with identical admitted
# corpora.
PARQUET_CODEC = "zstd"

# The micro-batch id column every segment file carries.
_BATCH = "ingest_batch"


class CorpusIngestGate:
    """foreachBatch target: admit new documents against the corpus-so-far.

    ``corpus_dir`` holds the four tables and the ``_CURRENT`` manifest
    described in the module docstring. ``threshold`` is the MinHash
    signature-agreement bar for near-duplicate rejection (see
    incremental_keep_list).
    """

    INDEX_TABLES = ("fps", "sigs", "bloom")
    _TABLES = ("data", *INDEX_TABLES)

    def __init__(
        self,
        corpus_dir: str,
        id_col: str = "doc_id",
        text_col: str = "text",
        threshold: float = 0.5,
        k: int = DEFAULT_K,
        compact_after: int | None = 31,
    ):
        self.corpus_dir = corpus_dir
        self.id_col = id_col
        self.text_col = text_col
        self.threshold = threshold
        self.k = k
        # Fold committed index segments into one once this many accumulate
        # (None disables). Without it every probe reads one directory PER
        # MICRO-BATCH ever processed — the streaming small-file decay. A
        # read lists at most compact_after + 1 segment dirs per table; the
        # default keeps that at Spark's parallelPartitionDiscovery
        # threshold (32), above which every read's file index runs a
        # listing job per table.
        self.compact_after = compact_after
        # In-flight admitted checkpoint, registered by _process_enriched so
        # process_batch's finally can release it on any failure path.
        self._admitted_ckpt: DataFrame | None = None
        self._snapshots = _Snapshots(corpus_dir, "v")

    # ---- commit -----------------------------------------------------------
    def _write(
        self, version: int, frames: dict[str, DataFrame]
    ) -> dict[str, dict]:
        """Write each table's frame as its segment ``v=<version>`` and return
        table -> schema. The writes are independent, so they run as
        concurrent jobs: at small batches each one is mostly fixed per-job
        latency."""

        def write(table: str) -> tuple[str, dict]:
            frames[table].write.option("compression", PARQUET_CODEC).parquet(
                os.path.join(self.corpus_dir, table, f"v={version}")
            )
            return table, frames[table].schema.jsonValue()

        with ThreadPoolExecutor(max_workers=len(frames)) as pool:
            return dict(pool.map(write, frames))

    # ---- reads ------------------------------------------------------------
    def _table(
        self,
        spark: SparkSession,
        manifest: dict,
        table: str,
        exclude_batch: int | None,
    ) -> DataFrame:
        """``table`` as of ``manifest``, without ``ingest_batch`` and
        without the rows of ``exclude_batch``."""
        df = self._snapshots.frame(spark, manifest, table)
        if exclude_batch is not None:
            df = df.filter(F.col(_BATCH) != F.lit(exclude_batch))
        return df.drop(_BATCH)

    def read_corpus(
        self, spark: SparkSession, exclude_batch: int | None = None
    ) -> DataFrame | None:
        """The admitted corpus so far (data columns only), or None before
        the first commit.

        ``exclude_batch`` drops that batch's documents from the view — the
        retry path probes the corpus WITHOUT the batch's own previous
        output, otherwise a re-processed batch's documents would
        self-reject as exact duplicates and the retry would commit the
        batch empty (losing them)."""
        manifest = self._snapshots.head()
        if manifest is None:
            return None
        return self._table(spark, manifest, "data", exclude_batch)

    def read_index(
        self, spark: SparkSession, exclude_batch: int | None = None
    ) -> tuple[DataFrame, DataFrame, DataFrame] | None:
        """(fps, sigs, bloom_sketch) of the committed corpus, or None before
        the first commit; like read_corpus, without ``exclude_batch``. The
        per-batch bloom sketches bit_or-combine into one broadcastable
        sketch."""
        manifest = self._snapshots.head()
        if manifest is None:
            return None
        return self._index(spark, manifest, exclude_batch)

    def _index(
        self, spark: SparkSession, manifest: dict, exclude_batch: int | None
    ) -> tuple[DataFrame, DataFrame, DataFrame]:
        fps, sigs, blooms = (
            self._table(spark, manifest, t, exclude_batch)
            for t in self.INDEX_TABLES
        )
        bloom = blooms.groupBy("word").agg(F.bit_or("mask").alias("mask"))
        return fps, sigs, bloom

    def compact_index(
        self,
        spark: SparkSession,
        before_batch: int | None = None,
        max_batch_dirs: int | None = None,
    ) -> dict:
        """Fold the committed index segments of batches ``< before_batch``
        into one new segment per index table once ``max_batch_dirs`` of
        them accumulate (default: the instance's ``compact_after``), and
        commit it through the same flip. The in-flight batch may still be
        retried and must keep its own segment; older batches are committed
        by the streaming checkpoint. When ``before_batch`` is None (a
        standalone maintenance call), the HIGHEST committed batch id stays
        out for the same reason: Structured Streaming only ever retries the
        latest batch. Returns the index segment count and the number
        folded."""
        if max_batch_dirs is None:
            max_batch_dirs = self.compact_after
        manifest = self._snapshots.head()
        if manifest is None or max_batch_dirs is None:
            return {"segments": 0, "folded": 0}
        segments = manifest["segments"]
        if before_batch is None:
            before_batch = max(b for _, ids in segments["data"] for b in ids)
        # every commit gives the three index tables the same segment dirs
        todo = [s for s in segments["fps"] if max(s[1]) < before_batch]
        if not todo or len(todo) < max_batch_dirs:
            return {"segments": len(segments["fps"]), "folded": 0}
        version = self._snapshots.begin(manifest)
        folded = [d for d, _ in todo]
        schemas = self._write(
            version,
            {
                t: self._snapshots.scan(
                    spark, manifest, t, [os.path.join(t, d) for d in folded]
                )
                for t in self.INDEX_TABLES
            },
        )
        ids = sorted(b for _, seg_ids in todo for b in seg_ids)
        new = {
            t: [[f"v={version}", ids]]
            + [s for s in segments[t] if s[0] not in folded]
            for t in self.INDEX_TABLES
        }
        self._snapshots.commit(manifest, schemas, new)
        return {"segments": len(new["fps"]), "folded": len(todo)}

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
        # The enrichment columns and ingest_batch are reserved names: a user
        # batch already carrying one would be silently overwritten here and
        # then dropped from the view (silent column loss) — refuse loudly.
        reserved = {self._FP, _BATCH, *sig_cols} & set(batch.columns)
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
        # throws (e.g. a segment write failure). DataFrame.unpersist is a
        # no-op on localCheckpoint blocks and the ContextCleaner only
        # reclaims them when the JVM Dataset happens to be GC'd — measured
        # here: ~1 resident batch-sized RDD accumulated PER MICRO-BATCH
        # across a 12-batch run (guide §5); an exception between checkpoint
        # creation and the old end-of-body release leaked the same way.
        # Everything derived from them has been written by the time the
        # finally runs on the success path; a streaming retry re-invokes
        # process_batch with fresh frames, never with these.
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
        # (3) probe the committed corpus (minus this batch's own prior
        # output, for retry idempotence) through the PERSISTED index —
        # corpus text is never read; only 'keep' verdicts survive. The
        # batch side of the probe reads the checkpointed fp/sig columns.
        # The pointer is read once: the probe and the commit below see the
        # same manifest.
        manifest = self._snapshots.head()
        if manifest is not None:
            fps_c, sigs_c, bloom_c = self._index(spark, manifest, batch_id)
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
        # (4) one commit: the four segments as one new version, then the
        # flip. All four frames are projections of the admitted checkpoint;
        # only the bloom adds compute (band-stack + one small aggregation).
        sigs = admitted.select(
            F.col(self.id_col),
            *[F.col(self._sig_col(j)).alias(f"mh{j}") for j in range(self.k)],
        )
        frames = {
            "data": admitted.drop(self._FP, *sig_cols),
            "fps": admitted.select(
                F.col(self.id_col), F.col(self._FP).alias("fp")
            ),
            "sigs": sigs,
            "bloom": bloom_sketch(
                minhash_band_rows(sigs, self.id_col, self.k).select(
                    band_bloom_key().alias("_bkey")
                ),
                "_bkey",
            ),
        }
        version = self._snapshots.begin(manifest)
        schemas = self._write(
            version,
            {
                t: df.withColumn(_BATCH, F.lit(batch_id).cast("long"))
                for t, df in frames.items()
            },
        )
        previous = manifest["segments"] if manifest else {}
        segments = {
            t: [s for s in previous.get(t, ()) if s[1] != [batch_id]]
            + [[f"v={version}", [batch_id]]]
            for t in self._TABLES
        }
        self._snapshots.commit(manifest, schemas, segments)
        # (5) bounded maintenance: fold committed (< batch_id) index
        # segments into one once enough accumulate, so probe cost never
        # decays with micro-batch count. Step (6) — the deterministic
        # checkpoint release — runs in process_batch's finally block.
        if self.compact_after is not None:
            self.compact_index(spark, before_batch=batch_id)

    def foreach_batch(self, batch: DataFrame, batch_id: int) -> None:
        self.process_batch(batch, batch_id)
