package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ml.TextAnalysis

/** Streaming corpus ingest — the live counterpart of the ns22 batch
  * capstone: every micro-batch of raw documents is quality-gated
  * (length + language), near-dup-suppressed within the batch and
  * against the accumulated signature store ([[StreamingNearDup]]),
  * and the survivors append to a growing corpus table.
  *
  * Delivery: the signature store write is at-least-once with replay
  * re-emission (StreamingNearDup's batch_id discipline), and each
  * batch's survivors land in their OWN partition directory
  * (`ingest_batch=<id>/`), committed at most once: a partition whose
  * `_SUCCESS` marker exists is never rewritten (protects committed
  * data from both replays and recycled batchIds after a checkpoint
  * reset), while a partial directory from a died write is overwritten
  * by the replay. O(1) per batch — no probe re-reads the ever-growing
  * corpus.
  *
  * Scale: the gate is map-only; dedup touches only band-colliding
  * store rows; the per-batch partition directories accumulate one
  * small file set per trigger — re-bin them offline with
  * [[graft.sources.Layout.compactPartitions]] (per-partition, so the
  * `ingest_batch=` structure the idempotence depends on survives).
  */
object CorpusIngest {

  /** Pure per-batch body (testable without a streaming runtime).
    *
    * Recycled batch ids (a checkpoint reset restarts numbering from 0)
    * cannot be silently absorbed here the way the signature store
    * absorbs them: the partition path IS the batch id, and the
    * committed generation's data must not be overwritten. Each commit
    * therefore records the batch's content fingerprint in a
    * `_GRAFT_BATCH_SIG` marker; a committed partition re-encountered
    * with DIFFERENT content fails loudly — "checkpoint reset detected,
    * use a fresh corpusPath (or re-key the existing partitions)" —
    * instead of silently dropping the new batch's documents.
    */
  def ingestBatch(batch: DataFrame, batchId: Long, corpusPath: String,
      storePath: String, minChars: Int, lang: String, maxHamming: Int)
      : Unit = {
    val gated = batch.filter(length(col("text")) >= minChars &&
      TextAnalysis.langId(col("text")) === lang)
    StreamingNearDup.processBatchWithSig(gated, batchId, storePath,
      maxHamming, (novel, bid, sig) =>
        BatchCommit.committedWrite(novel.sparkSession, corpusPath, bid,
          sig, "point the stream at a fresh corpusPath, or re-key " +
            "the existing partitions offline",
          lockRoot = corpusPath) { part =>
          novel.write.mode("overwrite").parquet(part)
        })
  }

  private[graft] val DeletedDir = "_graft_corpus_deleted"

  /** Soft-delete documents from the committed corpus table — the
    * corpus half of the unified takedown (r14 verdict item 1): an
    * id-sized tombstone append into an underscore-hidden sibling,
    * zero `ingest_batch=` partitions rewritten (a takedown against a
    * 100 TB corpus costs one small append), idempotent on
    * unknown/repeated ids, loud on NULL. [[readCorpus]] masks at
    * read. Note the partition protocol is untouched: a replayed batch
    * id still absorbs against its `_GRAFT_BATCH_SIG`, so a takedown
    * can never make a committed partition re-writable — deleted rows
    * stay physically present (masked) until an offline rewrite.
    */
  def deleteFromCorpus(spark: org.apache.spark.sql.SparkSession,
      docIds: DataFrame, corpusPath: String): Unit =
    graft.ml.ServedStore.CorpusTable.delete(spark, docIds, corpusPath)

  private[graft] val CorpusCompactStageDir = "_graft_corpus_compact_stage"
  private val CorpusStage = graft.sources.StagedRewrite.SwapStage
    .compaction(CorpusCompactStageDir, "compactCorpus: ",
      BatchCommit.PartitionPrefix)

  /** Reclaim the corpus table's takedown debt: physically rewrite ONLY
    * the `ingest_batch=` partitions holding tombstoned rows, leaving
    * every partition's `_SUCCESS` and `_GRAFT_BATCH_SIG` markers in
    * place — the non-negotiable invariant here, because the markers
    * are the BatchCommit replay ledger: a replayed batch id must keep
    * ABSORBING against its recorded content fingerprint (the sig
    * describes the original batch, which is what a replay recomputes),
    * or the replay would rewrite the partition with the original rows
    * and RESURRECT the deleted doc. A fully-dead partition becomes a
    * data-less stub whose markers keep absorbing, the fold-stub shape.
    *
    * Crash contract (the staged uuid-swap, per partition): survivors
    * of the dirty partitions stage durably under
    * [[CorpusCompactStageDir]] with the dirty-partition list and the
    * entry-pinned tombstone FILE manifest recorded beside them; the
    * `_GRAFT_STAGE_ID` uuid marker is the commit point. The apply
    * moves staged files into their partitions under `graftc-<uuid>-`
    * names FIRST, then deletes old data files — a crash anywhere
    * replays from the stage to the same state, and only the
    * manifested tombstone files are dropped at the end (a delete
    * appended mid-run keeps masking). Tombstone reclaim is
    * SETTLED-ONLY: an id with no corpus row is a takedown that raced
    * ahead of its doc's ingest and is re-appended BEFORE the commit so
    * it keeps masking the doc's eventual arrival.
    *
    * Single-writer maintenance op (pause the ingest stream); a
    * concurrent [[readCorpus]] inside the apply window may see a
    * doc's row twice (old∪new — the reader-safe direction; never a
    * gap). Returns the number of partitions rewritten.
    */
  def compactCorpus(spark: org.apache.spark.sql.SparkSession,
      corpusPath: String): Long = {
    val root = new org.apache.hadoop.fs.Path(corpusPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // finish a crashed committed apply, then fall through (post-crash
    // tombstone appends must still be honored by the normal pass)
    CorpusStage.replay(fs, root)
    val store = graft.ml.ServedStore.CorpusTable
    val snapshot = store.snapshot(fs, corpusPath)
    if (snapshot.isEmpty) return 0L
    graft.ml.Materialize.withCut(store.idsIn(spark, snapshot)) { dead =>
      val committed = BatchCommit.committed(fs, root).map(_.toString)
      val raw =
        if (committed.isEmpty) None
        else Some(spark.read.option("basePath", corpusPath)
          .parquet(committed: _*))
      // settled-only: pending tombstones (no corpus row yet) re-append
      // BEFORE the commit, in a fresh file outside the manifest
      store.reappendPending(dead, raw, corpusPath, pin = true)
      // bounded driver action: the dirty-partition id list
      // (takedowns touch their docs' partitions, not the whole table)
      val dirty: Seq[Long] = raw match {
        case None => Seq.empty
        case Some(r) => r.select(col("doc_id"),
            col("ingest_batch").cast("long"))
          .join(dead, Seq("doc_id"))
          .select(col("ingest_batch")).distinct()
          .collect().toSeq.map(_.getLong(0))
      }
      if (dirty.nonEmpty)
        raw.get.filter(col("ingest_batch").isin(dirty: _*))
          .join(dead, Seq("doc_id"), "left_anti")
          .write.mode("overwrite").partitionBy("ingest_batch")
          .parquet(CorpusStage.at(root).toString)
      CorpusStage.commitParts(fs, root, dirty.sorted.map(_.toString),
        snapshot)
      dirty.length.toLong
    }
  }

  /** Read the corpus table as a consumer must: COMMITTED partitions
    * only ([[BatchCommit.committed]] — the same rule
    * [[graft.streaming.VectorIngest.servePaths]] applies to index
    * stream tables: a write that died during job commit leaves data
    * files with no marker, and reading them would serve a partial
    * batch until its replay), with
    * [[deleteFromCorpus]] tombstones masked. Loud when nothing is
    * committed yet — an empty corpus read has no schema to synthesize
    * and silently returning one would hide a mis-pointed path.
    */
  def readCorpus(spark: org.apache.spark.sql.SparkSession,
      corpusPath: String): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(corpusPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(root),
      s"readCorpus: no corpus table at $corpusPath")
    val committed = BatchCommit.committed(fs, root).map(_.toString)
    require(committed.nonEmpty,
      s"readCorpus: no committed ingest_batch partitions at " +
        s"$corpusPath — nothing has been ingested (or the path is " +
        "wrong)")
    val rows = spark.read.option("basePath", corpusPath)
      .parquet(committed: _*)
    graft.ml.ServedStore.CorpusTable.mask(spark, Seq(corpusPath), rows)
  }

  /** Wire the stream: micro-batches of (doc_id, text) run
    * [[ingestBatch]], with the every-`maintainEvery` batches sweep of
    * [[graft.ml.Maintenance.startMaintained]] over the corpus table
    * and the near-dup store.
    */
  def start(streamingDocs: DataFrame, corpusPath: String,
      storePath: String, checkpoint: String,
      minChars: Int = 200, lang: String = "en", maxHamming: Int = 3,
      maintainEvery: Int = 0,
      maintainThresholds: graft.ml.Maintenance.Thresholds =
        graft.ml.Maintenance.Thresholds())
      : StreamingQuery =
    graft.ml.Maintenance.startMaintained(streamingDocs, checkpoint,
      maintainEvery, maintainThresholds, maintained(corpusPath, storePath)) {
      (batch, batchId) => ingestBatch(batch, batchId, corpusPath,
        storePath, minChars, lang, maxHamming)
    }

  /** The two stores a corpus ingest stream maintains. */
  private def maintained(corpusPath: String, storePath: String) =
    Seq(corpusPath -> "corpus", storePath -> "neardup_store")

  /** The crawl-format FRONT DOOR: a directory of raw JSONL files (the
    * wire format crawls actually deliver) streams through
    * [[graft.sources.JsonlCorpus.readStreamQuarantined]]'s malformed-
    * line split before the quality gate — bad lines land as raw-line
    * rows under `rejectsPath/ingest_batch=<id>/` (the replayable
    * dead-letter; written FIRST, overwrite-per-batch-id, so a crash
    * between the rejects write and the corpus commit replays to the
    * identical rejects partition — the SubstrIngest report
    * discipline), good lines flow into [[ingestBatch]]'s gate →
    * near-dup store → committed corpus append unchanged. A malformed
    * line can therefore never kill the stream (FAILFAST) nor vanish
    * (DROPMALFORMED) — the batch gate ns67 states the same split
    * cross-engine, and the shared parser means the streamed split
    * cannot drift from it. `schema` must include the `doc_id` and
    * `text` fields the downstream gate keys on.
    */
  /** The raw-crawl front door ([[graft.sources.WarcCorpus]] — r14
    * verdict item 8): WARC records stream through the header-split +
    * structural-validation quarantine, malformed records dead-letter
    * under `rejectsPath/ingest_batch=<id>/` with their raw text
    * (written FIRST, overwrite-per-batch-id — the [[startJsonl]]
    * crash discipline verbatim), and well-formed records' payloads
    * flow into [[ingestBatch]]'s gate → near-dup store → committed
    * corpus append. `docIdOf` derives the corpus doc_id from the
    * record columns — the default hashes WARC-Record-ID (crawl ids
    * are uuids, not longs; xxhash64 is deterministic across replays,
    * and the near-dup/corpus stores don't require monotone ids — the
    * substr index, which does, is fed downstream by id-assigning
    * jobs, not this door).
    *
    * Collision bound on the default (r15 advice): xxhash64 is 64
    * bits, so by the birthday bound a crawl of n records collides
    * with probability ~ n^2/2^65 — negligible at millions (~5e-8 at
    * 1M) but REAL at billions (~3% at 1B, ~97% at 10B). A collision
    * silently merges two distinct documents: the second is treated as
    * already-ingested by every id-keyed store, and a takedown of one
    * id removes both. Large crawls must pass caller-assigned unique
    * ids through `docIdOf` (a feed sequence number, or an
    * id-assigning pre-pass), or anti-join candidate ids against the
    * corpus before admission.
    */
  def startWarc(spark: org.apache.spark.sql.SparkSession,
      feedDir: String, corpusPath: String, storePath: String,
      rejectsPath: String, checkpoint: String, minChars: Int = 200,
      lang: String = "en", maxHamming: Int = 3,
      docIdOf: org.apache.spark.sql.Column = xxhash64(col("record_id")),
      maintainEvery: Int = 0,
      maintainThresholds: graft.ml.Maintenance.Thresholds =
        graft.ml.Maintenance.Thresholds())
      : StreamingQuery =
    graft.ml.Maintenance.startMaintained(
      graft.sources.WarcCorpus.readStreamQuarantined(spark, feedDir),
      checkpoint, maintainEvery, maintainThresholds,
      maintained(corpusPath, storePath)) { (batch, batchId) =>
      graft.sources.WarcCorpus.rejects(batch)
        .write.mode("overwrite")
        .parquet(BatchCommit.partition(rejectsPath, batchId))
      ingestBatch(graft.sources.WarcCorpus.goodRecords(batch)
          .select(docIdOf.as("doc_id"), col("payload").as("text")),
        batchId, corpusPath, storePath, minChars, lang, maxHamming)
    }

  def startJsonl(spark: org.apache.spark.sql.SparkSession,
      feedDir: String, schema: org.apache.spark.sql.types.StructType,
      corpusPath: String, storePath: String, rejectsPath: String,
      checkpoint: String, minChars: Int = 200, lang: String = "en",
      maxHamming: Int = 3, maintainEvery: Int = 0,
      maintainThresholds: graft.ml.Maintenance.Thresholds =
        graft.ml.Maintenance.Thresholds()): StreamingQuery = {
    require(schema.fieldNames.contains("doc_id")
        && schema.fieldNames.contains("text"),
      "startJsonl: schema must carry doc_id and text for the gate")
    graft.ml.Maintenance.startMaintained(
      graft.sources.JsonlCorpus.readStreamQuarantined(spark, feedDir,
        schema),
      checkpoint, maintainEvery, maintainThresholds,
      maintained(corpusPath, storePath)) { (batch, batchId) =>
      graft.sources.JsonlCorpus.rejects(batch)
        .write.mode("overwrite")
        .parquet(BatchCommit.partition(rejectsPath, batchId))
      ingestBatch(graft.sources.JsonlCorpus.goodRows(batch),
        batchId, corpusPath, storePath, minChars, lang, maxHamming)
    }
  }
}
