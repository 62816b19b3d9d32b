package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ml.{Dedup, Materialize}

/** Streaming near-duplicate suppression — dedup for the ingest
  * firehose: every micro-batch is SimHashed, deduplicated within
  * itself, then checked against the accumulated signature store; only
  * novel documents flow on, and their signatures append to the store.
  *
  * This composes the batch operators (graft.ml.Dedup) inside
  * foreachBatch rather than reimplementing them for streaming — the
  * signature store is the only state, and it lives in a parquet table
  * (the local stand-in for a Delta/Iceberg table), NOT in streaming
  * state, so it survives restarts, is queryable, and can be compacted
  * independently (pause the stream first — see Layout.compact).
  *
  * Scale: the store carries one (doc_id, simhash) long pair per unique
  * document ever seen; the per-batch check is the banded signature
  * join (batch-side bands × store-side bands via Dedup.simhashBands,
  * the SAME banding as the batch pair finder), which touches only
  * store rows sharing a band value with the batch — not the full
  * store. Signatures are computed ONCE per batch and reused for the
  * within-batch pairs, the store check, and the store append.
  */
object StreamingNearDup {

  /** Pure per-batch core (testable without a streaming runtime):
    * returns (novel batch rows, their signatures). A doc is dropped if
    * it near-dups a smaller-doc_id batch member (greedy) or anything
    * in the store. The signature frame is cut once, reused three
    * ways, and released; the novel signatures are cut too — severed
    * from the store-read lineage so the caller can append to the store
    * without the plan re-reading it — and the caller releases that cut.
    */
  def filterNovel(batch: DataFrame, store: DataFrame, maxHamming: Int)
      : (DataFrame, DataFrame) = {
    val nb = maxHamming + 1
    val novelSigs = Materialize.withCut(Dedup.simhash(batch)) { sigs =>
      // within-batch: drop the larger id of every near-dup pair
      val withinDropped = Dedup.simhashPairsFromSigs(sigs, maxHamming)
        .select(col("j").as("doc_id")).distinct()
      val survivors =
        sigs.join(withinDropped, Seq("doc_id"), "left_anti")
      // against the store: banded candidate join + hamming verify
      val seen = Dedup.simhashBands(survivors, nb)
        .join(Dedup.simhashBands(store, nb)
          .select(col("doc_id").as("sid"), col("simhash").as("ssig"),
            col("band"), col("band_bits")),
          Seq("band", "band_bits"))
        .filter(bit_count(expr("simhash ^ ssig")) <= maxHamming)
        .select(col("doc_id")).distinct()
      Materialize.cut(survivors.join(seen, Seq("doc_id"), "left_anti"))
    }
    (batch.join(novelSigs, Seq("doc_id"), "left_semi"), novelSigs)
  }

  private[graft] val DeletedDir = "_graft_neardup_deleted"

  /** Soft-delete documents from the suppression store — the takedown
    * path the store was missing (r14 verdict item 1: every standing
    * index had a delete; this store did not, so a taken-down doc's
    * simhash kept suppressing future near-copies of text that no
    * longer exists anywhere). The shared tombstone contract verbatim
    * ([[graft.ml.Dedup.deleteFromSubstrIndex]]): an id-sized append
    * into an underscore-hidden sibling, zero store files touched,
    * idempotent on unknown/repeated ids, loud on NULL; [[readStore]]
    * masks at read, so the next ingest trigger ADMITS a near-copy of
    * the deleted text — by design: the suppression record describes
    * content the corpus no longer holds.
    */
  def deleteFromStore(spark: SparkSession, docIds: DataFrame,
      storePath: String): Unit =
    graft.ml.ServedStore.NearDupStore.delete(spark, docIds, storePath)

  /** Read the signature store (doc_id, simhash, batch_id, batch_sig),
    * [[deleteFromStore]] tombstones masked; an absent path (first run)
    * is an empty store, but any OTHER read failure propagates so the
    * checkpoint retries the batch — silently treating a
    * corrupt/unreadable store as empty would re-emit every known
    * duplicate AND pollute the store with duplicate signatures. A
    * store directory holding ONLY the tombstone sibling (a takedown
    * raced ahead of the first ingest) reads as empty like the absent
    * path — underscore-hidden dirs carry no signature rows.
    */
  def readStore(spark: SparkSession, storePath: String): DataFrame = {
    val rows = rawStore(spark, storePath)
    // takedown mask: AQE-broadcast anti-join while the tombstone set
    // stays takedown-sized (no forced hint — the shared discipline)
    graft.ml.ServedStore.NearDupStore.mask(spark, Seq(storePath), rows)
  }

  /** The store's normalized rows WITHOUT the takedown mask — the
    * schema-migration read [[readStore]] builds on, split out because
    * [[compactStore]] needs the raw view (its settled-vs-pending
    * tombstone split must see rows the mask hides).
    */
  private def rawStore(spark: SparkSession, storePath: String)
      : DataFrame = {
    val path = new org.apache.hadoop.fs.Path(storePath)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(path) && fs.listStatus(path).exists { st =>
        val n = st.getPath.getName
        !n.startsWith("_") && !n.startsWith(".")
      }) {
      // migrate stores written before the batch_id column existed:
      // -1 can never equal a real batchId, so legacy rows behave as
      // "some earlier batch" — without this, a deterministic missing-
      // column failure would retry forever on restart. mergeSchema is
      // REQUIRED for mixed old/new stores: default schema inference
      // samples one file, which would either null-fill legacy rows
      // (then the =!= filter drops them — every historical signature
      // invisible) or ignore new files' real batch_id entirely; the
      // coalesce then backfills the legacy rows' nulls. batch_sig
      // (added later still) migrates the same way but keeps null as
      // its legacy marker — null means "pre-sig row, match on id
      // alone", see processBatch.
      val raw = spark.read.option("mergeSchema", "true").parquet(storePath)
      val withBid =
        if (raw.columns.contains("batch_id"))
          raw.withColumn("batch_id", coalesce(col("batch_id"), lit(-1L)))
        else raw.withColumn("batch_id", lit(-1L))
      val withSig =
        if (withBid.columns.contains("batch_sig")) withBid
        else withBid.withColumn("batch_sig", lit(null).cast("long"))
      withSig.select("doc_id", "simhash", "batch_id", "batch_sig")
    } else {
      import spark.implicits._
      Seq.empty[(Long, Long, Long, Option[Long])]
        .toDF("doc_id", "simhash", "batch_id", "batch_sig")
    }
  }

  /** Order-independent content fingerprint of a batch (xor of per-ROW
    * hashes over doc_id AND text, folded with the row count): Spark's
    * replay of a batch id recomputes the same rows → same sig, while a
    * RECYCLED batch id after a checkpoint reset carries different
    * content → different sig. Hashing the text (not just the id) is
    * the point — the realistic reset scenario is re-feeding CORRECTED
    * documents under the same ids, which an id-only fingerprint would
    * misread as a replay and silently drop. One 1-row driver aggregate
    * per batch.
    */
  def batchSig(batch: DataFrame): Long =
    BatchCommit.fingerprint(batch, col("doc_id"), col("text"))._1

  /** Wire the stream: novel docs → onBatch, their signatures appended
    * to the store. Delivery is at-least-once, never at-most-once:
    *
    *  - onBatch runs BEFORE the store append, so a crash between the
    *    two replays a batch whose signatures are NOT yet in the store —
    *    it re-emits (duplicate emission, the at-least-once contract)
    *    instead of finding its own signatures and silently dropping
    *    every novel doc (data loss);
    *  - each appended signature carries its `batch_id`, and the store
    *    check EXCLUDES rows from the current batch id — so a replay
    *    that crashed after the append still re-emits the same novel
    *    set (its own signatures are invisible to the check) and skips
    *    the duplicate append.
    *
    * Parquet append is the non-transactional stand-in for a Delta
    * MERGE; the batch_id column is exactly the txn-id watermark those
    * formats keep internally.
    */
  def start(streamingDocs: DataFrame, storePath: String,
      checkpoint: String, maxHamming: Int,
      onBatch: (DataFrame, Long) => Unit): StreamingQuery =
    streamingDocs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, storePath, maxHamming, onBatch)
      }
      .start()

  /** The per-batch body of [[start]], separated so the replay/crash
    * contract is testable without a streaming runtime (call it twice
    * with the same batchId to simulate a post-append replay).
    */
  def processBatch(batch: DataFrame, batchId: Long, storePath: String,
      maxHamming: Int, onBatch: (DataFrame, Long) => Unit): Unit =
    processBatchWithSig(batch, batchId, storePath, maxHamming,
      (novel, bid, _) => onBatch(novel, bid))

  private[graft] val StoreCompactStageDir = "_graft_store_compact_stage"
  private[graft] val TombfilesMarker =
    graft.sources.StagedRewrite.TombfilesMarker
  private val StoreStage =
    graft.sources.StagedRewrite.SwapStage.compaction(StoreCompactStageDir)

  /** Reclaim the suppression store's takedown debt: physically rewrite
    * the store without tombstoned signatures, through the flat tiers'
    * staged uuid-file-swap ([[graft.sources.StagedRewrite.SwapStage]] —
    * crash protocol and replay convergence inherited; store reads mid-
    * apply may see a signature row twice, which every consumer
    * tolerates: the banded check distincts and the own-rows probe is
    * an existence test). The rewrite also NORMALIZES legacy
    * mixed-schema files into the current (doc_id, simhash, batch_id,
    * batch_sig) shape — pre-batch_id rows keep their -1 / null-sig
    * markers, so replay absorption semantics survive the rewrite.
    *
    * Tombstone reclaim is SETTLED-ONLY (the r14-advice substr rule
    * applied from birth): a tombstone whose doc_id has no store row is
    * a takedown that raced ahead of its signature's ingest and must
    * KEEP masking; pending ids are re-appended as a fresh file BEFORE
    * the stage commits, and the entry-pinned snapshot files are
    * recorded IN the stage (the [[TombfilesMarker]] manifest) so a
    * crash-then-replay deletes exactly the files this run applied —
    * never a tombstone appended mid-run. Single-writer maintenance op
    * (pause the delete stream). Returns the distinct tombstoned ids
    * processed from the snapshot.
    */
  def compactStore(spark: SparkSession, storePath: String): Long = {
    val root = new org.apache.hadoop.fs.Path(storePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // finish a crashed committed apply first: replay the file swap and
    // drop exactly the manifested tombstone files, then fall through
    // (post-crash tombstone appends must still be honored)
    StoreStage.replay(fs, root)
    val store = graft.ml.ServedStore.NearDupStore
    val snapshot = store.snapshot(fs, storePath)
    if (snapshot.isEmpty) return 0L
    val nDead = Materialize.withCut(store.idsIn(spark, snapshot)) { dead =>
      val n = dead.count()
      // settled/pending split against the PRE-apply raw rows (the mask
      // hides exactly the rows this question is about)
      store.reappendPending(dead, Some(rawStore(spark, storePath)),
        storePath, pin = true)
      n
    }
    // survivors (fully masked — a tombstone appended after the
    // snapshot masks rows out of the stage AND keeps its file) stage
    // durably; the uuid marker is the commit point
    StoreStage.commitFlat(fs, root, readStore(spark, storePath), snapshot)
    nDead
  }

  /** [[processBatch]] variant whose callback also receives the batch's
    * content fingerprint — so callers that need the sig themselves
    * (CorpusIngest's partition marker) don't recompute the gate scan
    * and driver aggregate a second time per trigger.
    */
  def processBatchWithSig(batch: DataFrame, batchId: Long,
      storePath: String, maxHamming: Int,
      onBatch: (DataFrame, Long, Long) => Unit): Unit = {
    val spark = batch.sparkSession
    // maintenance writer lock (r15 verdict item 4): refuse while a
    // sweep is rewriting the store files this batch would append
    // beside / dedup against
    graft.ml.Maintenance.refuseIfMaintaining(spark, storePath,
      "processBatch")
    // no store materialization: filterNovel checkpoints its OUTPUTS, so
    // no store-derived lineage survives past the append. Per-batch
    // store cost: the batch_id probe prunes on row-group stats, but
    // the banded dedup join necessarily SCANS the store (bands derive
    // from simhash — nothing pushes to parquet stats); the join then
    // touches only band-colliding rows. At scale, bound the scan by
    // partitioning the store table on band prefix — what a caching
    // localCheckpoint here would NOT fix (it re-materializes the whole
    // store per batch instead).
    val store = readStore(spark, storePath)
    // "own rows" = this batch id AND this batch's CONTENT fingerprint
    // (null sig = pre-fingerprint legacy rows, matched on id alone).
    // The content check is what distinguishes a genuine replay (same
    // id, same content → re-emit, skip the duplicate append) from a
    // RECYCLED id after a checkpoint reset (same id, different
    // content → the old rows are ordinary history and this batch's
    // novel docs still append — previously they were silently dropped,
    // at-most-zero delivery for every recycled id).
    val mySig = batchSig(batch)
    val own = col("batch_id") === batchId &&
      (col("batch_sig").isNull || col("batch_sig") === mySig)
    val alreadyAppended = !store.filter(own).isEmpty
    val (novel0, novelSigs) = filterNovel(batch,
      store.filter(!own).select("doc_id", "simhash"), maxHamming)
    try Materialize.withCut(novel0) { novel =>
      onBatch(novel, batchId, mySig)
      if (!alreadyAppended)
        novelSigs.withColumn("batch_id", lit(batchId))
          .withColumn("batch_sig", lit(mySig))
          .write.mode("append").parquet(storePath)
    } finally Materialize.release(novelSigs)
  }
}
