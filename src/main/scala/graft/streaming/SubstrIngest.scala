package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ml.Dedup

/** Streaming maintenance of the ExactSubstr shingle-hash index — the
  * dedup member of the streamed-index family ([[VectorIngest]] for
  * ANN, [[Bm25Ingest]] for retrieval): each micro-batch of (doc_id,
  * text) rows appends its shingle hashes through
  * [[Dedup.appendSubstrIndex]], so the standing index keeps up with a
  * live crawl and every NEW batch's duplicated-span report
  * ([[Dedup.exactSubstrIncrement]]) stays a batch-sized computation.
  *
  * Delivery is deliberately WITHOUT the [[BatchCommit]] partition
  * protocol — the simplest member of the family, because the index's
  * read side aggregates min(doc_id) per hash, which makes duplicated
  * append rows invisible (the streamed-tombstone idempotence
  * argument). The only crash window that matters is ordering:
  * [[Dedup.appendSubstrIndex]] lands index rows FIRST and the
  * indexed-docs sibling LAST, so on replay
  *  - docs sibling absent for the batch → the whole batch re-applies
  *    (index rows duplicate, harmlessly);
  *  - docs sibling present → the batch fully landed → idempotent
  *    no-op (detected here, since the append's own monotone guard
  *    would reject the replay loudly);
  *  - PARTIAL doc overlap can only mean a corrupt feed (ids recycled
  *    across batches) → loud failure, never silent double-indexing.
  *
  * Per-trigger work is one shingle pass over the batch plus two
  * appends — O(batch), never O(index). Duplicate rows are compaction
  * debt ([[Dedup.compactSubstrIndex]]); pause the stream to compact.
  */
object SubstrIngest {

  /** Batch admission state, from ONE column-pruned scan of the
    * indexed-docs sibling (per-trigger cost must not grow a second
    * index pass): the broadcast batch-id probe yields the overlap
    * count and the global max in the same aggregate.
    */
  private def batchStatus(batch: DataFrame, indexPath: String)
      : (Long, Long, Long) = {
    val spark = batch.sparkSession
    val ids = batch.select(col("doc_id")).distinct()
    val nBatch = ids.count()
    if (nBatch == 0L) return (0L, 0L, Long.MinValue)
    val st = spark.read
      .parquet(s"$indexPath/${Dedup.SubstrDocsDir}")
      .join(broadcast(ids.withColumn("_m", lit(1))),
        Seq("doc_id"), "left")
      .agg(max(col("doc_id")).as("mx"), count(col("_m")).as("nSeen"))
      .head()
    require(!st.isNullAt(0),
      s"SubstrIngest: the index's docs sibling at $indexPath is " +
        "empty — build the base index with writeSubstrIndex first")
    (nBatch, st.getLong(1), st.getLong(0))
  }

  /** True iff the batch still needs applying: empty and fully-landed
    * batches return false (the replay no-op), a PARTIAL id overlap
    * fails loudly. A partial overlap has two possible causes and the
    * error says so: a recycled id in the feed (data bug), or a torn
    * multi-file docs-sibling append from a crash mid-commit (repair:
    * delete the partial batch's doc rows, or rebuild) — the stream
    * cannot distinguish them, and silently picking either answer
    * would corrupt the index for the other.
    */
  private def isFreshBatch(nBatch: Long, nSeen: Long,
      indexPath: String): Boolean = {
    if (nBatch == 0L || nSeen == nBatch) return false
    require(nSeen == 0L,
      s"SubstrIngest: $nSeen of $nBatch batch doc_ids are already " +
        s"indexed at $indexPath — either the feed recycled ids, or a " +
        "crash tore a docs-sibling append mid-commit; refusing to " +
        "double-index (remove the partial batch's doc rows or " +
        "rebuild the index)")
    true
  }

  /** Pure per-batch body (testable without a streaming runtime). */
  def ingestBatch(batch: DataFrame, indexPath: String): Unit = {
    val (nBatch, nSeen, maxIndexed) = batchStatus(batch, indexPath)
    if (isFreshBatch(nBatch, nSeen, indexPath))
      Dedup.appendSubstrIndexAt(batch.sparkSession, batch, indexPath,
        maxIndexed)
  }

  /** The full online-dedup batch body: the batch's duplicated-span
    * report (against everything indexed so far, plus within-batch)
    * lands under `reportPath/ingest_batch=<id>/` BEFORE the batch is
    * appended — so the report always describes the batch against the
    * pre-batch corpus, and the write order makes every crash window
    * safe: report-then-crash replays recompute the identical report
    * (same pre-state — the index hasn't advanced) into the same
    * partition (overwrite, idempotent), and a fully-landed batch
    * skips both halves.
    */
  def reportAndIngestBatch(batch: DataFrame, batchId: Long,
      indexPath: String, reportPath: String): Unit = {
    val (nBatch, nSeen, maxIndexed) = batchStatus(batch, indexPath)
    if (isFreshBatch(nBatch, nSeen, indexPath)) {
      val spark = batch.sparkSession
      Dedup.exactSubstrIncrementAt(spark, batch, indexPath, maxIndexed)
        .write.mode("overwrite")
        .parquet(BatchCommit.partition(reportPath, batchId))
      Dedup.appendSubstrIndexAt(spark, batch, indexPath, maxIndexed)
    }
  }

  /** Wire the stream: micro-batches of (doc_id, text) append to the
    * standing index. The feed must be id-monotone across batches (the
    * index's contract — enforced per batch by the append's guard).
    */
  def start(streamingDocs: DataFrame, indexPath: String,
      checkpoint: String): StreamingQuery =
    streamingDocs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        ingestBatch(batch, indexPath)
      }
      .start()

  /** Wire a DELETE stream: each micro-batch of (doc_id) rows lands in
    * the base index's tombstone table
    * ([[Dedup.deleteFromSubstrIndex]]) — the takedown feed every
    * other standing index already had ([[VectorIngest.startDeletes]],
    * [[MediaIngest.startDeletes]]). No [[BatchCommit]] partition
    * protocol, deliberately — the shared argument verbatim: tombstone
    * appends are idempotent AT READ (the increment mask distincts),
    * so at-least-once replay costs duplicate tombstone rows, never
    * correctness. The ingest stream's reports pick the takedown up on
    * their NEXT trigger (the mask snapshot is per read); deleted ids
    * stay in the docs sibling, so the monotone guard keeps refusing
    * recycled ids forever.
    */
  def startDeletes(streamingIds: DataFrame, indexPath: String,
      checkpoint: String): StreamingQuery =
    graft.ml.ServedStore.Substr.startDeletes(streamingIds, indexPath, checkpoint)

  /** Wire the ONLINE-DEDUP loop: every micro-batch is span-reported
    * against the standing corpus, then indexed — the live form of
    * "dedup the new crawl against everything seen so far".
    */
  def startWithReports(streamingDocs: DataFrame, indexPath: String,
      reportPath: String, checkpoint: String): StreamingQuery =
    streamingDocs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        reportAndIngestBatch(batch, batchId, indexPath, reportPath)
      }
      .start()
}
