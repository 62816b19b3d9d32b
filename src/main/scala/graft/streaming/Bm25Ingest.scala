package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ml.Retrieval

/** Streaming BM25-index maintenance — the lexical member of the
  * streamed-index family ([[VectorIngest]] for ANN, this for
  * retrieval), live counterpart of [[Retrieval.appendBm25Index]]:
  * each micro-batch of (doc_id, text) rows is tokenized, hashed with
  * the base index's STORED bucket count, and lands in a sibling
  * `<index>_stream` table; serving reads base ∪ committed stream
  * partitions with the same term-bucket pruning, and because df and
  * the scoring scalars derive from the stored tables at query time,
  * the streamed index answers IDENTICALLY to a from-scratch rebuild
  * of the union corpus.
  *
  * Delivery is the [[BatchCommit]] at-most-once discipline (partition
  * dir per batch id, content-fingerprint marker, recycled-id
  * refusal). A BM25 batch writes TWO tables (postings + doc lengths)
  * under its partition, and the partition's `_SUCCESS` lands only
  * after the whole batch body returned — a marker after the postings
  * alone would open a crash window where a partition looks committed
  * with its doc lengths missing, silently deflating avgdl for every
  * later query.
  *
  * Scale: per-trigger work is one tokenize + two aggregates over the
  * batch plus a partitioned write — O(batch), never O(index). Stream
  * files re-bin offline via [[graft.sources.Layout.compactPartitions]]
  * or drain into the base with
  * [[Retrieval.foldStreamIntoBm25Index]] — no rebuild, batch
  * partitions become replay-ledger stubs, and the base stays
  * compactable.
  */
object Bm25Ingest {

  /** The streamed-appends sibling table of a base index (suffix
    * defined once in [[graft.ml.Similarity.StreamSiblingSuffix]] so
    * the compactors' refusal guard can never drift from it). */
  def streamPath(indexPath: String): String =
    indexPath + graft.ml.Similarity.StreamSiblingSuffix

  /** Content fingerprint of a document batch (order-insensitive). */
  def batchSig(batch: DataFrame): Long =
    BatchCommit.fingerprint(batch, col("doc_id"), col("text"))._1

  /** Pure per-batch body (testable without a streaming runtime). */
  def ingestBatch(batch: DataFrame, batchId: Long, indexPath: String)
      : Unit = {
    val spark = batch.sparkSession
    BatchCommit.committedWrite(spark, streamPath(indexPath), batchId,
      batchSig(batch),
      "point the stream at a fresh index, or re-key the existing " +
        "partitions offline", lockRoot = indexPath) { part =>
      val nBuckets = spark.read
        .parquet(s"$indexPath/${Retrieval.StatsDir}")
        .head().getAs[Int]("n_buckets")
      val (tf, dl, _) = Retrieval.corpusStats(batch)
      // postings under part/postings, doc lengths under part/docs:
      // each write owns its own subdirectory (a direct overwrite-write
      // into `part` would truncate the sibling)
      tf.withColumn("bkt",
          pmod(xxhash64(col("term")), lit(nBuckets.toLong)))
        .write.mode("overwrite").partitionBy("bkt")
        .parquet(s"$part/postings")
      dl.write.mode("overwrite").parquet(s"$part/docs")
    }
  }

  /** Wire the stream: micro-batches of (doc_id, text) append to the
    * served index's stream table, with the every-`maintainEvery`
    * batches sweep of [[graft.ml.Maintenance.startMaintained]].
    */
  def start(streamingDocs: DataFrame, indexPath: String,
      checkpoint: String, maintainEvery: Int = 0,
      maintainThresholds: graft.ml.Maintenance.Thresholds =
        graft.ml.Maintenance.Thresholds()): StreamingQuery =
    graft.ml.Maintenance.startMaintained(streamingDocs, checkpoint,
      maintainEvery, maintainThresholds, Seq(indexPath -> "bm25")) {
      (batch, batchId) => ingestBatch(batch, batchId, indexPath)
    }

  /** Wire a DELETE stream: each micro-batch of (doc_id) rows lands in
    * the base index's tombstone table
    * ([[Retrieval.deleteBm25Docs]]) — the CDC `item.delete` feed
    * applied to the index tier. No [[BatchCommit]] partition protocol
    * here, deliberately: tombstone appends are idempotent AT READ
    * (the serving mask distincts the ids), so an at-least-once replay
    * after a crash costs duplicate tombstone rows, never
    * correctness — the one streamed write where plain append IS the
    * whole delivery story. The mask covers base AND streamed
    * postings, because serving reads the tombstones against the
    * union ([[Retrieval.queryBm25IndexFrom]]) — spec-pinned for a doc
    * that arrived via a streamed append.
    */
  def startDeletes(streamingIds: DataFrame, indexPath: String,
      checkpoint: String): StreamingQuery =
    graft.ml.ServedStore.Bm25.startDeletes(streamingIds, indexPath, checkpoint)

  /** Serve top-k from base ∪ committed streamed appends (term-bucket
    * pruned on every root); falls back to the base alone before any
    * batch commits. Committed ⇔ the partition's `_SUCCESS`, written
    * after both tables landed — reading uncommitted dirs would serve a
    * partial batch ([[BatchCommit.committed]]).
    */
  def queryServed(spark: SparkSession, indexPath: String,
      queries: DataFrame, k: Int, k1: Double = 1.2, b: Double = 0.75,
      maxDf: Long = 0L): DataFrame = {
    val nBuckets = spark.read
      .parquet(s"$indexPath/${Retrieval.StatsDir}")
      .head().getAs[Int]("n_buckets")
    val sp = new org.apache.hadoop.fs.Path(streamPath(indexPath))
    val fs = sp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // folded partitions serve from the base now (see
    // VectorIngest.servePaths)
    val committed = BatchCommit.committed(fs, sp)
      .filterNot(BatchCommit.isFolded(fs, _))
    Retrieval.queryBm25IndexFrom(spark, nBuckets,
      indexPath +: committed.map(p => s"$p/postings"),
      Retrieval.docsDirFor(spark, indexPath) +:
        committed.map(p => s"$p/docs"),
      queries, k, k1, b, maxDf)
  }
}
