package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ml.Similarity

/** Streaming ANN-index maintenance — the live counterpart of
  * [[graft.ml.Similarity.appendIvfIndex]], completing the triad of
  * streaming incremental surfaces (StreamingAgg for aggregates,
  * StreamingNearDup/CorpusIngest for dedup, this for similarity):
  * each micro-batch of (vec_id, embedding) rows is assigned to the
  * base index's STORED centroids and lands cell-partitioned in a
  * sibling `<index>_stream` table; serving reads base ∪ stream with
  * the same partition-pruned probes.
  *
  * Delivery is at-most-once per batch id with replay absorption, the
  * [[BatchCommit]] ledger every streamed table shares: every batch
  * owns the partition directory `ingest_batch=<id>/` (committed ⇔
  * `_SUCCESS` exists) and records its content fingerprint in a
  * `_GRAFT_BATCH_SIG` marker. A genuine replay (same id, same
  * content, already committed) is skipped; a RECYCLED id after a
  * checkpoint reset (same id, different content) fails loudly instead
  * of silently dropping or duplicating vectors. Serving reads the
  * ledger's committed, un-folded partitions ([[servePaths]], composed
  * from [[BatchCommit]]'s listing and predicates).
  *
  * Scale: per-trigger work is one broadcast-centroid assignment over
  * the batch plus one partitioned write — O(batch), never O(index).
  * The stream table accumulates one small file set per trigger;
  * re-bin offline with [[graft.sources.Layout.compactPartitions]]
  * (per-partition, preserving the `ingest_batch=` idempotence keys)
  * or drain into the base with
  * [[graft.ml.Similarity.foldStreamIntoIvfIndex]] — no refit, batch
  * partitions become replay-ledger stubs, and the base stays
  * compactable.
  */
object VectorIngest {

  /** The streamed-appends sibling table of a base index. */
  def streamPath(indexPath: String): String =
    indexPath + Similarity.StreamSiblingSuffix

  /** Content fingerprint of a vector batch (order-insensitive). */
  def batchSig(batch: DataFrame): Long =
    BatchCommit.fingerprint(batch, col("vec_id"), col("embedding"))._1

  /** Pure per-batch body (testable without a streaming runtime). */
  def ingestBatch(batch: DataFrame, batchId: Long, indexPath: String)
      : Unit =
    committedBatchWrite(batch, batchId, indexPath) { (b, part) =>
      val cents = b.sparkSession
        .read.parquet(s"$indexPath/_graft_centroids")
      Similarity.assignCells(b, cents)
        .select(col("vec_id"), col("e"), col("nrm"), col("cell"))
        .write.mode("overwrite").partitionBy("cell").parquet(part)
    }

  /** [[ingestBatch]] for a PQ-quantized base index
    * ([[graft.ml.Similarity.writeIvfPqIndex]]): the batch is assigned
    * AND encoded against the base's stored centroids + codebook, so
    * streamed appends land as (vec_id, codes, rnrm) cell partitions —
    * per-trigger bytes shrink with the same ~8×-vs-SQ8 factor as the
    * base, and serving stays pure-function-of-the-stored-models.
    */
  def ingestBatchPq(batch: DataFrame, batchId: Long, indexPath: String)
      : Unit =
    committedBatchWrite(batch, batchId, indexPath) { (b, part) =>
      val spark = b.sparkSession
      val cents = spark.read.parquet(s"$indexPath/_graft_centroids")
      val codebook = spark.read.parquet(s"$indexPath/_graft_pq_codebook")
      val nSub = codebook.agg((max(col("sub")) + 1).cast("int").as("n"))
        .head().getInt(0)
      Similarity.assignCells(b, cents).select(col("vec_id"), col("cell"))
        .join(Similarity.pqEncode(b, codebook, nSub), Seq("vec_id"))
        .select(col("vec_id"), col("codes"), col("rnrm"), col("cell"))
        .write.mode("overwrite").partitionBy("cell").parquet(part)
    }

  /** The at-most-once-per-batch-id commit discipline ([[BatchCommit]],
    * shared by every streamed table): partition dir ownership,
    * `_SUCCESS` ⇔ committed, content-fingerprint marker, recycled-id
    * refusal.
    */
  private def committedBatchWrite(batch: DataFrame, batchId: Long,
      indexPath: String)(write: (DataFrame, String) => Unit): Unit =
    BatchCommit.committedWrite(batch.sparkSession,
      streamPath(indexPath), batchId, batchSig(batch),
      "point the stream at a fresh index, or re-key the existing " +
        "partitions offline", lockRoot = indexPath) { part =>
      write(batch, part)
    }

  /** [[ingestBatch]] for a BINARY (sign-bit) base index
    * ([[graft.ml.Similarity.writeBinaryIndex]]): the batch packs with
    * the base's STORED dim through the shared
    * [[Similarity.packForBinaryIndex]] body, so streamed rows can
    * never drift from the build's packing. The base is a flat table,
    * so batches land as flat (vec_id, bits) files under the
    * `ingest_batch=` partition — 8 bytes a vector at dim 64, the
    * cheapest streamed tier of the ladder. Serving reads base ∪
    * committed batches ([[queryServedBinary]]); draining is
    * [[Similarity.foldStreamIntoBinaryIndex]]'s staged rewrite.
    */
  def ingestBatchBinary(batch: DataFrame, batchId: Long,
      indexPath: String): Unit =
    committedBatchWrite(batch, batchId, indexPath) { (b, part) =>
      val dim = b.sparkSession
        .read.parquet(s"$indexPath/${Similarity.BinStatsDir}")
        .head().getAs[Int]("dim")
      Similarity.packForBinaryIndex(b, dim)
        .write.mode("overwrite").parquet(part)
    }

  /** Wire the stream: micro-batches of (vec_id, embedding) append to
    * the served index's stream table, with the every-`maintainEvery`
    * batches sweep of [[graft.ml.Maintenance.startMaintained]].
    */
  def start(streamingVecs: DataFrame, indexPath: String,
      checkpoint: String, maintainEvery: Int = 0,
      maintainThresholds: graft.ml.Maintenance.Thresholds =
        graft.ml.Maintenance.Thresholds()): StreamingQuery =
    graft.ml.Maintenance.startMaintained(streamingVecs, checkpoint,
      maintainEvery, maintainThresholds, Seq(indexPath -> "ivf")) {
      (batch, batchId) => ingestBatch(batch, batchId, indexPath)
    }

  /** [[start]] against a PQ-quantized base index (the "ivf" family:
    * PQ shares the IVF cell layout, tombstone table, fold, and
    * compactor).
    */
  def startPq(streamingVecs: DataFrame, indexPath: String,
      checkpoint: String, maintainEvery: Int = 0,
      maintainThresholds: graft.ml.Maintenance.Thresholds =
        graft.ml.Maintenance.Thresholds()): StreamingQuery =
    graft.ml.Maintenance.startMaintained(streamingVecs, checkpoint,
      maintainEvery, maintainThresholds, Seq(indexPath -> "ivf")) {
      (batch, batchId) => ingestBatchPq(batch, batchId, indexPath)
    }

  /** [[start]] against a binary (sign-bit) base index. */
  def startBinary(streamingVecs: DataFrame, indexPath: String,
      checkpoint: String, maintainEvery: Int = 0,
      maintainThresholds: graft.ml.Maintenance.Thresholds =
        graft.ml.Maintenance.Thresholds()): StreamingQuery =
    graft.ml.Maintenance.startMaintained(streamingVecs, checkpoint,
      maintainEvery, maintainThresholds, Seq(indexPath -> "binary")) {
      (batch, batchId) => ingestBatchBinary(batch, batchId, indexPath)
    }

  /** Serve binary top-k from base ∪ committed streamed appends —
    * bit-identical to a from-scratch [[Similarity.writeBinaryIndex]]
    * over the union corpus (VectorIngestSpec pins it): sign bits are
    * a pure per-row function of the vector and the stored dim, so
    * there is no cross-row state a fold could change.
    */
  def queryServedBinary(spark: SparkSession, indexPath: String,
      embeddings: DataFrame, queryIds: DataFrame, k: Int, refine: Int)
      : DataFrame =
    Similarity.binaryTopKServedFrom(spark, indexPath,
      servePaths(spark, indexPath), embeddings, queryIds, k, refine)

  /** Wire a DELETE stream: each micro-batch of (vec_id) rows lands in
    * the base index's tombstone table
    * ([[Similarity.deleteFromIvfIndex]]) — works unchanged for raw
    * and PQ bases, since both serve through the same mask. No
    * [[BatchCommit]] partition protocol, deliberately: tombstone
    * appends are idempotent AT READ (the serving mask distincts), so
    * at-least-once replay costs duplicate tombstone rows, never
    * correctness. The mask covers base AND streamed partitions
    * (serving reads it against the union) — spec-pinned for a vector
    * that arrived via a streamed append.
    */
  def startDeletes(streamingIds: DataFrame, indexPath: String,
      checkpoint: String): StreamingQuery =
    graft.ml.ServedStore.Ivf.startDeletes(streamingIds, indexPath, checkpoint)

  /** Serve top-k from base ∪ streamed appends (partition-pruned on
    * both); falls back to the base alone before any batch commits.
    */
  def queryServed(spark: SparkSession, indexPath: String,
      queries: DataFrame, cents: DataFrame, k: Int, probes: Int)
      : DataFrame =
    Similarity.queryIvfIndexPaths(spark, servePaths(spark, indexPath),
      queries, cents, k, probes)

  /** [[queryServed]] for a PQ base: ADC over base ∪ streamed codes,
    * exact re-score from `rescoreFrom` (the raw embedding store).
    */
  def queryServedPq(spark: SparkSession, indexPath: String,
      queries: DataFrame, rescoreFrom: DataFrame, k: Int, refine: Int,
      probes: Int): DataFrame =
    Similarity.queryIvfPqIndexPaths(spark, servePaths(spark, indexPath),
      queries, rescoreFrom, k, refine, probes)

  /** The paths the serving joins may read: the base index plus only
    * the COMMITTED streamed partitions ([[BatchCommit.committed]]) —
    * reading the whole stream table would serve a partial batch from
    * a write that died during job commit.
    */
  private[streaming] def servePaths(spark: SparkSession,
      indexPath: String): Seq[String] = {
    val sp = new org.apache.hadoop.fs.Path(streamPath(indexPath))
    val fs = sp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a folded partition's rows live in the base now, or are in
    // transit: the IVF/BM25 folds flip the marker BEFORE the move, the
    // binary fold moves FIRST and flips after (its reader dedups on
    // vec_id, so the overlap window is safe) — either way a marked
    // partition must not be served from here or it would double-count
    indexPath +: BatchCommit.committed(fs, sp)
      .filterNot(BatchCommit.isFolded(fs, _)).map(_.toString)
  }
}
