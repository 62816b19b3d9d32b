package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ml.{Dedup, Multimodal}

/** Streaming maintenance for the perceptual-hash tier — the media
  * counterpart of [[VectorIngest]], closing the one index family that
  * had only a batch increment (the r12 verdict's item 5): each
  * micro-batch of media rows is DECODED ONCE into its 60-bit
  * aHash/dHash signatures ([[graft.ml.Multimodal.perceptualHash]],
  * the same kernel as the base build, so streamed rows can never
  * drift) and lands in a sibling `<index>_stream` table; near-dup
  * questions read base ∪ committed batches from STORED hashes, never
  * re-decoding a payload.
  *
  * Delivery is the shared [[BatchCommit]] discipline verbatim:
  * at-most-once per batch id, replay absorption by content
  * fingerprint, loud refusal on a recycled id after a checkpoint
  * reset. Per-trigger work is one decode+hash pass over the batch
  * plus one partition write — O(batch), never O(index).
  */
object MediaIngest {

  /** The streamed-appends sibling table of a base phash index. */
  def streamPath(indexPath: String): String =
    VectorIngest.streamPath(indexPath)

  /** Content fingerprint of a media batch (order-insensitive; null
    * payloads hash as empty, matching the hash kernel's contract).
    * Covers every PERSISTED payload-independent column — media_type
    * lands in the hash rows verbatim, so a recycled batch id whose
    * rows kept their payloads but changed media_type must read as a
    * conflict, not a replay (r13 advice; [[VectorIngest.batchSig]]'s
    * full-persisted-row discipline). Formula-change caveat: a stream
    * whose last pre-upgrade batch committed under the OLD formula and
    * then replays post-upgrade reads as a recycled-id conflict (the
    * persisted sig no longer matches); the loud refusal is the safe
    * failure — the operator advances the checkpoint past the
    * already-committed batch rather than risking silent absorption of
    * a genuinely different batch.
    */
  def batchSig(batch: DataFrame): Long =
    BatchCommit.fingerprint(batch, col("media_id"), col("media_type"),
      expr("coalesce(payload, cast('' AS binary))"))._1

  /** Pure per-batch body (testable without a streaming runtime). */
  def ingestBatch(batch: DataFrame, batchId: Long, indexPath: String)
      : Unit =
    BatchCommit.committedWrite(batch.sparkSession,
      streamPath(indexPath), batchId, batchSig(batch),
      "point the stream at a fresh phash index, or re-key the " +
        "existing partitions offline; if this fired on the FIRST " +
        "batch after a batchSig formula upgrade (the r13 media_type " +
        "change), it is the documented replay-reads-as-conflict case " +
        "— verify the partition's rows match the batch, then advance " +
        "the stream past it by restarting with a fresh checkpoint " +
        "and startingOffsets beyond the committed batch (r14 advice)",
      lockRoot = indexPath)
      { part =>
      Multimodal.perceptualHash(batch).toDF()
        .write.mode("overwrite").parquet(part)
    }

  /** Wire the stream: micro-batches of media rows append their
    * signatures to the served index's stream table, with the
    * every-`maintainEvery` batches sweep of
    * [[graft.ml.Maintenance.startMaintained]].
    */
  def start(streamingMedia: DataFrame, indexPath: String,
      checkpoint: String, maintainEvery: Int = 0,
      maintainThresholds: graft.ml.Maintenance.Thresholds =
        graft.ml.Maintenance.Thresholds()): StreamingQuery =
    graft.ml.Maintenance.startMaintained(streamingMedia, checkpoint,
      maintainEvery, maintainThresholds, Seq(indexPath -> "phash")) {
      (batch, batchId) => ingestBatch(batch, batchId, indexPath)
    }

  /** Wire a DELETE stream: each micro-batch of (media_id) rows lands
    * in the base index's tombstone table
    * ([[graft.ml.Multimodal.deleteFromPhashIndex]]). No BatchCommit
    * partition protocol, deliberately — the [[VectorIngest
    * .startDeletes]] argument verbatim: tombstone appends are
    * idempotent AT READ (the serving mask distincts), so
    * at-least-once replay costs duplicate tombstone rows, never
    * correctness; the mask covers base AND streamed signatures.
    */
  def startDeletes(streamingIds: DataFrame, indexPath: String,
      checkpoint: String): StreamingQuery =
    graft.ml.ServedStore.Phash.startDeletes(streamingIds, indexPath, checkpoint)

  /** The stored signatures a near-dup question may read: base ∪
    * COMMITTED streamed partitions ([[VectorIngest.servePaths]]'s
    * `_SUCCESS`/fold-marker rules verbatim), tombstone-masked and
    * dedup-hardened exactly when duplicates are possible
    * ([[graft.ml.Multimodal.servedPhashRows]]).
    */
  def servedHashes(spark: SparkSession, indexPath: String): DataFrame =
    Multimodal.servedPhashRows(spark, indexPath,
      VectorIngest.servePaths(spark, indexPath))

  /** Incremental near-dup of a NEW media batch against the standing
    * index — ns66c's semantics ([[graft.ml.Dedup
    * .simhashIncrementFromSigs]] over aHashes) with the corpus side
    * read from STORED signatures: the new batch is decoded once, the
    * corpus never. Gated as ns66d on ns66c's own oracle — the served
    * union must answer exactly like a from-scratch hash pass over the
    * same corpus.
    */
  def phashIncrementServed(spark: SparkSession, indexPath: String,
      newMedia: DataFrame, maxHamming: Int, bands: Int,
      bandOccupancyCap: Int): DataFrame = {
    val newSigs = Multimodal.perceptualHash(newMedia).toDF()
      .select(col("media_id").as("doc_id"), col("ahash").as("simhash"))
    val corpusSigs = servedHashes(spark, indexPath)
      .select(col("media_id").as("doc_id"), col("ahash").as("simhash"))
    Dedup.simhashIncrementFromSigs(newSigs, corpusSigs, maxHamming,
      bands, bandOccupancyCap)
  }
}
