package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.meta.Expectations
import graft.meta.Expectations.Check

/** Streaming data-quality monitoring — [[Expectations]] run against
  * every micro-batch, producing an append-only per-batch report
  * series (the quality TIME SERIES an on-call reads when a feed goes
  * bad: "completeness dropped below threshold at batch 512"). The
  * reference validates per record inside its consumer; here each
  * trigger costs one aggregation pass over the delta regardless of
  * how many checks the suite carries, and history is never rescanned.
  *
  * Exactly-once for an append-only series is SIMPLER than for
  * mergeable state (no double-count hazard — a batch's report is a
  * pure function of its content), so the discipline is:
  *
  *  - each batch's report writes to its own `batch_id=N` directory,
  *    then a root marker records (batchId, content fingerprint);
  *  - a replay with the same id+fingerprint is absorbed (directory
  *    rewritten idempotently — same content, same report);
  *  - the same or an older id with DIFFERENT content is a checkpoint
  *    reset recycling ids over a live series; appending would
  *    interleave two histories, so it fails loudly;
  *  - a crash between directory write and marker write self-heals:
  *    the replayed batch overwrites the orphan directory and then
  *    advances the marker.
  */
object StreamingExpectations {

  private val MarkerName = "_GRAFT_LAST_BATCH"

  private def fs(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Content fingerprint over ALL columns of the batch (a quality
    * report depends on every column a check might read).
    */
  def batchSig(batch: DataFrame): Long = sigAndCount(batch)._1

  /** One aggregate pass yields BOTH the fingerprint and the row count
    * — monitorBatch needs both, and a separate batch.count() would be
    * a third full scan of every trigger's delta.
    */
  private def sigAndCount(batch: DataFrame): (Long, Long) =
    BatchCommit.fingerprint(batch,
      batch.columns.toSeq.map(c => col(s"`$c`")): _*)

  private def lastMarker(spark: SparkSession, outPath: String)
      : Option[(Long, Long)] =
    graft.sources.Markers.read(fs(spark, new Path(outPath)),
      new Path(outPath, MarkerName))
      .map { s =>
        val Array(id, sig) = s.split(':')
        (id.toLong, sig.toLong)
      }

  /** Pure per-batch body (testable without a streaming runtime):
    * evaluate the suite on this batch, append the report row-group
    * under `batch_id=N`, advance the marker.
    */
  def monitorBatch(batch: DataFrame, batchId: Long, outPath: String,
      checks: Seq[Check]): Unit = {
    val spark = batch.sparkSession
    val (sig, nRows) = sigAndCount(batch)
    lastMarker(spark, outPath) match {
      case Some((lastId, lastSig)) if batchId == lastId && sig == lastSig =>
        return // genuine foreachBatch replay — report already written
      case Some((lastId, _)) if batchId <= lastId =>
        throw new IllegalStateException(
          s"series $outPath is at batch $lastId but batch $batchId " +
            "arrived with different content: a checkpoint reset " +
            "recycled batch ids over a live report series — point the " +
            "stream at a fresh outPath")
      case _ => ()
    }
    val report = Expectations.run(batch, checks)
      // context column for rate-style reading; the count rode along
      // in the fingerprint aggregate — no extra batch scan
      .withColumn("batch_rows", lit(nRows))
    val dir = new Path(outPath, s"batch_id=$batchId")
    // overwrite, not error-if-exists: a crash after this write but
    // before the marker leaves an orphan directory that this replay
    // legitimately rewrites (same content → byte-same report)
    report.write.mode("overwrite").parquet(dir.toString)
    graft.sources.Markers.write(fs(spark, new Path(outPath)),
      new Path(outPath, MarkerName), s"$batchId:$sig")
  }

  /** The accumulated quality series (batch_id recovered from the
    * partition directory); None before the first committed batch.
    */
  def read(spark: SparkSession, outPath: String): Option[DataFrame] = {
    val p = new Path(outPath)
    if (lastMarker(spark, outPath).isEmpty) None
    else Some(spark.read
      .option("basePath", outPath).parquet(p.toString + "/batch_id=*"))
  }

  /** Batches in which at least one check failed — the alert feed. */
  def failures(spark: SparkSession, outPath: String)
      : Option[DataFrame] =
    read(spark, outPath).map(_.filter(!col("passed")))

  /** Wire the monitor onto a stream. */
  def start(events: DataFrame, outPath: String, checkpoint: String,
      checks: Seq[Check]): org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        monitorBatch(batch, batchId, outPath, checks)
      }
      .start()
}
