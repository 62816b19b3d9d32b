package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.Row

import graft.scd.Versioning

/** The reference's CDC path (E1: webhook → queue → clean → versioned
  * load, PodioApiGateway.py:111-195) as one Structured Streaming
  * pipeline.
  *
  * Semantics carried over (SURVEY.md §2.7):
  *  - T1 ingest + F2 type routing (`item.create`/`item.update` live)
  *  - T4 event coalescing: per-key last-event-wins inside each batch
  *    (the reference deletes superseded queue entries,
  *    PodioApiGateway.py:144-145)
  *  - T2/T3 retry + dead-letter: `failed_attempts >= 10` → DLQ
  *  - T5 order: per-batch event-time ordering via the SCD2 window
  *  - T6 poll cadence: 10 s processing-time trigger
  *  - T8 (extension): event-time watermark — the reference has no
  *    late-data story; we add one
  *  - W1 SCD2 merge in foreachBatch
  *
  * Exactly-once: checkpointed foreachBatch gives at-least-once batch
  * replay with idempotent merge (the merge recomputes current flags
  * from the full key history, so replaying a batch is a no-op) —
  * strictly stronger than the reference's at-least-once with manual
  * retry counters.
  *
  * Scale: the merge here rewrites the snapshot per batch, which is the
  * local-parquet stand-in for a Delta/Iceberg MERGE. At 100 TB the
  * history table is partitioned by event date and bucketed by item_id;
  * the merge touches only the partitions containing the batch's keys.
  */
object CdcPipeline {

  val liveTypes: Seq[String] = Seq("item.create", "item.update")

  /** App-level structural events (PodioApiGateway.py:161-181, 238-266:
    * `app.create`/`app.update` → re-sync the app's field schema). The
    * reference stubs the handler; here an app event triggers a catalog
    * re-crawl + [[graft.meta.Catalog.schemaDiff]] (see [[appDrift]]).
    */
  val appTypes: Seq[String] = Seq("app.create", "app.update")

  /** F2 routing + T3 split: (live events, dead-letter events). */
  def route(events: DataFrame, retryLimit: Int = 10)
      : (DataFrame, DataFrame) = {
    val dlq = events.filter(col("failed_attempts") >= retryLimit)
    val live = events.filter(col("failed_attempts") < retryLimit &&
      col("event_type").isin(liveTypes: _*))
    (live, dlq)
  }

  /** App-event split: the structural events that should trigger a
    * schema re-crawl rather than a data merge. Dead-lettered events
    * (at/over the retry limit) are excluded for the same reason
    * [[route]] excludes them from the live stream — an event the
    * pipeline has declared dead must not keep firing catalog
    * re-crawls on every replay of its batch.
    */
  def routeApp(events: DataFrame, retryLimit: Int = 10): DataFrame =
    events.filter(col("event_type").isin(appTypes: _*) &&
      col("failed_attempts") < retryLimit)

  /** The app-event action: given the previously-crawled field catalog
    * and a batch containing app events, re-crawl the catalog and emit
    * the schema drift (added/removed/retyped fields) — but ONLY when
    * the batch actually carries an app event; a no-app-event batch
    * returns an empty drift frame without touching the catalog (the
    * crawl is a metadata scan, cheap, but not free at 380-call scale —
    * reference PodioApiWrapper.py:13 re-crawls on a schedule precisely
    * because it cannot do this event-driven invalidation).
    */
  def appDrift(spark: SparkSession, dir: String, batch: DataFrame,
      before: DataFrame): DataFrame = {
    import graft.meta.Catalog
    val empty = before.limit(0)
    if (routeApp(batch).isEmpty)
      Catalog.schemaDiff(empty, empty)
    else
      Catalog.schemaDiff(before, Catalog.fields(spark, dir))
  }

  /** T4 coalescing: keep only the last event per key within the batch
    * (last-event-time-wins, tiebreak on event_id — the retry-re-enqueue
    * ordering defined in SURVEY.md §7.4).
    */
  def coalesceBatch(batch: DataFrame, key: String): DataFrame =
    Versioning.latestSnapshot(batch, key, "ts", "event_id")

  /** W1 merge: fold a coalesced batch into the existing snapshot,
    * recomputing the SCD2 current flag over the union. Idempotent for
    * replayed batches (event_id dedup first).
    */
  def mergeBatch(existing: DataFrame, batch: DataFrame, key: String)
      : DataFrame = {
    val history = existing.drop("current")
    val unioned = history.unionByName(batch.select(history.columns.map(col): _*))
      .dropDuplicates("event_id")
    Versioning.withCurrentFlag(unioned, key, "ts", "event_id")
  }

  /** The history-layout partition column for [[mergeBatchPruned]]:
    * hash-bucket of the business key. Bucket partitioning — NOT date
    * partitioning — is what makes merge-time pruning CORRECT for SCD2:
    * a key's entire version history lives in exactly one bucket
    * directory, so the current-flag recompute sees every version of
    * every affected key; date partitions would scatter one key's
    * versions across directories and a pruned read would mis-flag.
    */
  def keyBucket(key: String, nBuckets: Int)
      : org.apache.spark.sql.Column =
    pmod(hash(col(key)), lit(nBuckets)).cast("int")

  /** [[mergeBatch]] against a key-bucket-partitioned history table
    * ([[graft.sources.Layout.writePartitioned]] on [[keyBucket]]):
    * reads ONLY the partition directories holding the batch's keys —
    * `PartitionFilters` on the scan, zero row groups read elsewhere —
    * merges, and returns (merged slice, touched buckets) for
    * [[writeMergedBuckets]]. This is SURVEY §9's "the merge touches
    * only the partitions containing the batch's keys", proven by
    * MergePruneSpec against the executed plan. The driver-side bucket
    * collect is bounded by nBuckets (the same class of driver action
    * as a Delta file-skipping probe).
    */
  def mergeBatchPruned(spark: SparkSession, historyPath: String,
      batch: DataFrame, key: String, nBuckets: Int)
      : (DataFrame, Seq[Int]) = {
    val bk = keyBucket(key, nBuckets)
    val root = new org.apache.hadoop.fs.Path(historyPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // writer-lock guard: while Versioning.forget (or a maintenance
    // sweep) holds the table, this batch's read would see the staged
    // swap mid-flight (old ∪ new) and merge doubled versions — refuse
    // loudly; the checkpointed foreachBatch retries after the lock
    // clears. The residual check-to-commit window is the documented
    // limit of directory-of-parquet tables.
    graft.ml.Maintenance.refuseIfMaintaining(spark, historyPath,
      "mergeBatchPruned")
    // the bucket count IS the layout: a caller passing a different n
    // than the table was written with computes different bucket ids,
    // reads the wrong directories, and silently double-flags keys —
    // so the layout records it in a marker and mismatches fail loudly
    readNBuckets(fs, root).foreach(recorded =>
      require(recorded == nBuckets,
        s"history $historyPath is laid out with $recorded key buckets " +
          s"but the merge was asked for $nBuckets — pass the layout's " +
          "bucket count (or rewrite the history)"))
    val buckets = batch.select(bk.as("key_bucket")).distinct()
      .collect().map(_.getInt(0)).toSeq.sorted
    // absent path OR a path with no parquet data = first-ever batch:
    // empty history with the batch's shape (same absent-as-empty
    // convention as StreamingNearDup's readStore), so the pipeline can
    // bootstrap. The data-file check matters: writeMergedBuckets
    // stamps _GRAFT_NBUCKETS before the first data write, so a crash
    // in that window leaves a marker-only directory — fs.exists alone
    // would route it to spark.read.parquet, which throws 'unable to
    // infer schema' on a parquet-less dir and wedges the pipeline
    // until manual cleanup
    val history =
      if (fs.exists(root) && hasParquetData(fs, root))
        spark.read.parquet(historyPath)
          .filter(col("key_bucket").isin(buckets.map(Integer.valueOf): _*))
      else
        batch.limit(0).withColumn("key_bucket", bk)
          .withColumn("current", lit(0))
    val merged = mergeBatch(history,
      batch.withColumn("key_bucket", bk), key)
    (merged, buckets)
  }

  /** Does the tree under `root` hold at least one parquet data file?
    * Short-circuits at the first hit, so on a healthy bucketed table
    * this touches one listing page — it is NOT a full-store crawl.
    * Markers/_SUCCESS (underscore/dot names) don't count as data, and
    * neither does anything under a HIDDEN directory: a crash mid-job
    * can leave task files under `_temporary/` whose leaf names look
    * like data, but Spark's FileIndex will ignore them — counting
    * them here would route a marker-only directory away from the
    * bootstrap branch and wedge every retry on "unable to infer
    * schema".
    */
  private[streaming] def hasParquetData(
      fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Boolean = {
    val qRoot = fs.makeQualified(root)
    def visible(p: org.apache.hadoop.fs.Path): Boolean =
      p == null || p == qRoot || {
        val n = p.getName
        !n.startsWith("_") && !n.startsWith(".") && visible(p.getParent)
      }
    val it = fs.listFiles(root, true)
    while (it.hasNext) {
      val p = it.next().getPath
      if (p.getName.endsWith(".parquet") && visible(p)) return true
    }
    false
  }

  private def nBucketsMarker(root: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(root, "_GRAFT_NBUCKETS")

  private def readNBuckets(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Option[Int] =
    graft.sources.Markers.read(fs, nBucketsMarker(root)).map(_.toInt)

  /** Write a [[mergeBatchPruned]] result back: dynamic partition
    * overwrite rewrites ONLY the bucket directories present in the
    * merged slice; untouched buckets' files are never listed, read, or
    * replaced. Cut first, released after the write — the merged
    * frame's lineage reads the same path being overwritten, and a lazy
    * plan would otherwise re-read mid-write (the foreachBatch
    * read-after-append race, same cure as StreamingNearDup).
    */
  def writeMergedBuckets(merged: DataFrame, historyPath: String,
      nBuckets: Int): Unit = {
    val spark = merged.sparkSession
    // verify-or-stamp the layout's bucket count BEFORE the destructive
    // overwrite: a mismatched caller must be stopped while the data is
    // still intact, and stamping first closes the crash window where a
    // died first write would leave the layout unguarded forever. A
    // marker with no data is harmless BECAUSE mergeBatchPruned's
    // hasParquetData check routes that state to the bootstrap branch
    // (a crash between stamp and first write recovers on the next
    // merge of matching n; a mismatched one fails loudly)
    val root = new org.apache.hadoop.fs.Path(historyPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // re-check at the destructive write too (the erase could have
    // taken the lock between this batch's merge read and its write;
    // losing the batch to a loud retry beats interleaving a dynamic
    // overwrite with the staged swap — either direction corrupts)
    graft.ml.Maintenance.refuseIfMaintaining(spark, historyPath,
      "writeMergedBuckets")
    readNBuckets(fs, root) match {
      case Some(recorded) =>
        require(recorded == nBuckets,
          s"history $historyPath records $recorded key buckets; " +
            s"refusing to overwrite with $nBuckets-bucket data")
      case None =>
        graft.sources.Markers.write(fs, nBucketsMarker(root),
          nBuckets.toString)
    }
    // per-WRITER dynamic overwrite, never a session-conf toggle: two
    // pipelines sharing one SparkSession could interleave a set /
    // restore, and a writer that plans under the restored STATIC mode
    // deletes every untouched bucket of its history table — the
    // writer option binds the mode to this write alone
    graft.ml.Materialize.withCut(merged)(_
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("key_bucket")
      .parquet(historyPath))
  }

  /** T8 extension: tumbling-window event counts with a watermark. */
  def windowedCounts(events: DataFrame): DataFrame =
    events.withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))

  /** Default no-op app handler — a stable reference so `start` can
    * skip the per-batch app-event probe (an extra filter+isEmpty
    * action) entirely for data-only pipelines that never observe it.
    */
  private val noAppHandler: (DataFrame, Long) => Unit = (_, _) => ()

  /** Wire the full E1 pipeline over a streaming events frame. The
    * per-batch body delegates to the pure functions above so tests can
    * drive them without a streaming runtime.
    *
    * @param onBatch receives (coalesced live batch, dlq batch, batchId)
    * @param onAppBatch receives (app-event batch, batchId) whenever the
    *                   batch carries `app.create`/`app.update` events —
    *                   the hook where a caller re-crawls the catalog
    *                   (see [[appDrift]]); no-op default keeps data-only
    *                   pipelines unchanged
    */
  def start(streamingEvents: DataFrame, key: String,
      checkpoint: String, onBatch: (DataFrame, DataFrame, Long) => Unit,
      onAppBatch: (DataFrame, Long) => Unit = noAppHandler)
      : StreamingQuery =
    streamingEvents
      .withWatermark("ts", "10 minutes")
      .writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime("10 seconds"))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val (live, dlq) = route(batch)
        if (onAppBatch ne noAppHandler) {
          val app = routeApp(batch)
          if (!app.isEmpty) onAppBatch(app, batchId)
        }
        onBatch(coalesceBatch(live, key), dlq, batchId)
      }
      .start()
}
