package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The erasure-request front door for the CRM/SCD2 world: GDPR
  * requests arrive CONTINUOUSLY (a webhook stream, a CDC topic), but
  * [[graft.scd.Versioning.forget]] is a single-writer staged rewrite
  * that must not fight the live merge stream for the history table —
  * so requests stream into a durable QUEUE table cheaply
  * (O(batch) appends, exactly-once), and the maintenance window runs
  * ONE batched forget over everything pending ([[drain]]), the
  * [[graft.ml.Maintenance.maintainEveryN]] cadence discipline applied
  * to erasure. The reference's shape is the same queue-then-apply
  * split as its event queue (PodioApiGateway.py:86's pending
  * collection), re-expressed over directory-of-parquet tables.
  *
  * Enqueue delivery is at-most-once per batch id with replay
  * absorption, the shared [[BatchCommit]] discipline: each request
  * batch owns `ingest_batch=<id>/` (committed ⇔ `_SUCCESS`), records
  * its content fingerprint, and a recycled id after a checkpoint
  * reset fails loudly.
  *
  * Drain identity is the REQUEST, not the key: pending = queued
  * (ingest_batch, key) pairs minus the `_graft_drained` marks, so a
  * key erased once, legitimately re-ingested (re-consent), and named
  * by a LATER request is erased again — dedupe on the bare key would
  * silently drop every repeat request forever. Crash anywhere
  * converges by re-running [[drain]]: a crashed forget is repaired by
  * forget's own staged-swap replay, a crash between the forget and
  * the drained mark re-erases the same pending set (removes 0 — the
  * ids are already gone) and then marks; the cascade ledger absorbs
  * the replay row by content sig.
  */
object ErasureIngest {

  /** The per-request drained marks sibling of the queue table. */
  private[graft] val DrainedDir = "_graft_drained"

  /** Content fingerprint of a request batch (order-insensitive). */
  def batchSig(batch: DataFrame, key: String): Long =
    BatchCommit.fingerprint(batch, expr(key))._1

  /** Pure per-batch enqueue body (testable without a streaming
    * runtime): distinct request keys land in the queue's
    * `ingest_batch=<id>` partition. Null keys refuse loudly — a null
    * in an erase request is a malformed request, and dropping it
    * silently would "complete" an erasure that never happened.
    */
  def enqueueBatch(batch: DataFrame, batchId: Long, queuePath: String,
      key: String): Unit = {
    val spark = batch.sparkSession
    graft.ml.Materialize.withCut(batch.select(
        when(col(key).isNotNull, col(key)).otherwise(raise_error(
          lit("enqueueBatch: null key in erase request batch")))
          .as(key))
      .distinct()) { ids =>
      BatchCommit.committedWrite(spark, queuePath, batchId,
        batchSig(ids, key),
        "point the stream at a fresh queuePath, or re-key the " +
          "existing partitions offline", lockRoot = queuePath) { part =>
        // overwrite, the sibling-ingest discipline: a crashed write
        // leaves the partition dir (no _SUCCESS) and the checkpointed
        // replay must be able to write over the debris, not die on
        // ErrorIfExists forever
        ids.write.mode("overwrite").parquet(part)
      }
    }
  }

  /** Wire the streaming front door: each micro-batch of request rows
    * (any frame with the key column) enqueues exactly-once.
    * `compactEvery` > 0 fires [[compactQueue]] every N batches INSIDE
    * foreachBatch — serialized with this stream's own enqueues (the
    * [[graft.ml.Maintenance.maintainEveryN]] discipline), so a
    * long-running request stream self-heals its own anti-join debt.
    */
  def start(requests: DataFrame, queuePath: String, key: String,
      checkpoint: String, compactEvery: Int = 0): StreamingQuery =
    requests.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime("10 seconds"))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        enqueueBatch(batch, batchId, queuePath, key)
        if (compactEvery > 0 && (batchId + 1) % compactEvery == 0) {
          compactQueue(batch.sparkSession, queuePath)
          ()
        }
      }
      .start()

  /** The maintenance-window apply: one batched
    * [[graft.scd.Versioning.forget]] over every pending request, then
    * per-request drained marks. Returns (pending requests applied,
    * rows physically removed) — a drain with nothing pending is a
    * pure no-op (no forget, no ledger row, no lock taken). Requests
    * arriving AFTER the pending read simply stay pending for the next
    * drain. No lock is needed between the stream and the drain: the
    * drain reads only COMMITTED partitions, and a committed partition
    * is never rewritten by the enqueue (an uncommitted one — which
    * the replay's overwrite DOES rewrite — is invisible here).
    */
  def drain(spark: SparkSession, queuePath: String,
      targets: graft.scd.Versioning.ForgetTargets,
      key: String = "item_id", ledgerPath: Option[String] = None,
      breakStaleLock: Boolean = false): (Long, Long) = {
    val root = new org.apache.hadoop.fs.Path(queuePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // COMMITTED partitions only: an uncommitted one is a crashed
    // write whose checkpointed replay overwrites it — reading it
    // would apply a torn batch and race the overwrite mid-scan (the
    // committed-only read is what makes the enqueue/drain pair
    // lock-free); an emptied one (compacted to its replay markers)
    // holds no data and would break schema inference, and an absent
    // or fully-compacted queue has nothing pending
    val parts = BatchCommit.committed(fs, root)
      .filter(BatchCommit.holdsData(fs, _))
    if (parts.isEmpty) return (0L, 0L)
    val queued = spark.read.option("basePath", queuePath)
      .parquet(parts.map(_.toString): _*)
      .select(col("ingest_batch"), col(key))
    val drainedPath = new org.apache.hadoop.fs.Path(root, DrainedDir)
    val haveMarks = fs.exists(drainedPath) &&
      CdcPipeline.hasParquetData(fs, drainedPath)
    graft.ml.Materialize.withCut(if (haveMarks)
        queued.join(spark.read.parquet(drainedPath.toString)
            .select(col("ingest_batch"), col(key)),
          Seq("ingest_batch", key), "left_anti")
      else queued) { pending =>
      val nPending = pending.count()
      if (nPending == 0L) (0L, 0L)
      else {
        // the ledger tag is the pending REQUEST batches: a replay
        // recomputes the same pending set → same tag → the cascade row
        // absorbs; a later re-request arrives in a new batch → new tag
        // → a distinct audit row proves it was honored
        val reqTag =
          if (ledgerPath.isEmpty) ""
          else pending.select(col("ingest_batch").cast("long"))
            .distinct().collect().map(_.getLong(0)).sorted.mkString(",")
        val removed = graft.scd.Versioning.forget(spark,
          pending.select(col(key)), targets, key, breakStaleLock,
          ledgerPath, ledgerTag = reqTag)
        // drained marks LAST (after every table's swap landed),
        // PARTITIONED by the request batch so [[compactQueue]] reclaims
        // a batch's marks by whole-directory deletion (atomic per batch
        // — a rewrite of a flat marks table could lose marks mid-crash,
        // and a lost mark re-erases a key nobody re-requested). Pending
        // is anti-joined against the marks by construction, so a plain
        // append cannot duplicate; keyed by request so replays absorb
        // and later re-requests stay pending.
        pending.write.mode("append").partitionBy("ingest_batch")
          .parquet(drainedPath.toString)
        (nPending, removed)
      }
    }
  }

  /** The queue's maintenance debt: request batches fully applied but
    * still read by every [[drain]] (`reclaimableBatches` — their rows
    * are pure anti-join mass), mark directories whose batch data is
    * already gone (`orphanMarkDirs` — a crashed sweep's residue), and
    * the total drained-mark rows every pending computation pays
    * (`drainedMarkRows`). One column-pruned count per side plus two
    * directory listings — the [[graft.ml.Maintenance.compactionDebt]]
    * cost class; the axes differ from the index families' (drained
    * marks are not masking tombstones, they are applied-work
    * receipts), which is why the queue measures its own.
    */
  final case class QueueDebt(reclaimableBatches: Long,
      orphanMarkDirs: Long, drainedMarkRows: Long)

  def queueDebt(spark: SparkSession, queuePath: String): QueueDebt = {
    val root = new org.apache.hadoop.fs.Path(queuePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return QueueDebt(0L, 0L, 0L)
    val (queuedBatches, pendingBatches) = batchSets(spark, fs, root)
    val drainedPath = new org.apache.hadoop.fs.Path(root, DrainedDir)
    val markDirs = BatchCommit.partitions(fs, drainedPath)
      .map(BatchCommit.batchIdOf).toSet
    val markRows =
      if (!fs.exists(drainedPath) ||
          !CdcPipeline.hasParquetData(fs, drainedPath)) 0L
      else spark.read.parquet(drainedPath.toString).count()
    QueueDebt((queuedBatches -- pendingBatches).size.toLong,
      (markDirs -- queuedBatches).size.toLong, markRows)
  }

  /** Physical reclaim for the erasure queue: without it, a year of
    * streamed requests makes every drain re-read (and anti-join away)
    * every batch ever applied. Fully-drained request partitions are
    * EMPTIED to their replay markers — data files deleted,
    * `_SUCCESS`/`_GRAFT_BATCH_SIG` preserved, the compactCorpus
    * discipline, so a replayed batch id keeps absorbing and a
    * recycled one keeps refusing — and then mark directories whose
    * batch data is gone are deleted whole. Ordering makes every
    * crash point converge by re-running: a partly-emptied batch still
    * has zero pending rows (its survivors are all marked) so it
    * finishes next sweep; marks are only deleted AFTER their batch
    * holds no data, so a mark can never vanish while its rows could
    * re-enter pending. Runs under the queue's `_graft_maintaining`
    * writer lock — concurrent enqueues refuse loudly for the sweep's
    * duration (the [[BatchCommit]] guard); a concurrent [[drain]] is
    * safe by construction (it never marks a fully-drained batch and
    * never reads reclaimed marks' rows) but the single-maintenance
    * contract still applies. Returns (batches emptied, mark
    * directories reclaimed).
    */
  def compactQueue(spark: SparkSession, queuePath: String,
      breakStaleLock: Boolean = false): (Long, Long) = {
    val root = new org.apache.hadoop.fs.Path(queuePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return (0L, 0L)
    if (breakStaleLock) graft.ml.Maintenance.clearWriterLock(fs, root)
    graft.ml.Maintenance.withWriterLock(fs, root, "compactQueue") {
      val (queuedBatches, pendingBatches) = batchSets(spark, fs, root)
      val fully = (queuedBatches -- pendingBatches).toSeq.sorted
      BatchCommit.dropToStub(fs, fully.map(b =>
        new org.apache.hadoop.fs.Path(
          BatchCommit.partition(root.toString, b))))
      val drainedPath = new org.apache.hadoop.fs.Path(root, DrainedDir)
      val orphans = (BatchCommit.partitions(fs, drainedPath)
        .map(BatchCommit.batchIdOf).toSet --
        (queuedBatches -- fully.toSet)).toSeq.sorted
      orphans.foreach { b =>
        fs.delete(new org.apache.hadoop.fs.Path(
          BatchCommit.partition(drainedPath.toString, b)), true)
        ()
      }
      (fully.size.toLong, orphans.size.toLong)
    }
  }

  /** (batches holding data, batches with ≥1 undrained row) — the
    * fully-drained set is their difference. Bounded driver action:
    * one row per request batch.
    */
  private def batchSets(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): (Set[Long], Set[Long]) = {
    // the drain's read: committed partitions still holding data
    val parts = BatchCommit.committed(fs, root)
      .filter(BatchCommit.holdsData(fs, _))
    if (parts.isEmpty) return (Set.empty, Set.empty)
    val queued = spark.read.option("basePath", root.toString)
      .parquet(parts.map(_.toString): _*)
    // cast: partition-value inference may type small batch ids as INT
    val queuedBatches = queued.select(col("ingest_batch").cast("long"))
      .distinct().collect().map(_.getLong(0)).toSet
    val drainedPath = new org.apache.hadoop.fs.Path(root, DrainedDir)
    val key = queued.columns.filter(_ != "ingest_batch") match {
      case Array(k) => k
      case other => throw new IllegalStateException(
        s"erasure queue $root holds columns ${other.mkString(",")} — " +
          "expected exactly one key column beside ingest_batch")
    }
    val pendingBatches = (if (fs.exists(drainedPath) &&
        CdcPipeline.hasParquetData(fs, drainedPath))
      queued.join(spark.read.parquet(drainedPath.toString)
          .select(col("ingest_batch"), col(key)),
        Seq("ingest_batch", key), "left_anti")
    else queued)
      .select(col("ingest_batch").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet
    (queuedBatches, pendingBatches)
  }
}
