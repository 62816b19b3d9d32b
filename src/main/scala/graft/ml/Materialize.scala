package graft.ml

import java.util.UUID
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** THE materialization policy, in one place: every lineage cut in this
  * library, its fault-tolerance decision, its release, and the overlap
  * of independent driver-side jobs. Operators cut a frame's lineage
  * when it feeds multiple consumers whose re-derivation is expensive.
  *
  * Fault tolerance: the default is `localCheckpoint` (executor-storage
  * blocks). Its blocks die with an executor and the truncated lineage
  * cannot recompute them, so on executor loss the JOB fails and the
  * caller's retry rebuilds the cut — acceptable in local mode (the
  * executor IS the driver) and for short batch jobs. A long cluster
  * job asks for reliable cuts through its operator's `reliable`
  * parameter (`Graph.*`, `Dedup.clusters`, `Bpe.learn`) after
  * `sc.setCheckpointDir(...)`; [[cut]] then writes the frame through
  * the fault-tolerant `checkpoint`. Every other cut — query-batch-sized
  * serve-side assignments and top-k frames among them — is local: its
  * rebuild is one bounded job, and reliable snapshots of per-query
  * frames would dominate serving cost.
  *
  * Lifetime: [[release]] frees exactly the RDD a cut created;
  * [[withCut]] scopes a cut its function uses up, and
  * [[GenCheckpointer]] frees each superseded generation of a loop. A
  * cut behind a RETURNED frame stays: the caller still reads it.
  *
  * Sizing: [[cutIfBig]] gates a cut on the FILE bytes the frame's plan
  * would rescan per extra consumer (its file-relation leaves;
  * materialized RDD leaves count zero). Below 64 MB the re-derivation
  * is one sub-split parallel scan and the eager checkpoint job costs
  * more wall than it saves — the r16 bench measured +0.3-0.9 s per
  * entry from exactly these small-input cuts (ns55b/d, ns58, ns39).
  */
private[graft] object Materialize {

  /** [[cutIfBig]]'s crossover: file bytes rescanned per consumer. */
  private val MinRescanBytes = BigInt(64L << 20)

  /** [[pinByKey]]'s gate: rows per partition of the shuffle width. */
  private val MinRowsPerPartition = 2048L

  private val CallSiteShort = "callSite.short" // SparkContext.setCallSite

  /** Bytes of FILE data the frame's plan re-reads per execution: the
    * size of its file-relation leaves. In-memory leaves (localCheckpoint
    * RDDs, literal relations) are already materialized — rescanning
    * them is what a cut would buy anyway — so they contribute zero.
    */
  def rescanBytes(df: DataFrame): BigInt =
    df.queryExecution.optimizedPlan.collectLeaves().map {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        r.stats.sizeInBytes
      case _ => BigInt(0)
    }.sum

  /** Checked by every reliable cut, and up front by a loop's
    * [[GenCheckpointer]] rather than by a mid-loop crash. */
  private[ml] def requireCheckpointDir(spark: SparkSession,
      reliable: Boolean): Unit =
    require(!reliable || spark.sparkContext.getCheckpointDir.isDefined,
      "reliable=true needs sc.setCheckpointDir(...) before the loop")

  /** Cut the frame's lineage, eagerly: `checkpoint` when `reliable`,
    * `localCheckpoint` otherwise. The cut's RDD and job are named after
    * the calling site, as a direct call there would name them, so plans
    * and the Spark UI still say which operator cut.
    */
  def cut(df: DataFrame, reliable: Boolean = false): DataFrame = {
    requireCheckpointDir(df.sparkSession, reliable)
    val sc = df.sparkSession.sparkContext
    val ours = sc.getLocalProperty(CallSiteShort) == null
    if (ours) sc.setCallSite(
      s"${if (reliable) "checkpoint" else "localCheckpoint"} at $caller")
    try if (reliable) df.checkpoint(true) else df.localCheckpoint(true)
    finally if (ours) sc.setLocalProperty(CallSiteShort, null)
  }

  /** `File.scala:line` of the first frame outside this object and the
    * JDK/Scala runtime: the site Spark would have recorded. */
  private def caller: String =
    Thread.currentThread.getStackTrace.find { e =>
      val c = e.getClassName
      !c.startsWith("graft.ml.Materialize") && !c.startsWith("java.") &&
        !c.startsWith("scala.") && e.getFileName != null
    }.fold("")(e => s"${e.getFileName}:${e.getLineNumber max 0}")

  /** Free a [[cut]]: the one release routine. Ownership is exact — the
    * cut's plan is one LogicalRDD leaf wrapping the RDD its checkpoint
    * made ([[org.apache.spark.sql.graft.RddBridge]]), and only that RDD
    * is unpersisted (on the reliable path, its snapshot files deleted),
    * so cuts on other threads are never touched. A frame still reading
    * the cut fails afterwards with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND.
    */
  def release(cut: DataFrame): Unit =
    org.apache.spark.sql.graft.RddBridge.checkpointedRdd(cut).foreach { r =>
      r.getCheckpointFile.foreach { p =>
        val path = new org.apache.hadoop.fs.Path(p)
        path.getFileSystem(r.sparkContext.hadoopConfiguration)
          .delete(path, true)
      }
      r.unpersist(blocking = false) // a no-op for a reliable cut
    }

  /** [[cut]] scoped to `body`, released when `body` returns or throws:
    * only for a cut no returned or lazily persisted frame reads. */
  def withCut[A](df: DataFrame)(body: DataFrame => A): A = {
    val c = cut(df)
    try body(c) finally release(c)
  }

  /** [[cut]] only when re-deriving the frame would rescan at least
    * 64 MB of file data per extra consumer; otherwise the frame, lazy. */
  def cutIfBig(df: DataFrame): DataFrame =
    if (rescanBytes(df) >= MinRescanBytes) cut(df) else df

  /** Run each thunk on a fresh thread of its own and return the
    * results in thunk order: the driver-side jobs of independent
    * constructions overlap, so they pay the max of their walls instead
    * of the sum (guide §2.6). The threads are created on the caller's
    * thread, so each starts with a copy of the caller's Spark local
    * properties (job group, tracing keys); each thunk's jobs also carry
    * a job tag of their own. On the first failure the other thunks'
    * jobs are cancelled by tag, again on every poll until each thunk
    * has ended, and that failure is rethrown with the others'
    * failures suppressed. Every thread has ended when this returns.
    */
  def overlap[A](thunks: Seq[() => A]): Seq[A] = {
    val sc = SparkSession.active.sparkContext
    val tags = thunks.indices.map(i => s"graft-overlap-${UUID.randomUUID}")
    val out = new Array[Either[Throwable, A]](thunks.size)
    val ended = new LinkedBlockingQueue[Integer]()
    val threads = thunks.indices.map(i => new Thread(() =>
      try { sc.addJobTag(tags(i)); out(i) = Right(thunks(i)()) }
      catch { case e: Throwable => out(i) = Left(e) }
      finally ended.put(i), s"graft-overlap-$i"))
    threads.foreach { t => t.setDaemon(true); t.start() }
    var done = Vector.empty[Int] // in the order the thunks ended
    def failed = done.find(out(_).isLeft)
    def cancel(): Unit = tags.foreach(sc.cancelJobsWithTag)
    try while (done.size < thunks.size) {
      val next = if (failed.isEmpty) ended.take()
        else { cancel(); ended.poll(100, TimeUnit.MILLISECONDS) }
      if (next != null) done :+= next.intValue
    } finally {
      if (done.size < thunks.size) cancel()
      threads.foreach(_.join())
    }
    failed.foreach { f =>
      val Left(e) = out(f)
      out.foreach { case Left(o) if o ne e => e.addSuppressed(o); case _ => }
      throw e
    }
    out.toSeq.collect { case Right(a) => a }
  }

  /** Pin a loop-invariant frame in cluster storage WITH its physical
    * partitioning: persist(MEMORY_AND_DISK) + an eager count. A
    * checkpoint erases partitioning (its LogicalRDD reports
    * UnknownPartitioning — measured: every per-round join of an
    * iterative operator re-exchanged the checkpointed edge list), but
    * an InMemoryTableScan reports the CACHED plan's partitioning, so
    * per-round joins keyed on the pinned frame's partition column
    * stream it in place and only the per-round state shuffles. Unlike
    * a checkpoint the lineage is retained: block eviction or executor
    * loss RECOMPUTES the partition instead of failing the job, so the
    * pin needs no reliable-mode variant. The caller unpersists when
    * the loop's consumers are materialized.
    */
  def pin(df: DataFrame): DataFrame = {
    val p = df.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    p.count()
    p
  }

  /** [[pin]] pre-partitioned on the loop's join key — gated on the
    * caller's MEASURED row count (the upstream snapshot is already
    * materialized, so counting it is one cheap scan of storage
    * blocks). Below width · 2048 rows, the per-round exchange the
    * repartition would remove is trivial while the width-wide task
    * fan-out costs real scheduling time every round (measured: a
    * 50-row label-propagation edge list fanned to 32 near-empty tasks
    * per round) — the frame pins with its natural layout instead.
    * Above it, the repartition happens once and every round's key-equi
    * join streams the pinned rows in place.
    */
  def pinByKey(df: DataFrame, rows: Long,
      keys: Seq[org.apache.spark.sql.Column]): DataFrame = {
    val w = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    pin(if (rows >= w.toLong * MinRowsPerPartition)
      df.repartition(w, keys: _*) else df)
  }

  /** Spread a CPU-heavy projection across the cluster when its input
    * scan CANNOT: scan task count is input bytes / split size, so a
    * byte-small source (one sub-split file, a compact dimension) runs
    * whatever expensive per-row work sits above it in ONE task on an
    * otherwise idle cluster — parallelism is starved by input BYTES
    * while the cost is per-row CPU (guide §2.6, the same
    * byte-vs-CPU mismatch as the coalescing floor). When the frame's
    * file-leaf bytes are under width · maxPartitionBytes (i.e. the
    * scan could not have produced `width` splits even in the best
    * case), repartition to the session's shuffle width before the
    * heavy work; at production input sizes the gate measures TBs
    * against the same product and the call is a no-op, so the extra
    * exchange exists exactly and only in the starved regime — and
    * what it shuffles is the PRE-projection row (callers place it
    * below the expensive derivation, which then runs wide).
    */
  def widenIfStarved(df: DataFrame): DataFrame = {
    val s = df.sparkSession
    val width = s.conf.get("spark.sql.shuffle.partitions").toInt
    val maxSplit = org.apache.spark.network.util.JavaUtils
      .byteStringAsBytes(s.conf.get("spark.sql.files.maxPartitionBytes",
        (128L << 20).toString))
    if (rescanBytes(df) < BigInt(width) * maxSplit) df.repartition(width)
    else df
  }
}
