package graft.ml

import org.apache.spark.sql.DataFrame

/** THE materialization-cut policy, in one place (r16 verdict items
  * 2-4/6). Operators cut a frame's lineage when it feeds multiple
  * consumers whose re-derivation is expensive; this object decides
  * HOW (fault tolerance) and WHEN (size) a cut happens.
  *
  * Fault tolerance — the single documented decision for every cut in
  * this library: the default is `localCheckpoint` (executor-storage
  * blocks). Its blocks die with an executor and the truncated lineage
  * cannot recompute them, so on executor loss the JOB fails and the
  * caller's retry rebuilds the cut — acceptable in local mode (the
  * executor IS the driver) and for short batch jobs, where a retry
  * costs one re-run. A long cluster job that cannot afford job-level
  * retries opts into reliable cuts by setting
  * `spark.graft.cut.reliable=true` AND `sc.setCheckpointDir(...)`;
  * [[cut]] then routes through the fault-tolerant `checkpoint`, which
  * survives executor loss at the price of writing the frame to the
  * checkpoint FS. Query-batch-sized cuts (serve-side assignments,
  * top-k frames) stay on bare `localCheckpoint` deliberately: their
  * rebuild is one bounded job and reliable snapshots of per-query
  * frames would dominate serving cost.
  *
  * Sizing — [[cutIfBig]] gates a cut on the FILE bytes the frame's
  * plan would rescan per extra consumer (the sum of its file-relation
  * leaves; already-materialized RDD leaves rescan from storage and
  * count zero). Below `spark.graft.cut.minRescanBytes` (default
  * 64 MB) the re-derivation is one sub-split parallel scan and the
  * eager checkpoint job costs more wall than it saves — the r16 bench
  * measured +0.3-0.9 s per entry from exactly these small-input cuts
  * (ns55b/d, ns58, ns39) — so the frame stays lazy; above it the cut
  * proceeds, and the threshold is conf-settable so a deployment can
  * move the crossover without a rebuild.
  */
private[graft] object Materialize {

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

  /** Cut the frame's lineage per the central fault-tolerance policy
    * above: reliable `checkpoint` when opted in, `localCheckpoint`
    * otherwise. Both are eager.
    */
  def cut(df: DataFrame): DataFrame = {
    val s = df.sparkSession
    val reliable =
      s.conf.get("spark.graft.cut.reliable", "false") == "true" &&
        s.sparkContext.getCheckpointDir.isDefined
    if (reliable) df.checkpoint(true) else df.localCheckpoint(true)
  }

  /** [[cut]] gated on measured input size (see the sizing policy
    * above): materialize only when re-deriving the frame would rescan
    * at least `spark.graft.cut.minRescanBytes` of file data per extra
    * consumer; otherwise return the frame unchanged (lazy).
    */
  def cutIfBig(df: DataFrame): DataFrame = {
    val minBytes = BigInt(df.sparkSession.conf
      .get("spark.graft.cut.minRescanBytes", (64L << 20).toString))
    if (rescanBytes(df) >= minBytes) cut(df) else df
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
    * blocks). Below width · `spark.graft.pin.minRowsPerPartition`
    * (default 2048) rows, the per-round exchange the repartition
    * would remove is trivial while the width-wide task fan-out costs
    * real scheduling time every round (measured: a 50-row
    * label-propagation edge list fanned to 32 near-empty tasks per
    * round) — the frame pins with its natural layout instead. Above
    * it, the repartition happens once and every round's key-equi join
    * streams the pinned rows in place.
    */
  def pinByKey(df: DataFrame, rows: Long,
      keys: Seq[org.apache.spark.sql.Column]): DataFrame = {
    val s = df.sparkSession
    val w = s.conf.get("spark.sql.shuffle.partitions").toInt
    val minPer = s.conf
      .get("spark.graft.pin.minRowsPerPartition", "2048").toLong
    pin(if (rows >= w.toLong * minPer) df.repartition(w, keys: _*)
      else df)
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
