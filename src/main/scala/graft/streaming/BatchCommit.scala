package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The batch ledger of every streamed table — the durable form of the
  * reference's to-do and completed queues (PodioApiGateway.py:86,
  * :139) — and the one module that knows its on-disk format:
  *
  *  - each batch owns the partition dir `ingest_batch=<id>`
  *    ([[partition]]);
  *  - committed ⇔ `_SUCCESS`, which [[committedWrite]] writes after
  *    the batch's own write returns, and each commit records the
  *    batch's content [[fingerprint]] in a `_GRAFT_BATCH_SIG` marker,
  *    so a recycled batch id (a checkpoint reset restarts numbering
  *    from 0) fails loudly instead of silently dropping the new batch;
  *  - a fold hides a batch from serving with [[FoldedMarker]] and then
  *    drops it to a data-less stub ([[dropToStub]]) whose commit
  *    markers keep absorbing replays.
  *
  * Readers compose the listing ([[partitions]], [[committed]]) with
  * the two predicates [[isFolded]] and [[holdsData]]. One
  * implementation, so a change to the crash-window rules can never
  * land in one ingest path and miss another.
  */
private[graft] object BatchCommit {

  /** The batch partition directory's name prefix. */
  val PartitionPrefix = "ingest_batch="

  private val Success = "_SUCCESS"
  private val SigMarker = "_GRAFT_BATCH_SIG"

  /** Marker a fold places INSIDE a streamed batch partition the moment
    * it takes ownership: serving skips marked partitions (their rows
    * are, or are about to be, in the base — reading both would serve
    * duplicates), while the partition's `_SUCCESS` + `_GRAFT_BATCH_SIG`
    * stay behind forever as the replay ledger, so [[committedWrite]]
    * keeps absorbing genuine replays and refusing recycled batch ids
    * exactly as before the fold.
    */
  val FoldedMarker = "_GRAFT_FOLDED"

  /** The partition directory batch `batchId` owns under `root`. */
  def partition(root: String, batchId: Long): String =
    s"$root/$PartitionPrefix$batchId"

  /** The batch id a partition directory is named after. */
  def batchIdOf(part: Path): Long =
    part.getName.stripPrefix(PartitionPrefix).toLong

  /** Order-insensitive content fingerprint of `batch` over `cols`, and
    * its row count, in one aggregate pass: the xor of the per-row
    * xxhash64s, folded with the count. A replay of a batch id
    * recomputes the same rows → the same sig; a recycled id carries
    * different content → a different sig. Persisted (batch markers,
    * the near-dup store's `batch_sig`, `_GRAFT_LAST_BATCH`), so the
    * formula must never change.
    */
  def fingerprint(batch: DataFrame, cols: Column*): (Long, Long) = {
    val r = batch.agg(coalesce(bit_xor(xxhash64(cols: _*)), lit(0L)),
      count(lit(1))).head()
    (r.getLong(0) * 31L + r.getLong(1), r.getLong(1))
  }

  /** @param write receives the partition path; runs only when the
    *              partition is not yet committed
    * @param freshAdvice appended to the recycled-id error ("point the
    *              stream at a fresh X...")
    * @param lockRoot where the family's maintenance writer lock
    *              lives: the BASE index root for stream-sibling
    *              tables, the table root itself for the corpus —
    *              passed EXPLICITLY by each caller (deriving it by
    *              stripping the "_stream" suffix would mangle any
    *              table whose name legitimately ends in it — r16
    *              session review)
    */
  def committedWrite(spark: SparkSession, tableRoot: String,
      batchId: Long, sig: Long, freshAdvice: String, lockRoot: String)
      (write: String => Unit): Unit = {
    // maintenance writer lock (r15 verdict item 4): while a sweep
    // holds the family's index root, appends refuse loudly — the
    // fold/compact it runs rewrite the very directories this batch
    // would land in or be served against.
    graft.ml.Maintenance.refuseIfMaintaining(spark, lockRoot,
      "committedWrite")
    val part = new Path(partition(tableRoot, batchId))
    val fs = part.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new Path(part, SigMarker)
    val committed = fs.exists(new Path(part, Success))
    val recorded =
      if (committed) graft.sources.Markers.read(fs, marker) else None
    if (committed && recorded.isDefined) {
      require(recorded.contains(sig.toString),
        s"partition $part is committed with different content " +
          s"(sig ${recorded.get}, incoming $sig): batch id $batchId " +
          s"was recycled by a checkpoint reset — $freshAdvice")
    } else if (committed) {
      // crash window: _SUCCESS landed but the marker write didn't. A
      // genuine replay recomputes the identical sig, so backfilling
      // re-arms the reset guard instead of leaving this batch id
      // unprotected forever. (If the id was ALREADY recycled inside
      // this narrow window the ambiguity is unresolvable from disk —
      // the backfill at least stops it widening.)
      graft.sources.Markers.write(fs, marker, sig.toString)
    }
    if (!committed) {
      // the commit is ours, not the writer's committer's: `write` may
      // land several tables under `part`, and the partition is
      // committed only once all of them returned
      write(part.toString)
      fs.create(new Path(part, Success), true).close()
      graft.sources.Markers.write(fs, marker, sig.toString)
    }
  }

  /** Every batch partition under `root`, committed or not, in listing
    * order; none when `root` does not exist.
    */
  def partitions(fs: FileSystem, root: Path): Seq[Path] =
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq
      .filter(st => st.isDirectory &&
        st.getPath.getName.startsWith(PartitionPrefix))
      .map(_.getPath)

  /** The COMMITTED batch partitions under `root` — the only ones a
    * reader may serve: a write that died during job commit can leave
    * data files in a partition with no `_SUCCESS`, and reading them
    * would serve a partial batch until its replay.
    */
  def committed(fs: FileSystem, root: Path): Seq[Path] =
    partitions(fs, root).filter(p => fs.exists(new Path(p, Success)))

  /** True iff a fold has claimed `part` — its rows are in (or moving
    * into) the base, so serving it from the stream would double-count.
    */
  def isFolded(fs: FileSystem, part: Path): Boolean =
    fs.exists(new Path(part, FoldedMarker))

  /** True iff `dir` (recursively) holds at least one parquet data
    * file — how a fold distinguishes a pending batch from an
    * already-folded stub, and how the compactors decide whether a
    * stream sibling still guards un-folded rows. Files under a crashed
    * write's `_temporary/` count.
    */
  def holdsData(fs: FileSystem, dir: Path): Boolean = {
    val it = fs.listFiles(dir, true)
    var found = false
    while (!found && it.hasNext)
      found = it.next().getPath.getName.endsWith(".parquet")
    found
  }

  /** True iff any batch partition under `root` (committed or not — an
    * uncommitted one may yet be committed by a stream replay) holds
    * data.
    */
  def anyHoldsData(fs: FileSystem, root: Path): Boolean =
    partitions(fs, root).exists(holdsData(fs, _))

  /** Hide `parts` from serving ([[FoldedMarker]]) before any row moves. */
  def markFolded(fs: FileSystem, parts: Seq[Path]): Unit =
    parts.foreach { p =>
      val m = new Path(p, FoldedMarker)
      if (!fs.exists(m)) fs.create(m, true).close()
    }

  /** Drop `parts` to data-less stubs: everything goes but `_SUCCESS`,
    * `_GRAFT_BATCH_SIG` and [[FoldedMarker]], the markers that keep the
    * replay ledger alive — a replayed batch id keeps absorbing and a
    * recycled one keeps refusing. Every fold calls this LAST, once the
    * rows are in the base.
    */
  def dropToStub(fs: FileSystem, parts: Seq[Path]): Unit =
    parts.foreach { p =>
      fs.listStatus(p).foreach { st =>
        val n = st.getPath.getName
        if (n != Success && n != SigMarker && n != FoldedMarker) {
          fs.delete(st.getPath, true)
          ()
        }
      }
    }
}
