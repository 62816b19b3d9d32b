package graft.ml

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** One persisted served store and the tombstone half of its protocol —
  * the reference's soft delete (PodioApiGateway.py:161-178) written
  * ONCE for every store layout instead of once per family.
  *
  * A delete is an id-sized append into the underscore-hidden
  * `deletedDir` sibling of the store root: zero data files touched,
  * idempotent on unknown/repeated ids (serving masks distinct ids),
  * loud on NULL ids (a null tombstone matches nothing and would hide
  * the caller's bug), refused while a maintenance sweep holds the
  * root. Serving anti-joins its rows against the tombstones; a
  * compactor pins the tombstone FILE list at entry ([[snapshot]]),
  * masks against exactly those files, and drops exactly those files
  * last ([[reclaim]]) — a tombstone appended mid-run lands in a new
  * file, survives, and keeps masking until the next compaction.
  *
  * The seven values live in the companion. Module initializers never
  * read them (this object reads the modules' directory constants), so
  * no initialization cycle can form.
  *
  * @param family          the name [[Maintenance.maintainIndex]] and
  *                        the takedown ledger know the store by
  * @param idCol           the id column tombstones carry
  * @param deletedDir      the tombstone sibling under the store root
  * @param partitionPrefix the bucket/cell partition-dir prefix; empty
  *                        for the flat stores
  * @param deleteOp        the public delete's name — every error a
  *                        delete raises names it
  * @param fold            drains the committed stream sibling into the
  *                        base, for stores that have one
  * @param compact         the store's crash-safe compactor
  */
private[graft] final case class ServedStore private (
    family: String, idCol: String, deletedDir: String,
    partitionPrefix: String, deleteOp: String,
    fold: Option[(SparkSession, String) => Long],
    compact: (SparkSession, String) => Long) {

  /** Tombstone `ids` (a frame holding [[idCol]]) in the store at
    * `root`.
    */
  def delete(spark: SparkSession, ids: DataFrame, root: String): Unit = {
    // maintenance writer lock: a sweep is snapshotting/deleting
    // tombstone files — a delete landing mid-sweep must refuse, not
    // race the reclaim
    Maintenance.refuseIfMaintaining(spark, root, deleteOp)
    append(ids.select(
        when(col(idCol).isNotNull, col(idCol))
          .otherwise(raise_error(
            lit(s"$deleteOp: null $idCol in delete batch")))
          .as(idCol))
      .distinct(), root)
  }

  /** Append already-validated tombstone rows — [[delete]]'s write, and
    * the compactors' re-append of pending (not yet ingested) ids,
    * which runs under the writer lock [[delete]] would refuse on.
    */
  def append(ids: DataFrame, root: String): Unit =
    ids.write.mode("append").parquet(s"$root/$deletedDir")

  /** The settled-only reclaim's re-append: the ids of `dead` with no
    * row among `live` (None — the store holds no rows yet) are
    * takedowns that raced ahead of their rows' ingest; they go back
    * as a fresh tombstone file, outside the snapshot a compactor is
    * about to reclaim, so they keep masking the rows' eventual
    * arrival. `pin` materializes the pending set once, for callers
    * whose `live` read is costly to repeat between the emptiness
    * probe and the append.
    */
  def reappendPending(dead: DataFrame, live: Option[DataFrame],
      root: String, pin: Boolean): Unit = {
    val pending = live.fold(dead)(l => antiJoin(dead, l.select(col(idCol))))
    def go(p: DataFrame): Unit = if (!p.isEmpty) append(p, root)
    if (pin && live.isDefined) Materialize.withCut(pending)(go)
    else go(pending)
  }

  /** Wire a DELETE stream: each micro-batch of [[idCol]] rows is
    * [[delete]]d from the store at `root`. No BatchCommit partition
    * protocol, deliberately: tombstone appends are idempotent AT READ
    * (the serving mask distincts), so at-least-once replay costs
    * duplicate tombstone rows, never correctness.
    */
  def startDeletes(streamingIds: DataFrame, root: String,
      checkpoint: String): StreamingQuery =
    streamingIds.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        delete(batch.sparkSession, batch.select(col(idCol)), root)
      }
      .start()

  /** The parquet data files currently composing the tombstone table
    * under `root` — the SNAPSHOT a compactor pins at entry and, once
    * its rewrite is durable, hands to [[reclaim]].
    */
  def snapshot(fs: FileSystem, root: String): Seq[Path] = {
    val dir = new Path(s"$root/$deletedDir")
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.map(_.getPath)
      .filter(_.getName.endsWith(".parquet"))
  }

  def snapshot(spark: SparkSession, root: String): Seq[Path] =
    snapshot(new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration), root)

  /** The distinct ids of a non-empty pinned snapshot. */
  def idsIn(spark: SparkSession, files: Seq[Path]): DataFrame =
    spark.read.parquet(files.map(_.toString): _*)
      .select(col(idCol)).distinct()

  /** The distinct tombstoned ids across `roots` (roots without a
    * tombstone table contribute nothing), or None when there are none.
    * Reads the explicit per-root parquet FILE list, not the directory:
    * after a compaction the directory may survive holding only a stray
    * `_SUCCESS`, on which a directory read would fail schema inference.
    */
  def tombstones(spark: SparkSession, roots: Seq[String])
      : Option[DataFrame] = {
    val fileSets = roots.map(snapshot(spark, _)).filter(_.nonEmpty)
    if (fileSets.isEmpty) None
    else Some(fileSets
      .map(fl => spark.read.parquet(fl.map(_.toString): _*))
      .reduce(_.unionByName(_))
      .select(col(idCol)).distinct())
  }

  /** `rows` without the ids tombstoned under `roots`, matched on
    * column `as`; `rows` itself when no tombstone file exists. The
    * anti-join's build side is the tombstone set — takedown-sized, so
    * AQE broadcasts it while it stays small (no forced hint: a set
    * grown past broadcast size falls back to a shuffle, and is the
    * signal to compact).
    */
  def mask(spark: SparkSession, roots: Seq[String], rows: DataFrame,
      as: String = idCol): DataFrame =
    tombstones(spark, roots).fold(rows)(antiJoin(rows, _, as))

  /** [[mask]] against a pinned snapshot — for an operation whose
    * several mask applications must share one view of the takedowns.
    */
  def maskPinned(spark: SparkSession, files: Seq[Path],
      rows: DataFrame): DataFrame =
    if (files.isEmpty) rows else antiJoin(rows, idsIn(spark, files), idCol)

  /** `rows` without the ids in `dead`, matched on column `as`. */
  def antiJoin(rows: DataFrame, dead: DataFrame,
      as: String = idCol): DataFrame =
    rows.join(if (as == idCol) dead else dead.withColumnRenamed(idCol, as),
      Seq(as), "left_anti")

  /** Delete exactly the snapshotted tombstone files. */
  def reclaim(fs: FileSystem, files: Seq[Path]): Unit =
    files.foreach { f => fs.delete(f, false); () }
}

private[graft] object ServedStore {
  import graft.streaming.{CorpusIngest, StreamingNearDup}

  /** The guard every manual BASE append runs before it writes: refuse
    * while a maintenance sweep holds `root` (its fold/compact rewrites
    * the very partitions the append would land in, through a dynamic
    * partition overwrite that would silently drop the appended rows),
    * then refuse while a COMMITTED but un-applied bucket stage exists
    * (the next maintenance entry replays it over its dirty partitions
    * — the lock alone cannot cover this: a failed compaction releases
    * it on the way out, stage intact).
    */
  def requireAppendable(spark: SparkSession, root: String,
      op: String): Unit = {
    Maintenance.refuseIfMaintaining(spark, root, op)
    graft.sources.StagedRewrite.requireNoCommittedBucketStage(
      new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration),
      root, op)
  }

  val Bm25 = ServedStore("bm25", "doc_id", Retrieval.DeletedDir, "bkt=",
    "deleteBm25Docs",
    Some((s, p) => Retrieval.foldStreamIntoBm25Index(s, p)),
    (s, p) => Retrieval.compactBm25Index(s, p))
  val Ivf = ServedStore("ivf", "vec_id", Similarity.DeletedDir, "cell=",
    "deleteFromIvfIndex",
    Some((s, p) => Similarity.foldStreamIntoIvfIndex(s, p)),
    (s, p) => Similarity.compactIvfIndex(s, p))
  val Binary = ServedStore("binary", "vec_id", Similarity.BinDeletedDir,
    "", "deleteFromBinaryIndex",
    Some((s, p) => Similarity.foldStreamIntoBinaryIndex(s, p)),
    (s, p) => Similarity.compactBinaryIndex(s, p))
  val Phash = ServedStore("phash", "media_id", Multimodal.PhashDeletedDir,
    "", "deleteFromPhashIndex",
    Some((s, p) => Multimodal.foldStreamIntoPhashIndex(s, p)),
    (s, p) => Multimodal.compactPhashIndex(s, p))
  // SubstrIngest appends straight into the bucket dirs — the substr
  // store has no stream sibling to fold
  val Substr = ServedStore("substr", "doc_id", Dedup.SubstrDeletedDir,
    "bkt=", "deleteFromSubstrIndex", None,
    // the unlocked core: the sweep that runs it already holds the lock
    (s, p) => Dedup.compactSubstrIndexLocked(s, p))
  // corpus: multi-file `ingest_batch=` dirs are the NORMAL shape (one
  // file set per committed trigger — small-file re-binning is
  // Layout.compactPartitions' job), so its prefix stays empty and only
  // the tombstone axis drives this store's sweep
  val CorpusTable = ServedStore("corpus", "doc_id", CorpusIngest.DeletedDir,
    "", "deleteFromCorpus", None,
    (s, p) => CorpusIngest.compactCorpus(s, p))
  val NearDupStore = ServedStore("neardup_store", "doc_id",
    StreamingNearDup.DeletedDir, "", "deleteFromStore", None,
    (s, p) => StreamingNearDup.compactStore(s, p))

  val all: Seq[ServedStore] =
    Seq(Bm25, Ivf, Binary, Phash, Substr, CorpusTable, NearDupStore)

  /** The store [[Maintenance]] knows as `family`; loud on any other
    * name.
    */
  def named(family: String): ServedStore =
    all.find(_.family == family).getOrElse(
      throw new IllegalArgumentException(
        s"unknown index family '$family' — one of " +
          all.map(_.family).mkString("/")))
}
