package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The staged, replayable rewrite behind every crash-safe compaction,
  * fold and erase — the reference's in-place versioning and soft
  * delete (PodioApiGateway.py:161-178) made durable, with the two
  * on-disk stage formats written ONCE instead of once per store.
  *
  * Both formats follow one protocol: survivors are staged DURABLY
  * before any live file is touched, a marker written LAST commits the
  * stage, the apply is idempotent from every intermediate state, and
  * the next entry REPLAYS a committed stage before doing anything
  * else (an uncommitted stage is always discarded — the caller's
  * tombstones or ledger still cover everything it held).
  *
  *  - The BUCKET stage ([[BucketStageDir]]): a dynamic-partition
  *    overwrite of the dirty `partCol=` directories of a partitioned
  *    index. The dirty-partition `_parts` table is written last; its
  *    `_SUCCESS` is the commit point. The stage, not the index, is the
  *    source of truth for the dirty partitions' rows once committed —
  *    a crash inside the overwrite's own delete-then-rename commit can
  *    lose a dirty partition's files, and the replay restores them
  *    (a plain re-run would mis-detect the damaged partition as clean
  *    and drop the tombstones over lost rows).
  *  - The SWAP stage ([[SwapStage]]): a uuid file swap. The
  *    `_GRAFT_STAGE_ID` uuid marker is the commit point; the apply
  *    moves staged files in under `<prefix><uuid>-` names FIRST and
  *    deletes old data files second, so a concurrent reader sees
  *    old∪new (duplicates its read dedups) and never a gap, and a
  *    replay never deletes a file it already moved. It runs flat over
  *    the root, or per directory from a parts manifest.
  */
private[graft] object StagedRewrite {

  /** The bucket stage under a partitioned index root. */
  val BucketStageDir = "_graft_compact_stage"

  private def bucketStage(path: String): Path =
    new Path(s"$path/$BucketStageDir")

  private def fsOf(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** True iff the bucket stage under `path` is COMMITTED: its `_parts`
    * marker table carries a `_SUCCESS`.
    */
  private def bucketStageCommitted(fs: FileSystem, path: String): Boolean =
    fs.exists(new Path(bucketStage(path), "_parts/_SUCCESS"))

  /** Refusal every BASE-table append must make while a committed bucket
    * stage exists: the next maintenance entry REPLAYS the stage over
    * its dirty partitions with a dynamic partition overwrite, which
    * would silently erase rows appended in between (streamed SIBLING
    * appends are exempt — replay never touches the sibling). A failed
    * compaction releases its writer lock on the way out but leaves the
    * committed stage, so the stage check is the one that holds.
    */
  def requireNoCommittedBucketStage(fs: FileSystem, path: String,
      what: String): Unit =
    require(!bucketStageCommitted(fs, path),
      s"$what: a committed compaction stage exists on $path — run " +
        "the compactor to replay it before appending; rows appended " +
        "now would be overwritten by the replay")

  /** Entry step of every bucketed compaction, fold and coalesce: finish
    * a committed stage left by a crashed run (restoring any partition
    * its overwrite half-replaced), discard an uncommitted one.
    */
  def replayBuckets(spark: SparkSession, path: String,
      partCol: String): Unit = {
    val fs = fsOf(spark, path)
    if (bucketStageCommitted(fs, path)) applyBuckets(spark, path, partCol)
    else { fs.delete(bucketStage(path), true); () }
  }

  /** Replace the `parts` partitions of `partCol` under `path` with
    * `survivors`: stage them durably, commit the dirty-partition list,
    * apply. A dirty partition with no surviving row is dropped.
    */
  def rewriteBuckets(spark: SparkSession, path: String, partCol: String,
      survivors: DataFrame, parts: Seq[Long]): Unit = {
    val stage = bucketStage(path).toString
    survivors.write.mode("overwrite").parquet(stage)
    import spark.implicits._
    parts.toDF("part").coalesce(1).write.mode("overwrite")
      .parquet(s"$stage/_parts")
    applyBuckets(spark, path, partCol)
  }

  /** Apply the COMMITTED bucket stage: dynamic-partition-overwrite the
    * staged rows into their `partCol=` directories, drop the dirty
    * directories the stage holds no rows for, then drop the stage.
    */
  private def applyBuckets(spark: SparkSession, path: String,
      partCol: String): Unit = {
    val fs = fsOf(spark, path)
    val stage = bucketStage(path)
    val dirtyVals = spark.read.parquet(s"$stage/_parts")
      .collect().map(_.getLong(0)).toSet
    // a stage whose every dirty partition was fully dead holds zero
    // data files — reading it would fail schema inference, and there
    // is nothing to overwrite anyway
    val hasData = fs.listStatus(stage)
      .exists(_.getPath.getName.endsWith(".parquet"))
    val present: Set[Long] = if (hasData) {
      val staged = spark.read.parquet(stage.toString)
      staged.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partCol).parquet(path)
      staged.select(col(partCol).cast("long")).distinct()
        .collect().map(_.getLong(0)).toSet
    } else Set.empty
    (dirtyVals -- present).foreach { v =>
      fs.delete(new Path(s"$path/$partCol=$v"), true)
      ()
    }
    fs.delete(stage, true)
    ()
  }

  /** The swap stage's commit point: the run's uuid. */
  private val StageIdMarker = "_GRAFT_STAGE_ID"

  /** The manifest of tombstone files a swap stage drops inside its
    * apply — recorded IN the stage, so a crash-then-replay deletes
    * exactly the files the crashed run applied, never one appended
    * mid-run.
    */
  val TombfilesMarker = "_GRAFT_TOMBFILES"

  /** One store's uuid-file-swap stage: `dir` under the root, staged
    * files moved in as `<filePrefix><uuid>-<name>`, per-directory parts
    * listed in the `partsMarker` manifest (each entry names the
    * directory `partDir + entry`), and `what` prefixing the move
    * failure. Whether an apply is flat or per directory is recorded in
    * the stage itself: the manifest is written only by
    * [[commitParts]], so a committed stage without it is flat, and an
    * EMPTY manifest means no directory is dirty — never "flat".
    */
  final case class SwapStage private (dir: String, filePrefix: String,
      partsMarker: String, partDir: String, what: String) {

    def at(root: Path): Path = new Path(root, dir)

    /** Entry step: finish a committed stage left by a crashed run,
      * discard an uncommitted one.
      */
    def replay(fs: FileSystem, root: Path): Unit =
      if (fs.exists(new Path(at(root), StageIdMarker))) apply(fs, root)
      else { fs.delete(at(root), true); () }

    /** Stage `survivors` as the whole flat table at `root`, commit,
      * apply; `tombFiles` drop inside the apply.
      */
    def commitFlat(fs: FileSystem, root: Path, survivors: DataFrame,
        tombFiles: Seq[Path] = Nil): Unit = {
      survivors.write.mode("overwrite").parquet(at(root).toString)
      commit(fs, root, None, tombFiles)
    }

    /** Commit and apply survivors the caller already wrote under
      * `at(root)`, one directory per entry of `parts` (possibly none);
      * `tombFiles` drop inside the apply.
      */
    def commitParts(fs: FileSystem, root: Path, parts: Seq[String],
        tombFiles: Seq[Path] = Nil): Unit =
      commit(fs, root, Some(parts), tombFiles)

    private def commit(fs: FileSystem, root: Path,
        parts: Option[Seq[String]], tombFiles: Seq[Path]): Unit = {
      val stage = at(root)
      fs.mkdirs(stage)
      parts.foreach(ps =>
        Markers.write(fs, new Path(stage, partsMarker), ps.mkString("\n")))
      if (tombFiles.nonEmpty)
        Markers.write(fs, new Path(stage, TombfilesMarker),
          tombFiles.map(_.toString).mkString("\n"))
      Markers.write(fs, new Path(stage, StageIdMarker),
        java.util.UUID.randomUUID().toString.replace("-", ""))
      apply(fs, root)
    }

    /** Apply the committed stage: per target directory, staged files
      * move in under the run's uuid prefix FIRST, then data files not
      * carrying it are deleted; markers are never touched. Then the
      * manifested tombstone files drop, and the stage last. A dirty
      * directory with no staged survivors simply loses its old files.
      */
    private def apply(fs: FileSystem, root: Path): Unit = {
      val stage = at(root)
      val prefix = filePrefix +
        Markers.read(fs, new Path(stage, StageIdMarker)).get + "-"
      def swap(src: Path, dst: Path): Unit = {
        if (fs.exists(src))
          fs.listStatus(src).toSeq.map(_.getPath)
            .filter(_.getName.endsWith(".parquet"))
            .foreach { p =>
              require(fs.rename(p, new Path(dst, prefix + p.getName)),
                s"${what}could not move staged file $p into $dst")
            }
        if (fs.exists(dst))
          fs.listStatus(dst).toSeq.map(_.getPath)
            .filter(p => p.getName.endsWith(".parquet")
              && !p.getName.startsWith(prefix))
            .foreach { p => fs.delete(p, false); () }
      }
      def lines(marker: String): Option[Seq[String]] =
        Markers.read(fs, new Path(stage, marker))
          .map(_.split("\n").toSeq.filter(_.nonEmpty))
      lines(partsMarker) match {
        case None => swap(stage, root)
        case Some(parts) => parts.foreach(d => swap(
          new Path(stage, partDir + d), new Path(root, partDir + d)))
      }
      lines(TombfilesMarker).foreach(_.foreach { f =>
        fs.delete(new Path(f), false); ()
      })
      fs.delete(stage, true)
      ()
    }

    /** True when a read of the flat table at `root` may see a row
      * twice: this stage's directory is present, or `files` — the
      * read's OWN file listing, so no probe-to-scan race can reopen
      * the window — mixes file generations. Every quiescent state is
      * one generation (a build writes `part-*` files, an applied swap
      * leaves only its own uuid's files); only a mid-apply window,
      * old∪new, mixes them.
      */
    def mayServeDuplicates(fs: FileSystem, root: Path,
        files: => Seq[String]): Boolean =
      fs.exists(at(root)) || files.map { f =>
        val n = f.substring(f.lastIndexOf('/') + 1)
        if (n.startsWith(filePrefix)) n.split("-")(1) else "base"
      }.distinct.length > 1
  }

  object SwapStage {

    /** A compaction or fold stage (`graftc-` files). `what` prefixes a
      * move failure; `partDir` maps a parts-manifest entry to its
      * directory name.
      */
    def compaction(dir: String, what: String = "",
        partDir: String = ""): SwapStage =
      SwapStage(dir, "graftc-", "_GRAFT_PARTS", partDir, what)

    /** A hard-forget erase stage (`graftf-` files); its manifest lists
      * the dirty directories' paths relative to the table root.
      */
    def forget(dir: String): SwapStage =
      SwapStage(dir, "graftf-", "_GRAFT_FORGET_PARTS", "", "forget: ")
  }
}
