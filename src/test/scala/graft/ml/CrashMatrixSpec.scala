package graft.ml

import java.io.IOException
import java.net.URI
import java.nio.file.{Files, Path => JPath}

import scala.util.control.NonFatal

import graft.SparkSpec
import graft.scd.Versioning
import graft.streaming.{Bm25Ingest, CorpusIngest, MediaIngest,
  StreamingNearDup, VectorIngest}
import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** A local file system under the `crashfs` scheme whose mutations
  * (create, rename, delete, mkdirs) throw an `IOException` at one
  * injected crash point. Registered with `fs.crashfs.impl` and an
  * uncached instance per lookup; the injection is JVM-global, so
  * driver-side calls and local-mode tasks (task-commit renames
  * included) all see it.
  */
class CrashFileSystem extends RawLocalFileSystem {
  import CrashFileSystem.check
  override def getUri: URI = CrashFileSystem.Uri
  override def getScheme: String = CrashFileSystem.Scheme
  override protected def createOutputStreamWithMode(f: Path,
      append: Boolean, permission: FsPermission): java.io.OutputStream = {
    check("create", f)
    super.createOutputStreamWithMode(f, append, permission)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    check("rename", src, dst)
    super.rename(src, dst)
  }
  override def delete(p: Path, recursive: Boolean): Boolean = {
    check("delete", p)
    super.delete(p, recursive)
  }
  override def mkdirs(p: Path): Boolean = {
    check("mkdirs", p)
    super.mkdirs(p)
  }
  override def mkdirs(p: Path, permission: FsPermission): Boolean = {
    check("mkdirs", p)
    super.mkdirs(p, permission)
  }
  // plain statuses: the local ones load their permissions through a
  // `file:` URI, which this scheme's paths are not
  private def plain(st: FileStatus): FileStatus =
    new FileStatus(st.getLen, st.isDirectory, st.getReplication,
      st.getBlockSize, st.getModificationTime, st.getPath)
  override def getFileStatus(p: Path): FileStatus =
    plain(super.getFileStatus(p))
  override def listStatus(p: Path): Array[FileStatus] =
    super.listStatus(p).map(plain)
}

object CrashFileSystem {
  val Scheme = "crashfs"
  val Uri: URI = URI.create(s"$Scheme:///")

  /** One file-system mutation: its kind and the plain paths it
    * touches (source then destination for a rename).
    */
  final case class Op(kind: String, paths: Seq[String]) {
    def names: Seq[String] =
      paths.map(p => p.substring(p.lastIndexOf('/') + 1))
  }

  /** A crash point: once `arm` has matched an op (that op proceeds) —
    * or from the start when there is no `arm` — the next op matching
    * `fire` throws, once.
    */
  final case class Point(name: String, arm: Option[Op => Boolean],
      fire: Op => Boolean)

  private var point: Option[Point] = None
  private var armed = false
  private var fired = false

  def inject(p: Point): Unit = synchronized {
    point = Some(p); armed = p.arm.isEmpty; fired = false
  }

  /** Remove the injection; true iff it fired. */
  def clear(): Boolean = synchronized {
    point = None
    fired
  }

  private def check(kind: String, paths: Path*): Unit = synchronized {
    point.foreach { p =>
      val op = Op(kind, paths.map(_.toUri.getPath))
      if (armed && p.fire(op)) {
        point = None
        fired = true
        throw new IOException(
          s"injected crash '${p.name}' at $kind ${op.paths.mkString(" -> ")}")
      } else if (!armed && p.arm.exists(_(op))) armed = true
    }
  }
}

/** The crash matrix over every served store and `Versioning.forget`:
  * each public compactor, fold and erase is run on a copy of one
  * built store with a crash injected at every point its stage kind
  * has, then re-run without the injection. The recovered store must
  * serve exactly what an uninterrupted run on another copy serves,
  * hold the same distinct rows and the same tombstone and stream
  * debt, and keep no stage directory.
  *
  * Crash points, by stage kind (see [[graft.sources.StagedRewrite]]):
  *  - swap stage: (1) survivors staged, `_GRAFT_STAGE_ID` not written;
  *    (2) stage committed, no staged file moved in yet; (3) mid-apply,
  *    after the first staged file moved in;
  *  - bucket stage: (1) survivors staged, `_parts` not written;
  *    (2) `_parts/_SUCCESS` written, no index file touched yet;
  *    (3) mid-apply, after the first dirty partition was replaced
  *    and the second one's old files were deleted;
  *  - compactions: (4) applied, tombstone files not yet reclaimed;
  *  - folds: (5) batches flipped `_GRAFT_FOLDED`, stubs not dropped.
  *
  * An injected exception is not a process crash: `finally` blocks
  * still run, so a writer lock taken by the op (the public substr
  * compactor, forget) is released before the re-run, where a real
  * crash would leave it for `breakStaleLock = true` to clear.
  */
class CrashMatrixSpec extends SparkSpec {
  import CrashFileSystem.{Op, Point}

  override def beforeAll(): Unit = {
    super.beforeAll()
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set(s"fs.${CrashFileSystem.Scheme}.impl",
      classOf[CrashFileSystem].getName)
    conf.setBoolean(s"fs.${CrashFileSystem.Scheme}.impl.disable.cache",
      true)
  }

  // the ServedStoreSpec corpus: distinct stopword-dense docs (the
  // corpus ingest admits each one); doc 3 carries the unique run
  // q1..q6, and id 99 is a takedown ahead of its doc's ingest
  private val texts = Seq(
    1L -> "the first note is about the parts of a supply chain and the price that is paid in the region",
    2L -> "a second text that covers the orders of the customers and the revenue of a market in one year",
    3L -> "the zebraqq document holds the unique run q1 q2 q3 q4 q5 q6 and that is the content to remove",
    4L -> "a fourth entry on the lineage of the data and the audit of a pipeline that is run in the lake",
    5L -> "the fifth text is a note on the schema of the tables and the keys that join them in an engine",
    6L -> "a sixth document about the streaming of events and the windows of time that group them by key")
  private val dead = Seq(3L, 5L, 99L)

  private def docs: DataFrame = {
    val spark0 = spark
    import spark0.implicits._
    texts.map { case (id, t) => (id, t, "src", t.length) }
      .toDF("doc_id", "text", "source", "n_chars")
  }

  private def emb: DataFrame = {
    val spark0 = spark
    import spark0.implicits._
    texts.map(_._1).map { i =>
      (i, Array.tabulate(8)(j => math.sin(i * 8.0 + j).toFloat))
    }.toDF("vec_id", "embedding")
  }

  private def cents = Similarity.seedCentroids(emb, nCells = 2)

  private def ids(c: String): DataFrame = {
    val spark0 = spark
    import spark0.implicits._
    dead.toDF(c)
  }

  private def early(df: DataFrame, c: String) = df.filter(col(c) <= 4L)
  private def late(df: DataFrame, c: String) = df.filter(col(c) > 4L)

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  // one query per doc over all its terms, so every bucket a
  // compaction or fold rewrites is read back
  private def bm25Queries: DataFrame = {
    val spark0 = spark
    import spark0.implicits._
    texts.map { case (id, t) => (id, t.split(" ").toSeq) }
      .toDF("query_id", "terms")
  }

  // ------------------------------------------------------ crash points

  private def renamedIn(op: Op, prefix: String): Boolean =
    op.kind == "rename" && op.names.last.startsWith(prefix)

  private def swapPoints(prefix: String): Seq[Point] = Seq(
    Point("staged, uncommitted", None,
      op => op.kind == "create" && op.names.contains("_GRAFT_STAGE_ID")),
    Point("committed, apply not started", None, renamedIn(_, prefix)),
    Point("mid-apply", Some(renamedIn(_, prefix)),
      op => op.kind == "rename" || op.kind == "delete"))

  private val BucketStage = "/_graft_compact_stage"

  private def bucketPoints(partCol: String): Seq[Point] = Seq(
    Point("staged, uncommitted", None,
      _.paths.exists(_.contains(s"$BucketStage/_parts"))),
    Point("committed, apply not started",
      Some(op => op.kind == "create" &&
        op.paths.exists(_.endsWith(s"$BucketStage/_parts/_SUCCESS"))),
      _.paths.exists(!_.contains(BucketStage))),
    // the overwrite replaces partition by partition — delete, then
    // rename in from its staging dir; crash between the second
    // partition's delete and its rename, the window only the replay
    // can repair
    Point("mid-apply", Some(stagedIn(_, partCol)), stagedIn(_, partCol)))

  private def stagedIn(op: Op, partCol: String): Boolean =
    op.kind == "rename" && op.paths.head.contains("/.spark-staging-") &&
      !op.paths.last.contains("/.spark-staging-") &&
      op.names.last.startsWith(s"$partCol=")

  // tombstone FILES only: a pending-id re-append into the same dir
  // drops its own `_temporary` on commit
  private def reclaimPoint(store: ServedStore) =
    Point("applied, tombstones not reclaimed", None,
      op => op.kind == "delete" && op.paths.exists(p =>
        p.contains(s"/${store.deletedDir}/") && p.endsWith(".parquet")))

  private val foldPoint =
    Point("folded, stubs not dropped", None,
      op => op.kind == "delete" &&
        op.paths.exists(_.contains("_stream/ingest_batch=")))

  // ------------------------------------------------------------ driver

  private def url(dir: JPath): String =
    s"${CrashFileSystem.Scheme}://${dir.toAbsolutePath}"

  private def copyTree(from: JPath, to: JPath): Unit = {
    val it = Files.walk(from)
    try it.forEach { p =>
      val dst = to.resolve(from.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(dst)
      else Files.copy(p, dst)
      ()
    } finally it.close()
  }

  private def stageDirs(dir: JPath): Seq[String] = {
    val it = Files.walk(dir)
    try {
      import scala.jdk.CollectionConverters._
      it.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.startsWith("_graft_") && n.endsWith("_stage"))
        .toSeq
    } finally it.close()
  }

  /** Build one store under a fresh root (`build` returns the path of
    * the store it wrote), run `op` uninterrupted on a copy, then on a
    * fresh copy per crash point: crash, re-run, and compare.
    */
  private def crashMatrix(label: String, family: Option[String],
      build: String => String, op: String => Any,
      serve: String => Seq[String], points: Seq[Point]): Unit = {
    val tmp = Files.createTempDirectory(s"graft_crash_$label")
    try {
      val base = tmp.resolve("base")
      val sub = build(url(base)).stripPrefix(url(base))
      def fresh(name: String): String = {
        copyTree(base, tmp.resolve(name))
        url(tmp.resolve(name)) + sub
      }
      def debt(p: String): Option[(Long, Long)] = family.map { f =>
        val d = Maintenance.compactionDebt(spark, p, f)
        (d.tombstoneIds, d.streamBacklog)
      }
      // the distinct rows at the store root: an answer can survive a
      // lost partition (substr spans overlap), the rows cannot
      def rows(p: String) = sorted(spark.read.parquet(p).distinct())
      val ref = fresh("ref")
      op(ref)
      val expected = serve(ref)
      val expectedRows = rows(ref)
      assert(expected.nonEmpty, s"$label: empty reference answer")
      points.zipWithIndex.foreach { case (pt, i) =>
        val at = s"$label crashed at '${pt.name}'"
        val p = fresh(s"crash$i")
        CrashFileSystem.inject(pt)
        val failed =
          try { op(p); false }
          catch { case NonFatal(_) => true }
          finally { CrashFileSystem.clear(); () }
        assert(failed, s"$at: the crash point was never reached")
        op(p)
        assert(serve(p) === expected, s"$at: recovery changed the answer")
        assert(rows(p) === expectedRows, s"$at: recovery changed the rows")
        assert(debt(p) === debt(ref), s"$at: recovery changed the debt")
        assert(stageDirs(tmp.resolve(s"crash$i")).isEmpty,
          s"$at: a stage directory was left behind")
      }
    } finally {
      CrashFileSystem.clear()
      new scala.reflect.io.Directory(tmp.toFile).deleteRecursively()
      ()
    }
  }

  // ----------------------------------------------------------- stores

  private def serveIvf(p: String) =
    sorted(VectorIngest.queryServed(spark, p, emb, cents, k = 3, probes = 2))

  private def serveBinary(p: String) =
    sorted(VectorIngest.queryServedBinary(spark, p, emb,
      emb.select(col("vec_id")), k = 3, refine = 6))

  private def serveBm25(p: String) =
    sorted(Bm25Ingest.queryServed(spark, p, bm25Queries, k = 6))

  private def servePhash(p: String) =
    sorted(MediaIngest.servedHashes(spark, p))

  test("crash matrix: ivf compaction recovers at every bucket-stage " +
      "point and before the tombstone reclaim") {
    crashMatrix("ivf_compact", Some("ivf"),
      root => {
        Similarity.writeIvfIndex(emb, cents, s"$root/ivf")
        Similarity.deleteFromIvfIndex(spark, ids("vec_id"), s"$root/ivf")
        s"$root/ivf"
      },
      Similarity.compactIvfIndex(spark, _), serveIvf,
      bucketPoints("cell") :+ reclaimPoint(ServedStore.Ivf))
  }

  test("crash matrix: ivf fold recovers at every bucket-stage point " +
      "and before the stub drop") {
    crashMatrix("ivf_fold", Some("ivf"),
      root => {
        Similarity.writeIvfIndex(early(emb, "vec_id"), cents, s"$root/ivf")
        VectorIngest.ingestBatch(late(emb, "vec_id"), 0L, s"$root/ivf")
        s"$root/ivf"
      },
      Similarity.foldStreamIntoIvfIndex(spark, _), serveIvf,
      bucketPoints("cell") :+ foldPoint)
  }

  test("crash matrix: bm25 compaction recovers at every bucket-stage " +
      "point and before the tombstone reclaim") {
    crashMatrix("bm25_compact", Some("bm25"),
      root => {
        Retrieval.writeBm25Index(docs, s"$root/bm25", nBuckets = 4)
        Retrieval.deleteBm25Docs(spark, ids("doc_id"), s"$root/bm25")
        s"$root/bm25"
      },
      Retrieval.compactBm25Index(spark, _), serveBm25,
      bucketPoints("bkt") :+ reclaimPoint(ServedStore.Bm25))
  }

  test("crash matrix: bm25 fold recovers at every bucket-stage point " +
      "and before the stub drop") {
    crashMatrix("bm25_fold", Some("bm25"),
      root => {
        Retrieval.writeBm25Index(early(docs, "doc_id"), s"$root/bm25",
          nBuckets = 4)
        Bm25Ingest.ingestBatch(late(docs, "doc_id")
          .select(col("doc_id"), col("text")), 0L, s"$root/bm25")
        s"$root/bm25"
      },
      Retrieval.foldStreamIntoBm25Index(spark, _), serveBm25,
      bucketPoints("bkt") :+ foldPoint)
  }

  test("crash matrix: substr compaction recovers at every bucket-stage " +
      "point and before the tombstone reclaim") {
    val spark0 = spark
    import spark0.implicits._
    crashMatrix("substr_compact", Some("substr"),
      root => {
        Dedup.writeSubstrIndex(docs, s"$root/substr", k = 4)
        Dedup.deleteFromSubstrIndex(spark, ids("doc_id"), s"$root/substr")
        s"$root/substr"
      },
      Dedup.compactSubstrIndex(spark, _),
      // every doc re-submitted as a later one: the increment probes
      // every bucket holding a shingle of the corpus
      p => sorted(Dedup.exactSubstrIncrement(spark,
        texts.map { case (id, t) => (20L + id, t) }.toDF("doc_id", "text"),
        p)),
      bucketPoints("bkt") :+ reclaimPoint(ServedStore.Substr))
  }

  test("crash matrix: binary compaction recovers at every swap-stage " +
      "point and before the tombstone reclaim") {
    crashMatrix("binary_compact", Some("binary"),
      root => {
        Similarity.writeBinaryIndex(emb, s"$root/bin", dim = 8)
        Similarity.deleteFromBinaryIndex(spark, ids("vec_id"), s"$root/bin")
        s"$root/bin"
      },
      Similarity.compactBinaryIndex(spark, _), serveBinary,
      swapPoints("graftc-") :+ reclaimPoint(ServedStore.Binary))
  }

  test("crash matrix: binary fold recovers at every swap-stage point " +
      "and before the stub drop") {
    crashMatrix("binary_fold", Some("binary"),
      root => {
        Similarity.writeBinaryIndex(early(emb, "vec_id"), s"$root/bin",
          dim = 8)
        VectorIngest.ingestBatchBinary(late(emb, "vec_id"), 0L,
          s"$root/bin")
        s"$root/bin"
      },
      Similarity.foldStreamIntoBinaryIndex(spark, _), serveBinary,
      swapPoints("graftc-") :+ foldPoint)
  }

  test("crash matrix: phash compaction recovers at every swap-stage " +
      "point and before the tombstone reclaim") {
    crashMatrix("phash_compact", Some("phash"),
      root => {
        Multimodal.writePhashIndex(Multimodal.mediaTable(docs),
          s"$root/phash")
        Multimodal.deleteFromPhashIndex(spark, ids("media_id"),
          s"$root/phash")
        s"$root/phash"
      },
      Multimodal.compactPhashIndex(spark, _), servePhash,
      swapPoints("graftc-") :+ reclaimPoint(ServedStore.Phash))
  }

  test("crash matrix: phash fold recovers at every swap-stage point " +
      "and before the stub drop") {
    crashMatrix("phash_fold", Some("phash"),
      root => {
        Multimodal.writePhashIndex(
          Multimodal.mediaTable(early(docs, "doc_id")), s"$root/phash")
        MediaIngest.ingestBatch(Multimodal.mediaTable(late(docs, "doc_id")),
          0L, s"$root/phash")
        s"$root/phash"
      },
      Multimodal.foldStreamIntoPhashIndex(spark, _), servePhash,
      swapPoints("graftc-") :+ foldPoint)
  }

  /** One ingest feeds both the corpus table and the near-dup store. */
  private def ingestCorpus(root: String): Unit =
    CorpusIngest.ingestBatch(docs.select(col("doc_id"), col("text")), 0L,
      s"$root/corpus", s"$root/store", minChars = 0, lang = "en",
      maxHamming = 1)

  test("crash matrix: corpus compaction recovers at every swap-stage " +
      "point and before the manifested tombstone reclaim") {
    crashMatrix("corpus_compact", Some("corpus"),
      root => {
        ingestCorpus(root)
        CorpusIngest.deleteFromCorpus(spark, ids("doc_id"), s"$root/corpus")
        s"$root/corpus"
      },
      CorpusIngest.compactCorpus(spark, _),
      p => sorted(CorpusIngest.readCorpus(spark, p)),
      swapPoints("graftc-") :+ reclaimPoint(ServedStore.CorpusTable))
  }

  test("crash matrix: near-dup store compaction recovers at every " +
      "swap-stage point and before the manifested tombstone reclaim") {
    crashMatrix("store_compact", Some("neardup_store"),
      root => {
        ingestCorpus(root)
        StreamingNearDup.deleteFromStore(spark, ids("doc_id"),
          s"$root/store")
        s"$root/store"
      },
      StreamingNearDup.compactStore(spark, _),
      p => sorted(StreamingNearDup.readStore(spark, p)),
      swapPoints("graftc-") :+ reclaimPoint(ServedStore.NearDupStore))
  }

  private def history: DataFrame = {
    val spark0 = spark
    import spark0.implicits._
    (1L to 6L).flatMap(i => Seq((i, i * 10, "x", 0, s"r${i % 2}"),
        (i, i * 10 + 1, "y", 1, s"r${i % 2}")))
      .toDF("item_id", "event_id", "field", "current", "region")
  }

  private def forget(p: String): Long =
    Versioning.forget(spark, ids("item_id"),
      Versioning.ForgetTargets(historyPath = Some(p)))

  test("crash matrix: forget over a flat table recovers at every " +
      "swap-stage point") {
    crashMatrix("forget_flat", None,
      root => { history.write.parquet(s"$root/hist"); s"$root/hist" },
      forget, p => sorted(spark.read.parquet(p)), swapPoints("graftf-"))
  }

  test("crash matrix: forget over a partitioned table recovers at " +
      "every swap-stage point") {
    crashMatrix("forget_parts", None,
      root => {
        history.write.partitionBy("region").parquet(s"$root/hist")
        s"$root/hist"
      },
      forget, p => sorted(spark.read.parquet(p)), swapPoints("graftf-"))
  }
}
