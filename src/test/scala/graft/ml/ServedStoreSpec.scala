package graft.ml

import java.nio.file.Files

import graft.SparkSpec
import graft.streaming.{CorpusIngest, MediaIngest, StreamingNearDup}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The tombstone contract every [[ServedStore]] shares, driven through
  * each store's PUBLIC delete and served read: a NULL id fails naming
  * the public op, a delete refuses while a maintenance sweep holds the
  * root, a repeated delete plus an unknown id changes no served answer,
  * data files stay byte-identical, and the debt report counts exactly
  * the distinct deleted ids.
  */
class ServedStoreSpec extends SparkSpec {

  // stopword-dense English docs with mutually distant simhashes, so the
  // corpus ingest admits each one; doc 3 — the victim — carries the
  // unique token "zebraqq" and the unique run q1..q6
  private val texts = Seq(
    1L -> "the first note is about the parts of a supply chain and the price that is paid in the region",
    2L -> "a second text that covers the orders of the customers and the revenue of a market in one year",
    3L -> "the zebraqq document holds the unique run q1 q2 q3 q4 q5 q6 and that is the content to remove",
    4L -> "a fourth entry on the lineage of the data and the audit of a pipeline that is run in the lake",
    5L -> "the fifth text is a note on the schema of the tables and the keys that join them in an engine",
    6L -> "a sixth document about the streaming of events and the windows of time that group them by key")
  private val victim = 3L

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

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** One ingest feeds both the corpus table and the near-dup store. */
  private def ingestCorpus(root: String): Unit =
    CorpusIngest.ingestBatch(docs.select(col("doc_id"), col("text")), 0L,
      s"$root/corpus", s"$root/store", minChars = 0, lang = "en",
      maxHamming = 1)

  /** A store under test: its public delete's name, a builder that
    * returns the store path under a fresh root, the public delete, and
    * a served answer over the store.
    */
  private final case class Case(publicOp: String, build: String => String,
      delete: (DataFrame, String) => Unit, serve: String => Seq[String])

  private val cases: Seq[(String, Case)] = Seq(
    "bm25" -> Case("deleteBm25Docs",
      root => {
        Retrieval.writeBm25Index(docs, s"$root/bm25", nBuckets = 4)
        s"$root/bm25"
      },
      Retrieval.deleteBm25Docs(spark, _, _),
      p => {
        val spark0 = spark
        import spark0.implicits._
        sorted(Retrieval.queryBm25Index(spark, p,
          Seq((99L, Seq("zebraqq", "document"))).toDF("query_id", "terms"),
          k = 6))
      }),
    "ivf" -> Case("deleteFromIvfIndex",
      root => {
        Similarity.writeIvfIndex(emb, cents, s"$root/ivf")
        s"$root/ivf"
      },
      Similarity.deleteFromIvfIndex(spark, _, _),
      p => sorted(Similarity.queryIvfIndex(spark, p, emb, cents, k = 3,
        probes = 2))),
    "binary" -> Case("deleteFromBinaryIndex",
      root => {
        Similarity.writeBinaryIndex(emb, s"$root/bin", dim = 8)
        s"$root/bin"
      },
      Similarity.deleteFromBinaryIndex(spark, _, _),
      p => sorted(Similarity.binaryTopKServed(spark, p, emb,
        emb.select(col("vec_id")), k = 3, refine = 6))),
    "phash" -> Case("deleteFromPhashIndex",
      root => {
        Multimodal.writePhashIndex(Multimodal.mediaTable(docs),
          s"$root/phash")
        s"$root/phash"
      },
      Multimodal.deleteFromPhashIndex(spark, _, _),
      p => sorted(MediaIngest.servedHashes(spark, p))),
    "substr" -> Case("deleteFromSubstrIndex",
      root => {
        Dedup.writeSubstrIndex(docs, s"$root/substr", k = 4)
        s"$root/substr"
      },
      Dedup.deleteFromSubstrIndex(spark, _, _),
      p => {
        val spark0 = spark
        import spark0.implicits._
        sorted(Dedup.exactSubstrIncrement(spark,
          Seq((20L, "q1 q2 q3 q4 q5 q6")).toDF("doc_id", "text"), p))
      }),
    "corpus" -> Case("deleteFromCorpus",
      root => { ingestCorpus(root); s"$root/corpus" },
      CorpusIngest.deleteFromCorpus(spark, _, _),
      p => sorted(CorpusIngest.readCorpus(spark, p))),
    "neardup_store" -> Case("deleteFromStore",
      root => { ingestCorpus(root); s"$root/store" },
      StreamingNearDup.deleteFromStore(spark, _, _),
      p => sorted(StreamingNearDup.readStore(spark, p))))

  /** Every message on the cause chain — a failed write wraps the
    * task's error.
    */
  private def messages(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(x => String.valueOf(x.getMessage)).mkString("\n")

  /** path → md5 of every file under `root` outside the tombstone dir. */
  private def dataFiles(root: String, deletedDir: String)
      : Map[String, String] = {
    val base = new java.io.File(root)
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory)
        f.listFiles().toSeq.filterNot(_.getName == deletedDir)
          .flatMap(walk)
      else Seq(f)
    walk(base).map { f =>
      val md5 = java.security.MessageDigest.getInstance("MD5")
        .digest(Files.readAllBytes(f.toPath)).map("%02x".format(_))
        .mkString
      base.toPath.relativize(f.toPath).toString -> md5
    }.toMap
  }

  test("the seven stores: distinct underscore-hidden tombstone dirs, " +
      "and their names are exactly the families maintainIndex accepts") {
    val dirs = ServedStore.all.map(_.deletedDir)
    assert(dirs.size === 7 && dirs.distinct === dirs, s"dirs: $dirs")
    assert(dirs.forall(_.startsWith("_")), s"dirs: $dirs")
    assert(ServedStore.all.map(_.family) === cases.map(_._1))
    val empty = Files.createTempDirectory("graft_served_names").toString
    ServedStore.all.foreach { s =>
      assert(ServedStore.named(s.family) eq s)
      assert(Maintenance.compactionDebt(spark, empty, s.family) ===
        Maintenance.IndexDebt(s.family, 0L, 0L, 0L, 0L))
    }
    intercept[IllegalArgumentException] {
      Maintenance.compactionDebt(spark, empty, "hnsw")
    }
    ()
  }

  /** The shared contract, checked on `family`'s store: NULL ids fail
    * naming the public op, deletes refuse under the maintenance lock,
    * re-deletes and unknown ids change no served answer, data files
    * stay byte-identical, and the debt counts the distinct deleted ids.
    */
  private def checkContract(family: String): Unit = {
    val c = cases.toMap.apply(family)
    val spark0 = spark
    import spark0.implicits._
    val store = ServedStore.named(family)
    assert(store.deleteOp === c.publicOp)
    val idCol = store.idCol
    val root = Files.createTempDirectory(s"graft_served_$family")
      .toString
    val path = c.build(root)
    def tombstoneIds =
      Maintenance.compactionDebt(spark, path, family).tombstoneIds
    val nullMsg = messages(intercept[Exception] {
      c.delete(Seq(Some(1L), None).toDF(idCol), path)
    })
    assert(nullMsg.contains(s"${c.publicOp}: null $idCol in delete batch"),
      nullMsg)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(path,
      Maintenance.MaintainingMarker)
    fs.create(marker, false).close()
    val locked = intercept[IllegalStateException] {
      c.delete(Seq(victim).toDF(idCol), path)
    }
    assert(locked.getMessage.startsWith(
      s"${c.publicOp}: a maintenance sweep"), locked.getMessage)
    fs.delete(marker, false)
    assert(tombstoneIds === 0L, "a refused delete left a tombstone")

    val before = c.serve(path)
    val files0 = dataFiles(path, store.deletedDir)
    c.delete(Seq(victim).toDF(idCol), path)
    assert(dataFiles(path, store.deletedDir) === files0,
      "the delete touched data files")
    assert(tombstoneIds === 1L)
    val masked = c.serve(path)
    assert(masked !== before, "the victim must be served before the delete")
    val files1 = dataFiles(path, store.deletedDir)
    c.delete(Seq(victim, 999L).toDF(idCol), path)
    assert(dataFiles(path, store.deletedDir) === files1,
      "the re-delete touched data files")
    assert(c.serve(path) === masked,
      "a re-delete plus an unknown id changed the served answer")
    assert(tombstoneIds === 2L)
  }

  test("the manual base appends refuse under the maintenance writer " +
      "lock and leave no new data file") {
    val root = Files.createTempDirectory("graft_served_appends").toString
    val (oldDocs, newDocs) =
      (docs.filter(col("doc_id") <= 4L), docs.filter(col("doc_id") > 4L))
    val (oldEmb, newEmb) =
      (emb.filter(col("vec_id") <= 4L), emb.filter(col("vec_id") > 4L))
    val c = cents
    Similarity.writeIvfIndex(oldEmb, c, s"$root/ivf")
    Similarity.writeIvfPqIndex(oldEmb, c,
      Similarity.fitPqCodebook(emb, nSub = 2, codesPerSub = 2, iters = 1),
      nSub = 2, s"$root/pq")
    Retrieval.writeBm25Index(oldDocs, s"$root/bm25", nBuckets = 4)
    Dedup.writeSubstrIndex(oldDocs, s"$root/substr", k = 4)
    val appends: Seq[(String, String, String => Unit)] = Seq(
      ("appendIvfIndex", s"$root/ivf",
        Similarity.appendIvfIndex(spark, newEmb, _)),
      ("appendIvfPqIndex", s"$root/pq",
        Similarity.appendIvfPqIndex(spark, newEmb, _)),
      ("appendBm25Index", s"$root/bm25",
        Retrieval.appendBm25Index(spark, newDocs, _)),
      ("appendSubstrIndex", s"$root/substr",
        Dedup.appendSubstrIndex(spark, newDocs, _)))
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val offenders = appends.flatMap { case (op, path, append) =>
      val marker = new org.apache.hadoop.fs.Path(path,
        Maintenance.MaintainingMarker)
      fs.create(marker, false).close()
      val files0 = dataFiles(path, Maintenance.MaintainingMarker)
      val refusal =
        try { append(path); Some(s"$op: appended under the lock") }
        catch {
          case e: IllegalStateException
              if e.getMessage.startsWith(s"$op: a maintenance sweep") =>
            None
          case e: Exception => Some(s"$op: ${messages(e)}")
        }
      val wrote =
        if (dataFiles(path, Maintenance.MaintainingMarker) === files0) None
        else Some(s"$op: wrote data files under the lock")
      fs.delete(marker, false)
      refusal ++ wrote
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  // one explicit test per store (not a generated loop), so the
  // README's suite count stays a count of test definitions
  test("bm25 store honours the tombstone contract") {
    checkContract("bm25")
  }

  test("ivf store honours the tombstone contract") {
    checkContract("ivf")
  }

  test("binary store honours the tombstone contract") {
    checkContract("binary")
  }

  test("phash store honours the tombstone contract") {
    checkContract("phash")
  }

  test("substr store honours the tombstone contract") {
    checkContract("substr")
  }

  test("corpus store honours the tombstone contract") {
    checkContract("corpus")
  }

  test("neardup_store store honours the tombstone contract") {
    checkContract("neardup_store")
  }
}
