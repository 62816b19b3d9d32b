package graft.streaming

import graft.{SparkSpec, Tables}
import graft.ml.Similarity
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

case class VecRow(vec_id: Long, embedding: Array[Float])

case class VecIdRow(vec_id: Long)

/** Streaming IVF maintenance: micro-batches of vectors append to the
  * served index's stream table against the STORED centroids; serving
  * base ∪ stream equals a from-scratch build of the union (assignment
  * is a pure function of the centroids); replays absorb; recycled
  * batch ids fail loudly.
  */
class VectorIngestSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"
  private def embs = Tables.embeddings(spark, dir)

  private def vecRows(df: org.apache.spark.sql.DataFrame): Seq[VecRow] = {
    val spark0 = spark
    import spark0.implicits._
    df.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().toSeq
      .map { case (id, e) => VecRow(id, e) }
  }

  test("streamed appends serve identically to a from-scratch union " +
      "build; pre-stream queries fall back to the base alone") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    val initial = embs.filter(col("vec_id") % 4 =!= 0)
    val cents = Similarity.seedCentroids(initial, nCells = 16)
    val tmp = java.nio.file.Files.createTempDirectory("vec_ingest")
    val idx = tmp.resolve("idx").toString
    Similarity.writeIvfIndex(initial, cents, idx)
    def served() = VectorIngest.queryServed(spark, idx, embs, cents,
      k = 5, probes = 3).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    // before any batch: identical to querying the base index
    val baseOnly = Similarity.queryIvfIndex(spark, idx, embs, cents,
      k = 5, probes = 3).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(served() === baseOnly)
    // stream the held-out quarter in two micro-batches
    val rest = vecRows(embs.filter(col("vec_id") % 4 === 0))
    val (b1, b2) = rest.splitAt(rest.length / 2)
    val in = MemoryStream[VecRow]
    val q = VectorIngest.start(in.toDF(), idx,
      tmp.resolve("ckpt").toString)
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    // union-equivalence: same centroids → same assignment → the
    // streamed index IS the full index
    val full = tmp.resolve("full").toString
    Similarity.writeIvfIndex(embs, cents, full)
    val fromScratch = Similarity.queryIvfIndex(spark, full, embs, cents,
      k = 5, probes = 3).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(served() === fromScratch)
  }

  test("PQ streamed appends (codes encoded against the stored " +
      "codebook) serve identically to a from-scratch PQ union build") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    val initial = embs.filter(col("vec_id") % 4 =!= 0)
    val cents = Similarity.seedCentroids(initial, nCells = 16)
    val cb = Similarity.fitPqCodebook(initial, nSub = 8,
      codesPerSub = 16, iters = 1)
    val tmp = java.nio.file.Files.createTempDirectory("vec_ingest_pq")
    val idx = tmp.resolve("idx").toString
    Similarity.writeIvfPqIndex(initial, cents, cb, nSub = 8, idx)
    def served() = VectorIngest.queryServedPq(spark, idx, embs, embs,
      k = 5, refine = 50, probes = 3).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    // before any batch: the base alone
    val baseOnly = Similarity.queryIvfPqIndex(spark, idx, embs, embs,
      k = 5, refine = 50, probes = 3).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(served() === baseOnly)
    val rest = vecRows(embs.filter(col("vec_id") % 4 === 0))
    val (b1, b2) = rest.splitAt(rest.length / 2)
    val in = MemoryStream[VecRow]
    val q = VectorIngest.startPq(in.toDF(), idx,
      tmp.resolve("ckpt").toString)
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    val full = tmp.resolve("full").toString
    Similarity.writeIvfPqIndex(embs, cents, cb, nSub = 8, full)
    val fromScratch = Similarity.queryIvfPqIndex(spark, full, embs,
      embs, k = 5, refine = 50, probes = 3).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(served() === fromScratch)
  }

  test("a replayed batch is absorbed; a recycled batch id with " +
      "different content fails loudly") {
    val initial = embs.filter(col("vec_id") % 4 =!= 0)
    val cents = Similarity.seedCentroids(initial, nCells = 16)
    val tmp = java.nio.file.Files.createTempDirectory("vec_replay")
    val idx = tmp.resolve("idx").toString
    Similarity.writeIvfIndex(initial, cents, idx)
    val batch = embs.filter(col("vec_id") % 4 === 0)
    VectorIngest.ingestBatch(batch, 0L, idx)
    val n1 = spark.read.parquet(VectorIngest.streamPath(idx)).count()
    // replay: same id, same content — absorbed, nothing duplicated
    VectorIngest.ingestBatch(batch, 0L, idx)
    assert(spark.read.parquet(VectorIngest.streamPath(idx)).count() === n1)
    // recycled id: same id, DIFFERENT content — loud failure
    intercept[IllegalArgumentException] {
      VectorIngest.ingestBatch(batch.limit(3), 0L, idx)
    }
  }

  test("streamed deletes mask base AND streamed vectors; compaction " +
      "refuses while the stream sibling exists") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    val initial = embs.filter(col("vec_id") % 4 =!= 0)
    val cents = Similarity.seedCentroids(initial, nCells = 16)
    val tmp = java.nio.file.Files.createTempDirectory("vec_sdel")
    try {
      val idx = tmp.resolve("idx").toString
      Similarity.writeIvfIndex(initial, cents, idx)
      // the held-out quarter arrives via a streamed append
      VectorIngest.ingestBatch(embs.filter(col("vec_id") % 4 === 0),
        0L, idx)
      // delete one base vector and one streamed vector via the stream
      val dead = Seq(3L, 4L)
      val in = MemoryStream[VecIdRow]
      val q = VectorIngest.startDeletes(in.toDF(), idx,
        tmp.resolve("dckpt").toString)
      try {
        in.addData(VecIdRow(3L)); q.processAllAvailable()
        in.addData(VecIdRow(4L)); q.processAllAvailable()
      } finally q.stop()
      val alive = embs.filter(!col("vec_id").isin(dead.map(x => x: Any): _*))
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
          r.getDouble(3))).toSet
      val served = rows(VectorIngest.queryServed(spark, idx, alive,
        cents, k = 5, probes = 3))
      val full = tmp.resolve("full").toString
      Similarity.writeIvfIndex(alive, cents, full)
      assert(served === rows(Similarity.queryIvfIndex(spark, full,
        alive, cents, k = 5, probes = 3)))
      assert(served.nonEmpty)
      assert(!served.exists(r => dead.contains(r._3)))
      val ex = intercept[IllegalArgumentException] {
        Similarity.compactIvfIndex(spark, idx)
      }
      assert(ex.getMessage.contains("_stream"))
    } finally {
      import scala.reflect.io.Directory
      new Directory(tmp.toFile).deleteRecursively()
    }
  }
  test("foldStreamIntoIvfIndex: batches drain into the base, serving " +
      "never sees a row twice, crash states resume, replays stay " +
      "absorbed, and compaction unlocks only after the fold") {
    val spark0 = spark
    import spark0.implicits._
    val initial = embs.filter(col("vec_id") % 4 =!= 0)
    val cents = Similarity.seedCentroids(initial, nCells = 16)
    val tmp = java.nio.file.Files.createTempDirectory("vec_fold")
    try {
      val idx = tmp.resolve("idx").toString
      Similarity.writeIvfIndex(initial, cents, idx)
      val b0 = embs.filter(col("vec_id") % 8 === 0)
      val b1 = embs.filter(col("vec_id") % 8 === 4)
      VectorIngest.ingestBatch(b0, 0L, idx)
      VectorIngest.ingestBatch(b1, 1L, idx)
      val b0Ids = b0.select("vec_id").as[Long].collect().toSet
      def served(q: org.apache.spark.sql.DataFrame) =
        VectorIngest.queryServed(spark, idx, q, cents, k = 5, probes = 3)
          .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
          .toSet
      // tombstone one streamed and one base vector; compaction must
      // refuse while the sibling holds un-folded data
      Similarity.deleteFromIvfIndex(spark, Seq(0L, 1L).toDF("vec_id"),
        idx)
      val exCmp = intercept[IllegalArgumentException] {
        Similarity.compactIvfIndex(spark, idx)
      }
      assert(exCmp.getMessage.contains("foldStreamIntoIvfIndex"))
      // crash window A: a batch MARKED but not folded is absent from
      // serving (never duplicated) and resumes at the next fold entry
      val fs = new org.apache.hadoop.fs.Path(idx)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val batch0Dir = new org.apache.hadoop.fs.Path(
        idx + Similarity.StreamSiblingSuffix, "ingest_batch=0")
      fs.create(new org.apache.hadoop.fs.Path(batch0Dir,
        BatchCommit.FoldedMarker), true).close()
      val alive = embs.filter(!col("vec_id").isin(0L, 1L))
      val gapJs = served(alive).map(_._3)
      assert(gapJs.intersect(b0Ids).isEmpty,
        "a marked-but-unfolded batch leaked into serving")
      // save batch 0's torn state (marker + data) for crash window B
      val saved = new org.apache.hadoop.fs.Path(
        tmp.resolve("saved_b0").toString)
      org.apache.hadoop.fs.FileUtil.copy(fs, batch0Dir, fs, saved,
        false, spark.sparkContext.hadoopConfiguration)
      // the fold drains BOTH batches (the marked one resumes)
      assert(Similarity.foldStreamIntoIvfIndex(spark, idx) === 2L)
      val stubs = Seq("ingest_batch=0", "ingest_batch=1").map(n =>
        new org.apache.hadoop.fs.Path(
          idx + Similarity.StreamSiblingSuffix, n))
      stubs.foreach { st =>
        assert(fs.exists(new org.apache.hadoop.fs.Path(st, "_SUCCESS")))
        assert(fs.exists(new org.apache.hadoop.fs.Path(st,
          "_GRAFT_BATCH_SIG")))
        assert(fs.exists(new org.apache.hadoop.fs.Path(st,
          BatchCommit.FoldedMarker)))
        assert(!BatchCommit.holdsData(fs, st),
          s"stub $st still holds data")
      }
      // folded-then-compacted serving == from-scratch build of the
      // surviving corpus (same centroids)
      val aliveIdx = tmp.resolve("alive").toString
      Similarity.writeIvfIndex(alive, cents, aliveIdx)
      val fromScratch = Similarity.queryIvfIndex(spark, aliveIdx, alive,
          cents, k = 5, probes = 3)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
        .toSet
      assert(served(alive) === fromScratch && fromScratch.nonEmpty)
      // crash window B (BEFORE compaction — a torn fold blocks the
      // compactor's data check, so this is the only order the state
      // can occur in): the apply ran but the data delete crashed —
      // restore the torn state and refold; the distinct union
      // converges instead of duplicating
      fs.delete(batch0Dir, true)
      org.apache.hadoop.fs.FileUtil.copy(fs, saved, fs, batch0Dir,
        false, spark.sparkContext.hadoopConfiguration)
      assert(BatchCommit.holdsData(fs, batch0Dir))
      assert(Similarity.foldStreamIntoIvfIndex(spark, idx) === 1L)
      assert(served(alive) === fromScratch)
      val dupCount = spark.read.parquet(idx)
        .groupBy(col("vec_id")).count()
        .filter(col("count") > 1).count()
      assert(dupCount === 0L, "refold duplicated rows in the base")
      // only now is the sibling data-less: compaction proceeds and
      // serving stays identical
      assert(Similarity.compactIvfIndex(spark, idx) > 0L)
      assert(served(alive) === fromScratch)
      assert(tombstonesEmpty(idx, "_graft_deleted"))
      // replay absorption survives the fold: same (id, content) no-ops
      // against the stub; a recycled id still fails loudly
      VectorIngest.ingestBatch(b0, 0L, idx)
      assert(!BatchCommit.holdsData(fs, batch0Dir),
        "a genuine replay re-materialized a folded batch")
      intercept[IllegalArgumentException] {
        VectorIngest.ingestBatch(b1, 0L, idx)
      }
    } finally {
      import scala.reflect.io.Directory
      new Directory(tmp.toFile).deleteRecursively()
    }
  }

  test("foldStreamIntoIvfIndex on a PQ base: streamed code partitions " +
      "fold into the base and serve identically to a from-scratch PQ " +
      "union build") {
    val spark0 = spark
    import spark0.implicits._
    val initial = embs.filter(col("vec_id") % 4 =!= 0)
    val cents = Similarity.seedCentroids(initial, nCells = 16)
    val cb = Similarity.fitPqCodebook(initial, nSub = 8,
      codesPerSub = 16, iters = 1)
    val tmp = java.nio.file.Files.createTempDirectory("vec_fold_pq")
    try {
      val idx = tmp.resolve("idx").toString
      Similarity.writeIvfPqIndex(initial, cents, cb, nSub = 8, idx)
      VectorIngest.ingestBatchPq(embs.filter(col("vec_id") % 8 === 0),
        0L, idx)
      VectorIngest.ingestBatchPq(embs.filter(col("vec_id") % 8 === 4),
        1L, idx)
      assert(Similarity.foldStreamIntoIvfIndex(spark, idx) === 2L)
      val fs = new org.apache.hadoop.fs.Path(idx)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(!BatchCommit.anyHoldsData(fs,
        new org.apache.hadoop.fs.Path(
          idx + Similarity.StreamSiblingSuffix)))
      val full = tmp.resolve("full").toString
      Similarity.writeIvfPqIndex(embs, cents, cb, nSub = 8, full)
      def top(p: String) = Similarity.queryIvfPqIndex(spark, p, embs,
          embs, k = 5, refine = 50, probes = 3).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      // base-only read (stubs skipped) == from-scratch union build,
      // and the streamed-serving wrapper agrees
      assert(top(idx) === top(full) && top(idx).nonEmpty)
      assert(VectorIngest.queryServedPq(spark, idx, embs, embs,
          k = 5, refine = 50, probes = 3).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
        === top(full))
    } finally {
      import scala.reflect.io.Directory
      new Directory(tmp.toFile).deleteRecursively()
    }
  }

  test("binary streamed appends serve identically to a from-scratch " +
      "union rebuild; replays absorb; recycled ids refuse loudly") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    val initial = embs.filter(col("vec_id") % 4 =!= 0)
    val tmp = java.nio.file.Files.createTempDirectory("vec_bin")
    try {
      val idx = tmp.resolve("idx").toString
      Similarity.writeBinaryIndex(initial, idx, dim = 64)
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
          r.getDouble(3))).toSet
      val qIds = embs.filter(col("vec_id") % 10 === 0)
        .select(col("vec_id"))
      // stream the held-out quarter in two micro-batches
      val rest = vecRows(embs.filter(col("vec_id") % 4 === 0))
      val (b1, b2) = rest.splitAt(rest.length / 2)
      val in = MemoryStream[VecRow]
      val q = VectorIngest.startBinary(in.toDF(), idx,
        tmp.resolve("ckpt").toString)
      try {
        in.addData(b1: _*); q.processAllAvailable()
        in.addData(b2: _*); q.processAllAvailable()
      } finally q.stop()
      val served = rows(VectorIngest.queryServedBinary(spark, idx,
        embs, qIds, k = 5, refine = 100))
      // sign bits are a pure per-row function: base ∪ streamed must
      // BIT-equal a from-scratch build of the union corpus
      val full = tmp.resolve("full").toString
      Similarity.writeBinaryIndex(embs, full, dim = 64)
      assert(served === rows(Similarity.binaryTopKServed(spark, full,
        embs, qIds, k = 5, refine = 100)))
      assert(served.nonEmpty)
      // replay absorption / recycled-id refusal (the BatchCommit
      // discipline, binary edition): replay batch 0 with its OWN
      // content — absorbed; then with different content — refused
      VectorIngest.ingestBatchBinary(b1.toDF(), 0L, idx)
      assert(rows(VectorIngest.queryServedBinary(spark, idx, embs,
        qIds, k = 5, refine = 100)) === served)
      intercept[IllegalArgumentException] {
        VectorIngest.ingestBatchBinary(b1.take(3).toDF(), 0L, idx)
      }
    } finally {
      import scala.reflect.io.Directory
      new Directory(tmp.toFile).deleteRecursively()
    }
  }

  test("binary fold drains streamed batches through the reader-safe " +
      "uuid swap: serving unchanged (deletes still masked), stubs " +
      "keep the replay ledger, compaction refuses before the fold " +
      "and physically reclaims after it") {
    val spark0 = spark
    import spark0.implicits._
    val initial = embs.filter(col("vec_id") % 4 =!= 0)
    val tmp = java.nio.file.Files.createTempDirectory("vec_binfold")
    try {
      val idx = tmp.resolve("idx").toString
      Similarity.writeBinaryIndex(initial, idx, dim = 64)
      VectorIngest.ingestBatchBinary(
        embs.filter(col("vec_id") % 4 === 0), 7L, idx)
      // delete one base id and one streamed id — the mask must cover
      // both, before AND after the fold
      val dead = Seq(3L, 4L)
      Similarity.deleteFromBinaryIndex(spark,
        dead.toDF("vec_id"), idx)
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
          r.getDouble(3))).toSet
      val alive = embs.filter(!col("vec_id").isin(dead.map(x => x: Any): _*))
      val qIds = alive.filter(col("vec_id") % 10 === 0)
        .select(col("vec_id"))
      def serve() = rows(VectorIngest.queryServedBinary(spark, idx,
        alive, qIds, k = 5, refine = 100))
      val before = serve()
      assert(before.nonEmpty && !before.exists(r => dead.contains(r._3)))
      // compaction refuses while the sibling holds un-folded data —
      // rewriting the base alone would drop tombstones that still
      // mask STREAMED rows
      val ex = intercept[IllegalArgumentException] {
        Similarity.compactBinaryIndex(spark, idx)
      }
      assert(ex.getMessage.contains("_stream"))
      assert(Similarity.foldStreamIntoBinaryIndex(spark, idx) === 1L)
      assert(serve() === before, "fold changed serving results")
      // the batch data is gone, the replay ledger remains
      val part = new java.io.File(
        VectorIngest.streamPath(idx), "ingest_batch=7")
      val names = part.listFiles().map(_.getName).toSet
      assert(names.contains("_SUCCESS") &&
        names.contains("_GRAFT_BATCH_SIG"))
      assert(!names.exists(_.endsWith(".parquet")))
      // a post-fold replay of the drained batch is absorbed as a
      // no-op (the stub + content signature ARE the ledger)
      VectorIngest.ingestBatchBinary(
        embs.filter(col("vec_id") % 4 === 0), 7L, idx)
      assert(!part.listFiles().map(_.getName)
        .exists(_.endsWith(".parquet")), "replay re-materialized data")
      // compaction now proceeds and physically drops the dead rows
      assert(Similarity.compactBinaryIndex(spark, idx) === 2L)
      assert(serve() === before)
      val left = spark.read.parquet(idx)
        .filter(col("vec_id").isin(dead.map(x => x: Any): _*)).count()
      assert(left === 0L, "compaction left dead rows behind")
      // idempotent re-entry: nothing to do
      assert(Similarity.compactBinaryIndex(spark, idx) === 0L)
    } finally {
      import scala.reflect.io.Directory
      new Directory(tmp.toFile).deleteRecursively()
    }
  }
}
