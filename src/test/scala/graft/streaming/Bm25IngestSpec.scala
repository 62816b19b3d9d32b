package graft.streaming

import graft.{SparkSpec, Tables}
import graft.ml.Retrieval
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

case class DocRow(doc_id: Long, text: String)

case class DocIdRow(doc_id: Long)

/** Streaming BM25 maintenance: micro-batches of documents append to
  * the served index's stream table hashed with the STORED bucket
  * count; serving base ∪ stream equals a from-scratch build of the
  * union corpus exactly (df and scoring scalars derive from stored
  * tables); replays absorb; recycled batch ids fail loudly; a
  * partition without its manual `_SUCCESS` is never served.
  */
class Bm25IngestSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"
  private def docs = Tables.documents(spark, dir)
    .select(col("doc_id"), col("text"))

  private def queriesDf = {
    val spark0 = spark
    import spark0.implicits._
    docs.filter(col("doc_id") % 25 === 0)
      .select(col("doc_id").as("query_id"),
        slice(split(col("text"), " "), 1, 4).as("terms"))
  }

  private def docRows(df: org.apache.spark.sql.DataFrame): Seq[DocRow] = {
    val spark0 = spark
    import spark0.implicits._
    df.as[(Long, String)].collect().toSeq
      .map { case (id, t) => DocRow(id, t) }
  }

  private def rows(df: org.apache.spark.sql.DataFrame) = {
    val spark0 = spark
    import spark0.implicits._
    df.orderBy(col("query_id"), col("rank"))
      .as[(Long, Int, Long, Double)].collect().toSeq
  }

  test("streamed documents serve identically to a from-scratch union " +
      "build; pre-stream queries fall back to the base alone") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    val initial = docs.filter(col("doc_id") % 4 =!= 0)
    val tmp = java.nio.file.Files.createTempDirectory("bm25_ingest")
    try {
      val idx = tmp.resolve("idx").toString
      Retrieval.writeBm25Index(initial, idx, nBuckets = 32)
      // before any batch: identical to querying the base index
      assert(rows(Bm25Ingest.queryServed(spark, idx, queriesDf, 5)) ===
        rows(Retrieval.queryBm25Index(spark, idx, queriesDf, 5)))
      val rest = docRows(docs.filter(col("doc_id") % 4 === 0))
      val (b1, b2) = rest.splitAt(rest.length / 2)
      val in = MemoryStream[DocRow]
      val q = Bm25Ingest.start(in.toDF(), idx,
        tmp.resolve("ckpt").toString)
      try {
        in.addData(b1: _*); q.processAllAvailable()
        in.addData(b2: _*); q.processAllAvailable()
      } finally q.stop()
      val full = tmp.resolve("full").toString
      Retrieval.writeBm25Index(docs, full, nBuckets = 32)
      val served = rows(Bm25Ingest.queryServed(spark, idx, queriesDf, 5))
      assert(served === rows(
        Retrieval.queryBm25Index(spark, full, queriesDf, 5)))
      assert(served.nonEmpty)
    } finally {
      import scala.reflect.io.Directory
      new Directory(tmp.toFile).deleteRecursively()
    }
  }

  test("a replayed batch is absorbed; a recycled batch id fails " +
      "loudly; an uncommitted partition (no _SUCCESS) is not served") {
    val initial = docs.filter(col("doc_id") % 4 =!= 0)
    val batch = docs.filter(col("doc_id") % 4 === 0)
    val tmp = java.nio.file.Files.createTempDirectory("bm25_replay")
    try {
      val idx = tmp.resolve("idx").toString
      Retrieval.writeBm25Index(initial, idx, nBuckets = 32)
      Bm25Ingest.ingestBatch(batch, 0L, idx)
      val afterOne = rows(Bm25Ingest.queryServed(spark, idx, queriesDf, 5))
      // replay: same id, same content — absorbed, results unchanged
      Bm25Ingest.ingestBatch(batch, 0L, idx)
      assert(rows(Bm25Ingest.queryServed(spark, idx, queriesDf, 5)) ===
        afterOne)
      // recycled id: same id, DIFFERENT content — loud failure
      intercept[IllegalArgumentException] {
        Bm25Ingest.ingestBatch(batch.limit(3), 0L, idx)
      }
      // a partition that lost its _SUCCESS (simulated partial commit)
      // must drop out of serving entirely, not serve partial postings
      val part = new java.io.File(
        Bm25Ingest.streamPath(idx), "ingest_batch=0")
      assert(new java.io.File(part, "_SUCCESS").delete())
      assert(rows(Bm25Ingest.queryServed(spark, idx, queriesDf, 5)) ===
        rows(Retrieval.queryBm25Index(spark, idx, queriesDf, 5)))
    } finally {
      import scala.reflect.io.Directory
      new Directory(tmp.toFile).deleteRecursively()
    }
  }

  test("streamed deletes mask base AND streamed docs; compaction " +
      "refuses while the stream sibling exists") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    val initial = docs.filter(col("doc_id") % 4 =!= 0)
    val tmp = java.nio.file.Files.createTempDirectory("bm25_sdel")
    try {
      val idx = tmp.resolve("idx").toString
      Retrieval.writeBm25Index(initial, idx, nBuckets = 32)
      // the held-out quarter arrives via a streamed APPEND, so some
      // deletable docs live only in stream partitions
      Bm25Ingest.ingestBatch(docs.filter(col("doc_id") % 4 === 0),
        0L, idx)
      // delete stream: one base doc (id % 4 != 0) and one streamed
      // doc (id % 4 == 0), in two micro-batches
      val dead = Seq(3L, 4L)
      val in = MemoryStream[DocIdRow]
      val q = Bm25Ingest.startDeletes(in.toDF(), idx,
        tmp.resolve("dckpt").toString)
      try {
        in.addData(DocIdRow(3L)); q.processAllAvailable()
        in.addData(DocIdRow(4L)); q.processAllAvailable()
      } finally q.stop()
      val served = rows(Bm25Ingest.queryServed(spark, idx, queriesDf, 5))
      val full = tmp.resolve("full").toString
      Retrieval.writeBm25Index(
        docs.filter(!col("doc_id").isin(dead.map(x => x: Any): _*)),
        full, nBuckets = 32)
      assert(served === rows(
        Retrieval.queryBm25Index(spark, full, queriesDf, 5)))
      assert(served.nonEmpty)
      assert(!served.exists(r => dead.contains(r._3)))
      // compacting the base alone would un-mask the streamed copy of
      // doc 4 the moment the tombstones drop — must refuse
      val ex = intercept[IllegalArgumentException] {
        Retrieval.compactBm25Index(spark, idx)
      }
      assert(ex.getMessage.contains("_stream"))
    } finally {
      import scala.reflect.io.Directory
      new Directory(tmp.toFile).deleteRecursively()
    }
  }
  test("foldStreamIntoBm25Index: batches drain into base postings AND " +
      "doc lengths, compaction unlocks after the fold, refolds " +
      "converge, and replays stay absorbed") {
    val spark0 = spark
    import spark0.implicits._
    val initial = docs.filter(col("doc_id") % 4 =!= 0)
    val tmp = java.nio.file.Files.createTempDirectory("bm25_fold")
    try {
      val idx = tmp.resolve("idx").toString
      Retrieval.writeBm25Index(initial, idx, nBuckets = 32)
      val b0 = docs.filter(col("doc_id") % 8 === 0)
      val b1 = docs.filter(col("doc_id") % 8 === 4)
      Bm25Ingest.ingestBatch(b0, 0L, idx)
      Bm25Ingest.ingestBatch(b1, 1L, idx)
      // tombstone a streamed doc (0 % 8 == 0) and a base doc, then:
      // compaction refuses while the sibling holds un-folded data
      Retrieval.deleteBm25Docs(spark, Seq(0L, 1L).toDF("doc_id"), idx)
      val exCmp = intercept[IllegalArgumentException] {
        Retrieval.compactBm25Index(spark, idx)
      }
      assert(exCmp.getMessage.contains("foldStreamIntoBm25Index"))
      assert(Retrieval.foldStreamIntoBm25Index(spark, idx) === 2L)
      val fs = new org.apache.hadoop.fs.Path(idx)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      Seq("ingest_batch=0", "ingest_batch=1").foreach { n =>
        val st = new org.apache.hadoop.fs.Path(
          idx + graft.ml.Similarity.StreamSiblingSuffix, n)
        assert(fs.exists(new org.apache.hadoop.fs.Path(st, "_SUCCESS")))
        assert(fs.exists(new org.apache.hadoop.fs.Path(st,
          BatchCommit.FoldedMarker)))
        assert(!BatchCommit.holdsData(fs, st))
      }
      // folded serving == from-scratch build of the surviving corpus —
      // df, n_docs, avgdl re-derived over the union
      val aliveIdx = tmp.resolve("alive").toString
      Retrieval.writeBm25Index(
        docs.filter(!col("doc_id").isin(0L, 1L)), aliveIdx,
        nBuckets = 32)
      def serve(p: String) =
        rows(Retrieval.queryBm25Index(spark, p, queriesDf, 5))
      assert(serve(idx) === serve(aliveIdx) && serve(idx).nonEmpty)
      // streamed-serving path agrees too (stubs skipped, not read)
      assert(rows(Bm25Ingest.queryServed(spark, idx, queriesDf, 5))
        === serve(aliveIdx))
      // refold convergence (BEFORE compaction — a torn fold blocks
      // the compactor's data check, so this is the only order the
      // state can occur in): restore a torn batch (marker + data) and
      // refold — the distinct unions absorb the already-applied rows
      val batch0Dir = new org.apache.hadoop.fs.Path(
        idx + graft.ml.Similarity.StreamSiblingSuffix, "ingest_batch=0")
      val nBuckets = spark.read
        .parquet(s"$idx/${Retrieval.StatsDir}")
        .head().getAs[Int]("n_buckets")
      val (tfB, dlB, _) = Retrieval.corpusStats(b0)
      tfB.withColumn("bkt",
          pmod(xxhash64(col("term")), lit(nBuckets.toLong)))
        .write.mode("overwrite").partitionBy("bkt")
        .parquet(s"$batch0Dir/postings")
      dlB.write.mode("overwrite").parquet(s"$batch0Dir/docs")
      assert(BatchCommit.holdsData(fs, batch0Dir))
      assert(Retrieval.foldStreamIntoBm25Index(spark, idx) === 1L)
      assert(serve(idx) === serve(aliveIdx))
      val docDups = spark.read.parquet(s"$idx/${Retrieval.DocsDir}")
        .groupBy(col("doc_id")).count().filter(col("count") > 1).count()
      assert(docDups === 0L, "refold duplicated doc-length rows")
      // only now is the sibling data-less: compaction proceeds and
      // serving stays identical
      assert(Retrieval.compactBm25Index(spark, idx) > 0L)
      assert(serve(idx) === serve(aliveIdx))
      assert(tombstonesEmpty(idx, "_graft_bm25_deleted"))
      // replay absorption survives the fold; recycled ids still refuse
      Bm25Ingest.ingestBatch(b0, 0L, idx)
      assert(!BatchCommit.holdsData(fs, batch0Dir),
        "a genuine replay re-materialized a folded batch")
      intercept[IllegalArgumentException] {
        Bm25Ingest.ingestBatch(b1, 0L, idx)
      }
    } finally {
      import scala.reflect.io.Directory
      new Directory(tmp.toFile).deleteRecursively()
    }
  }
}
