package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Pins every streamed writer's content fingerprint to literal values
  * on one fixed frame (nulls included). The fingerprint is persisted —
  * in each batch partition's `_GRAFT_BATCH_SIG` marker, in the near-dup
  * store's `batch_sig` column and in `_GRAFT_LAST_BATCH` — so a formula
  * drift by a single bit would make every replay after an upgrade read
  * as a recycled batch id.
  */
class BatchSigPinSpec extends SparkSpec {

  private lazy val frame = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType),
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("media_id", LongType),
      StructField("media_type", StringType),
      StructField("payload", BinaryType),
      StructField("k", StringType),
      StructField("v", DoubleType)))
    val rows = Seq(
      Row(1L, "alpha beta", 10L, Seq(0.5f, -1.0f), 100L, "image/png",
        Array[Byte](1, 2, 3), "a", 1.5),
      Row(2L, null, 11L, null, 101L, null, null, null, null),
      Row(3L, "gamma", 12L, Seq(0.0f, 2.25f), 102L, "image/jpeg",
        Array.emptyByteArray, "b", -3.0),
      Row(-7L, "", 13L, Seq.empty[Float], 103L, "", Array[Byte](9),
        "a", 0.0))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
  }

  test("every batchSig is bit-identical to its recorded literal, and " +
      "an empty batch fingerprints to 0") {
    def sigs(df: org.apache.spark.sql.DataFrame) = Seq(
      "VectorIngest" -> VectorIngest.batchSig(df),
      "Bm25Ingest" -> Bm25Ingest.batchSig(df),
      "MediaIngest" -> MediaIngest.batchSig(df),
      "ErasureIngest" -> ErasureIngest.batchSig(df, "doc_id"),
      "StreamingNearDup" -> StreamingNearDup.batchSig(df),
      "StreamingExpectations" -> StreamingExpectations.batchSig(df),
      "StreamingAgg" -> StreamingAgg.batchSig(df, Seq("k"), "v"))
    assert(sigs(frame) === Seq(
      "VectorIngest" -> 4097178822115361950L,
      "Bm25Ingest" -> -978038901159803452L,
      "MediaIngest" -> -2726197849524882250L,
      "ErasureIngest" -> -1139757576157087817L,
      "StreamingNearDup" -> -978038901159803452L,
      "StreamingExpectations" -> -1613760073826861407L,
      "StreamingAgg" -> -122948107828779630L))
    assert(sigs(frame.limit(0)).forall(_._2 == 0L))
  }
}
