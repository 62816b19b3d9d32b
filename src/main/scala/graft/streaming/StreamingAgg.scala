package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.IncrementalAgg

/** Streaming materialized-view maintenance — [[IncrementalAgg]] driven
  * by a stream: each micro-batch's partial aggregate merges into a
  * stored per-key state table, so the "view" (sum/count/min/max/avg
  * per key) is always one cheap [[IncrementalAgg.finish]] read away
  * and each trigger costs O(delta + |keys|), never a history rescan.
  * This is the live form of the q66 algebra, and the operational
  * answer to the reference's recompute-on-every-sync reporting loop.
  *
  * Exactly-once state, from two pieces:
  *
  *  - **Atomic-enough swap**: the merged state writes to a temp dir
  *    (forcing the read of the old state BEFORE anything moves), the
  *    batch marker is written INSIDE it, and the swap is
  *    live→bak, tmp→live, drop bak. A crash mid-swap leaves bak;
  *    [[readState]] restores it. Marker and data travel together, so
  *    no crash window can commit one without the other.
  *  - **Replay/reset discipline**: additive aggregates DOUBLE-COUNT if
  *    a replayed batch merges twice, so the marker records (batchId,
  *    content fingerprint). Same id + same fingerprint → genuine
  *    foreachBatch replay, skipped. Same id + different content, or a
  *    batchId going BACKWARD → a checkpoint reset recycled ids over a
  *    live state; merging would silently corrupt the counts, so it
  *    fails loudly (the [[CorpusIngest]] reset rule: point a reset
  *    stream at a fresh statePath).
  *
  * Scale: the state table is |keys| rows (aggregated), the delta is
  * one map-side-combined aggregation of the trigger's rows, and the
  * merge shuffles only those two aggregated frames.
  */
object StreamingAgg {

  private val MarkerName = "_GRAFT_LAST_BATCH"

  /** Content fingerprint over the batch's key/value columns —
    * StreamingNearDup.batchSig's xor-of-row-hashes form, on this
    * operator's columns.
    */
  def batchSig(batch: DataFrame, keys: Seq[String],
      valueCol: String): Long =
    BatchCommit.fingerprint(batch,
      (keys :+ valueCol).map(c => col(s"`$c`")): _*)._1

  private def fs(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def live(statePath: String) = new Path(statePath, "state")
  private def bak(statePath: String) = new Path(statePath, "state_bak")

  /** Current state (recovering a mid-swap crash if one is on disk);
    * None before the first committed batch.
    */
  def readState(spark: SparkSession, statePath: String)
      : Option[DataFrame] = {
    val l = live(statePath)
    val f = fs(spark, l)
    if (!f.exists(l) && f.exists(bak(statePath))) {
      // crash between live→bak and tmp→live: bak IS the last
      // committed generation — restore it. The rename must be
      // CHECKED: an unchecked false (quota/permissions, or a racing
      // restorer that won) would make this look like a first batch,
      // and the next commit would then delete bak — the only
      // committed state — while resetting aggregates to one delta.
      // Losing the race is fine only if live now exists.
      val renamed = f.rename(bak(statePath), l)
      require(renamed || f.exists(l),
        s"could not restore $statePath state_bak to live after a " +
          "mid-swap crash — refusing to proceed as if state were empty")
    }
    if (f.exists(l)) Some(spark.read.parquet(l.toString)) else None
  }

  /** The maintained view: per-key finished aggregates. */
  def read(spark: SparkSession, statePath: String): Option[DataFrame] =
    readState(spark, statePath).map(IncrementalAgg.finish)

  private def lastMarker(spark: SparkSession, statePath: String)
      : Option[(Long, Long)] = {
    val l = live(statePath)
    graft.sources.Markers.read(fs(spark, l), new Path(l, MarkerName))
      .map { s =>
        val Array(id, sig) = s.split(':')
        (id.toLong, sig.toLong)
      }
  }

  private val ShapeName = "_GRAFT_SHAPE"

  /** The stored state's shape stamp (sketch family + its size
    * parameters); None before the first committed batch. */
  private def readShape(spark: SparkSession, statePath: String)
      : Option[String] = {
    val l = live(statePath)
    graft.sources.Markers.read(fs(spark, l), new Path(l, ShapeName))
  }

  /** Shared per-batch commit core: replay/reset discipline + the
    * atomic state swap, parameterized over the mergeable algebra
    * (sum/count/min/max state and HLL distinct state both ride it).
    *
    * `shape` names the algebra AND its size parameters ("kmv:64:...",
    * "topterms:100"): sketch guarantees are only valid when every
    * merge uses the parameters the stored state was built with (a
    * space-saving sketch merged at a larger capacity than it was
    * filled at, for instance, silently re-admits evicted terms below
    * their floor). The shape is stamped into the state dir and a
    * mismatched caller fails loudly BEFORE touching state — the
    * _GRAFT_NBUCKETS rule, applied to sketch layout.
    */
  private def commitBatch(batch: DataFrame, batchId: Long,
      statePath: String, sig: Long, shape: String,
      partialFn: DataFrame => DataFrame,
      mergeFn: (DataFrame, DataFrame) => DataFrame): Unit = {
    val spark = batch.sparkSession
    readShape(spark, statePath).foreach { recorded =>
      require(recorded == shape,
        s"state $statePath was built as '$recorded'; refusing to " +
          s"merge as '$shape' — mismatched sketch parameters would " +
          "silently void the sketch's guarantees")
    }
    lastMarker(spark, statePath) match {
      case Some((lastId, lastSig)) if batchId == lastId && sig == lastSig =>
        return // genuine replay of the committed batch — absorbed
      case Some((lastId, _)) if batchId <= lastId =>
        throw new IllegalStateException(
          s"state $statePath is at batch $lastId but batch $batchId " +
            "arrived with different content: a checkpoint reset recycled " +
            "batch ids over live aggregate state — merging would " +
            "double-count; point the stream at a fresh statePath")
      case _ => ()
    }
    val delta = partialFn(batch)
    val merged = readState(spark, statePath) match {
      case Some(state) => mergeFn(state, delta)
      case None        => delta
    }
    val l = live(statePath)
    val f = fs(spark, l)
    val tmp = new Path(statePath, s"state_tmp_$batchId")
    // writing tmp EXECUTES the merge — the old state is fully read
    // before any path moves
    merged.write.mode("overwrite").parquet(tmp.toString)
    graft.sources.Markers.write(f, new Path(tmp, MarkerName), s"$batchId:$sig")
    graft.sources.Markers.write(f, new Path(tmp, ShapeName), shape)
    if (f.exists(bak(statePath))) f.delete(bak(statePath), true)
    if (f.exists(l)) require(f.rename(l, bak(statePath)),
      s"could not stage $l aside")
    require(f.rename(tmp, l), s"could not commit $tmp to $l")
    // rename-onto-an-existing-dir NESTS the source inside the target
    // on HDFS-like filesystems instead of failing (the Layout.compact
    // edge). Live can reappear mid-swap if a concurrent reader
    // "recovers" bak — single-writer is the contract, and this makes
    // a violation abort loudly instead of corrupting the state dir.
    require(!f.exists(new Path(l, tmp.getName)),
      s"commit of $tmp nested inside $l — a concurrent reader/writer " +
        s"raced this swap on $statePath")
    f.delete(bak(statePath), true)
    ()
  }

  /** Pure per-batch body (testable without a streaming runtime). */
  def mergeBatch(batch: DataFrame, batchId: Long, statePath: String,
      keys: Seq[String], valueCol: String): Unit =
    commitBatch(batch, batchId, statePath,
      batchSig(batch, keys, valueCol),
      s"agg:${keys.mkString(",")}:$valueCol",
      b => IncrementalAgg.partial(b, keys, valueCol),
      (s, d) => IncrementalAgg.merge(s, d))

  /** COUNT DISTINCT sibling: HLL sketch state per key (the q69
    * algebra, streamed). Same commit discipline; the stored column is
    * the binary sketch, estimates come from [[readDistinct]].
    */
  def mergeBatchDistinct(batch: DataFrame, batchId: Long,
      statePath: String, keys: Seq[String], valueCol: String): Unit =
    commitBatch(batch, batchId, statePath,
      batchSig(batch, keys, valueCol),
      s"hll:${keys.mkString(",")}:$valueCol",
      b => IncrementalAgg.distinctPartial(b, keys, valueCol),
      (s, d) => IncrementalAgg.distinctMerge(s, d))

  /** The maintained distinct-count view. */
  def readDistinct(spark: SparkSession, statePath: String)
      : Option[DataFrame] =
    readState(spark, statePath).map(IncrementalAgg.distinctFinish)

  /** Set-operation-capable distinct sibling: KMV sketch state per key
    * (the q96 algebra, streamed). Where the HLL state answers "how
    * many distinct per key", the stored KMV minima arrays also answer
    * "how many distinct SHARED between two keys" after the fact —
    * [[readOverlap]] estimates every key pair's union and intersection
    * straight from the state table, no raw-data rescan. State is ≤ k
    * longs per key; the relational merge (union → sort → first k,
    * array_union dedups) is exactly the Aggregator's two-pointer
    * merge, so streamed state equals the batch sketch over the whole
    * history regardless of arrival order.
    */
  def mergeBatchKmv(batch: DataFrame, batchId: Long, statePath: String,
      keyCol: String, valueCol: String, k: Int): Unit =
    commitBatch(batch, batchId, statePath,
      batchSig(batch, Seq(keyCol), valueCol),
      s"kmv:$k:$keyCol:$valueCol",
      b => kmvPartial(b, keyCol, valueCol, k),
      (s, d) => kmvMerge(s, d, keyCol, k))

  private def kmvPartial(batch: DataFrame, keyCol: String,
      valueCol: String, k: Int): DataFrame = {
    require(keyCol != "h" && keyCol != "sk",
      "keyCol may not use the reserved working names h/sk")
    val kmv = udaf(new graft.functions.KmvSketch(k),
      org.apache.spark.sql.Encoders.scalaLong)
    batch.select(col(keyCol),
      graft.ml.HashUtils.hash60(col(valueCol).cast("string")).as("h"))
      .groupBy(col(keyCol)).agg(kmv(col("h")).as("sk"))
  }

  private def kmvMerge(state: DataFrame, delta: DataFrame,
      keyCol: String, k: Int): DataFrame = {
    val empty = array().cast("array<long>")
    state.select(col(keyCol), col("sk").as("sk_a"))
      .join(delta.select(col(keyCol), col("sk").as("sk_b")),
        Seq(keyCol), "full_outer")
      .select(col(keyCol),
        slice(array_sort(array_union(
          coalesce(col("sk_a"), empty),
          coalesce(col("sk_b"), empty))), 1, k).as("sk"))
  }

  /** The maintained pairwise audience-overlap view (estimates from
    * state alone — [[graft.functions.KmvSketch.overlapEstimates]]).
    */
  def readOverlap(spark: SparkSession, statePath: String,
      keyCol: String, k: Int): Option[DataFrame] = {
    // estimates computed against a different k than the stored minima
    // were kept at are silently wrong — verify against the stamp
    readShape(spark, statePath).foreach { recorded =>
      require(recorded.startsWith(s"kmv:$k:"),
        s"state $statePath was built as '$recorded'; readOverlap " +
          s"called with k=$k")
    }
    readState(spark, statePath).map(st =>
      graft.functions.KmvSketch.overlapEstimates(
        st.select(col(keyCol), col("sk")), keyCol, k))
  }

  /** Heavy-hitters sibling: the corpus vocabulary maintained as
    * space-saving sketch state ([[graft.functions.SpaceSavingTopTerms]]
    * streamed) — the third sketch the commit core carries, next to the
    * decimal partials and HLL. Stored state is the sketch's own
    * (term, cnt, err) rows, ≤ capacity of them, so state stays O(1)
    * regardless of how much vocabulary has streamed past. The merge is
    * the mergeable-summaries rule re-expressed relationally: a term
    * absent from one side is credited that side's floor (its minimum
    * tracked count if full, 0 otherwise) in both count and err, then
    * the union truncates back to capacity by (count desc, term) —
    * exactly the Aggregator's merge, so the streamed sketch keeps the
    * same never-undercount / bounded-overcount / heavy-term-present
    * guarantees through any batch arrival order (StreamingAggSpec
    * asserts them against exact whole-history counts).
    */
  def mergeBatchTopTerms(batch: DataFrame, batchId: Long,
      statePath: String, capacity: Int): Unit =
    commitBatch(batch, batchId, statePath,
      batchSig(batch, Seq("doc_id"), "text"),
      s"topterms:$capacity",
      b => sketchPartial(b, capacity),
      (s, d) => sketchMerge(s, d, capacity))

  private def sketchPartial(docs: DataFrame, capacity: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // the batch's own sketch via the shared Aggregator; the head() is
    // the capacity-bounded model-summary action vocabularySketch
    // documents (never corpus-proportional)
    val rows = docs
      .select(explode(split(col("text"), " ")).as("term")).as[String]
      .select(new graft.functions.SpaceSavingTopTerms(capacity).toColumn)
      .head()
    spark.createDataset(rows).toDF("term", "cnt", "err")
  }

  private def sketchMerge(state: DataFrame, delta: DataFrame,
      capacity: Int): DataFrame = {
    // a FULL sketch bounds any untracked term's count by its minimum
    // tracked count; a non-full sketch tracked everything it saw
    def floorOf(df: DataFrame, as: String) = df.agg(
      when(count(lit(1)) >= capacity, coalesce(min(col("cnt")), lit(0L)))
        .otherwise(lit(0L)).as(as))
    state.select(col("term"), col("cnt").as("ca"), col("err").as("ea"))
      .join(delta.select(col("term"), col("cnt").as("cb"),
        col("err").as("eb")), Seq("term"), "full_outer")
      .crossJoin(broadcast(floorOf(state, "fla")))
      .crossJoin(broadcast(floorOf(delta, "flb")))
      .select(col("term"),
        (coalesce(col("ca"), col("fla"))
          + coalesce(col("cb"), col("flb"))).as("cnt"),
        (coalesce(col("ea"), col("fla"))
          + coalesce(col("eb"), col("flb"))).as("err"))
      .orderBy(col("cnt").desc, col("term"))
      .limit(capacity)
  }

  /** The maintained top-terms view (count-descending). */
  def readTopTerms(spark: SparkSession, statePath: String, topK: Int)
      : Option[DataFrame] =
    readState(spark, statePath).map(
      _.orderBy(col("cnt").desc, col("term")).limit(topK))

  /** Wire the stream. */
  def start(events: DataFrame, statePath: String, checkpoint: String,
      keys: Seq[String], valueCol: String): StreamingQuery =
    events.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        mergeBatch(batch, batchId, statePath, keys, valueCol)
      }
      .start()
}
