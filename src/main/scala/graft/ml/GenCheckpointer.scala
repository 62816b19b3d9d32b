package graft.ml

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Generation-scoped cuts for iterative driver loops (BPE training,
  * label propagation, graph rounds): each [[cut]] truncates the
  * iterate's lineage through [[Materialize.cut]], then frees the
  * superseded generation through [[Materialize.release]] — else a
  * 30k-iteration loop keeps one corpus copy per iteration. A crash
  * between generations still leaves one complete snapshot. Call
  * `close()` once the loop's result is consumed onto the driver
  * (BPE's merge table); SKIP it when the returned frame IS the last
  * generation (label propagation).
  */
private[graft] final class GenCheckpointer(spark: SparkSession,
    reliable: Boolean) {
  Materialize.requireCheckpointDir(spark, reliable)

  private var gen = Option.empty[DataFrame]

  /** Cut `df` as the new generation; free the previous one. */
  def cut(df: DataFrame): DataFrame = {
    val out = Materialize.cut(df, reliable)
    close()
    gen = Some(out)
    out
  }

  /** Free the LAST generation too — only once its content has been
    * consumed (e.g. collected to the driver). */
  def close(): Unit = { gen.foreach(Materialize.release); gen = None }
}
