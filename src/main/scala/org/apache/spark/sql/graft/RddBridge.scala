package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Extract the materialized RDD behind a just-checkpointed Dataset.
  *
  * `df.checkpoint()` / `df.localCheckpoint()` persist the internal row
  * RDD and return a new Dataset whose logical plan is a single
  * [[LogicalRDD]] leaf wrapping it. Owning that RDD reference directly
  * is what lets [[graft.ml.Materialize.release]], the one release
  * routine for every cut, free EXACTLY the cut it is given, never a
  * concurrent thread's. [[LogicalRDD]] is `private[sql]`, hence this
  * bridge in the `org.apache.spark.sql` namespace (the
  * [[ColumnBridge]] pattern).
  */
object RddBridge {
  def checkpointedRdd(df: DataFrame): Option[RDD[_]] =
    df.queryExecution.logical match {
      case l: LogicalRDD => Some(l.rdd)
      case _ => None
    }
}
