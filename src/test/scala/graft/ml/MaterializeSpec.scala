package graft.ml

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.meta.PlanIntrospection.flatten

/** The r17 optimization helpers' contracts: exact-ownership
  * generation reclaim under concurrency, pinned partitioning through
  * joins, and the row/byte gates.
  */
class MaterializeSpec extends SparkSpec {
  import spark.implicits._

  test("GenCheckpointer frees ONLY its own generations: a concurrent " +
    "thread's checkpoint blocks survive another checkpointer's cuts " +
    "(the exact-ownership contract — the snapshot-diff idiom claimed " +
    "and freed concurrent blocks)") {
    val ck = new GenCheckpointer(spark, reliable = false)
    // a concurrent thread materializes its own frame between this
    // checkpointer's two cuts — under the old snapshot-diff the second
    // cut would claim-and-free it on the third cut; under exact
    // ownership it must stay readable forever
    val theirs = spark.range(1000).toDF("id").localCheckpoint(true)
    var gen = ck.cut(spark.range(100).toDF("v"))
    // two more generations: each cut frees the previous one
    gen = ck.cut(gen.withColumn("v", col("v") + 1))
    gen = ck.cut(gen.withColumn("v", col("v") + 1))
    assert(theirs.count() === 1000L) // their blocks untouched
    assert(gen.agg(sum(col("v"))).head().getLong(0) === (2L to 101L).sum)
    ck.close()
  }

  test("GenCheckpointer still reclaims superseded generations (the " +
    "storage-leak half of the contract)") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val ck = new GenCheckpointer(spark, reliable = false)
    var gen = ck.cut(spark.range(100).toDF("v"))
    (1 to 5).foreach { _ =>
      gen = ck.cut(gen.withColumn("v", col("v") + 1))
    }
    // exactly ONE generation of this loop lives at a time
    assert((sc.getPersistentRDDs.keySet -- before).size === 1)
    ck.close()
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty)
  }

  test("pinByKey above the row gate preserves hash partitioning " +
    "through an equi-join: the pinned side streams in place, no " +
    "exchange (the loop-invariant-edge contract)") {
    val rows = 1 to 2000
    val pinned = Materialize.pinByKey(
      rows.map(i => (i % 50, i)).toDF("k", "v"),
      rows = rows.size.toLong * 100, // force past the gate
      keys = Seq(col("k")))
    val state = (0 until 50).map(i => (i, i * 2)).toDF("k", "s")
    val j = pinned.join(state.hint("shuffle_hash"), Seq("k"))
    j.collect()
    val executed = j.queryExecution.executedPlan
    val plan = executed.toString
    // the pinned side must appear as an in-memory scan with NO
    // exchange above it; the state side is the only exchange. Counted
    // on the final plan TREE (flatten descends into AQE's final plan
    // and each query stage, and stops at the InMemoryTableScan leaf):
    // the printed plan also carries AQE's initial plan and the cached
    // relation's nested build plan, whose one-time repartition is not
    // an exchange above the pinned scan
    def shuffles(p: SparkPlan) =
      flatten(p).count(_.isInstanceOf[ShuffleExchangeLike])
    val join = flatten(executed).collectFirst {
      case sh: ShuffledHashJoinExec => sh
    }.getOrElse(fail(s"no shuffled hash join:\n$plan"))
    assert(flatten(join.left).exists(_.isInstanceOf[InMemoryTableScanExec]),
      s"pinned side not cached:\n$plan")
    assert(shuffles(join.left) === 0, s"pinned side re-exchanged:\n$plan")
    assert(shuffles(join.right) === 1,
      s"state side not the exchanged one:\n$plan")
    val exchanges = shuffles(executed)
    assert(exchanges === 1,
      s"expected exactly the state-side exchange, got $exchanges:\n$plan")
    pinned.unpersist(blocking = true)
    ()
  }

  test("pinByKey below the row gate skips the repartition (tiny edge " +
    "lists keep their natural layout)") {
    val pinned = Materialize.pinByKey(
      (1 to 10).map(i => (i, i)).toDF("k", "v").coalesce(2),
      rows = 10L, keys = Seq(col("k")))
    assert(pinned.rdd.getNumPartitions === 2)
    pinned.unpersist(blocking = true)
    ()
  }

  test("widenIfStarved widens a byte-small scan to the session width " +
    "and leaves rows identical") {
    val df = spark.range(1000).toDF("id").coalesce(1)
    val wide = Materialize.widenIfStarved(df)
    assert(wide.rdd.getNumPartitions ===
      spark.conf.get("spark.sql.shuffle.partitions").toInt)
    assert(wide.agg(sum(col("id"))).head().getLong(0) ===
      (0L until 1000L).sum)
  }
}
