package graft.ml

import java.nio.file.Files
import java.sql.Timestamp
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue,
  CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.apache.spark.scheduler.{JobSucceeded, SparkListener,
  SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.meta.PlanIntrospection.flatten
import graft.scd.Versioning
import graft.streaming.{CdcEvent, CdcPipeline, ErasureIngest}

/** The materialization module's contracts: exact-ownership generation
  * reclaim under concurrency, scoped release of used-up cuts, the
  * overlap primitive's ordering, property inheritance and sibling
  * cancellation, pinned partitioning through joins, and the row/byte
  * gates.
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

  private def overlapThreads =
    Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.getName.startsWith("graft-overlap-") && t.isAlive)

  test("withCut frees exactly its own cut when the body returns and " +
    "when it throws") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val total = Materialize.withCut(spark.range(100).toDF("v")) { c =>
      assert((sc.getPersistentRDDs.keySet -- before).size === 1)
      c.agg(sum(col("v"))).head().getLong(0)
    }
    assert(total === (0L until 100L).sum)
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty)
    intercept[IllegalStateException] {
      Materialize.withCut(spark.range(10).toDF("v")) { _ =>
        throw new IllegalStateException("body failed")
      }
    }
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty)
  }

  test("writeMergedBuckets and the erasure queue's enqueue and drain " +
    "release every cut they make (no persisted RDD outlives the call)") {
    val sc = spark.sparkContext
    val t0 = Timestamp.valueOf("2024-01-01 10:00:00").getTime
    def ev(id: Long, item: Long, payload: String) = CdcEvent(id,
      new Timestamp(t0 + id * 1000L), item, "item.update", payload, 0)
    def leftBehind(call: => Any): Set[Int] = {
      val before = sc.getPersistentRDDs.keySet
      call
      sc.getPersistentRDDs.keySet.toSet -- before
    }
    val dir = Files.createTempDirectory("graft_release").toString
    val hist = s"$dir/history"
    val first = (1L to 20L).map(i => ev(i, i, s"v1-$i")).toDF()
    val (m1, _) =
      CdcPipeline.mergeBatchPruned(spark, hist, first, "item_id", 4)
    assert(leftBehind(CdcPipeline.writeMergedBuckets(m1, hist, 4)).isEmpty)
    val second = (1L to 5L).map(i => ev(100L + i, i, s"v2-$i")).toDF()
    val (m2, _) =
      CdcPipeline.mergeBatchPruned(spark, hist, second, "item_id", 4)
    assert(leftBehind(CdcPipeline.writeMergedBuckets(m2, hist, 4)).isEmpty)
    assert(spark.read.parquet(hist).count() === 25L)

    val queue = s"$dir/queue"
    assert(leftBehind(ErasureIngest.enqueueBatch(
      Seq(1L, 2L).toDF("item_id"), 0L, queue, "item_id")).isEmpty)
    val t = Versioning.ForgetTargets(historyPath = Some(hist))
    var drained = (0L, 0L)
    assert(leftBehind {
      drained = ErasureIngest.drain(spark, queue, t)
    }.isEmpty)
    assert(drained === ((2L, 4L)))
    // the empty drain's early exit releases too
    assert(leftBehind(ErasureIngest.drain(spark, queue, t)).isEmpty)
  }

  test("overlap returns results in thunk order, every thunk's jobs " +
    "see the caller's local properties, the caller's own tags are " +
    "untouched, and no pool thread outlives the call") {
    val sc = spark.sparkContext
    sc.setLocalProperty("graft.test.overlap", "caller-value")
    try {
      val out = Materialize.overlap((0 until 3).map { i => () =>
        // later thunks finish first
        Thread.sleep((3 - i) * 100L)
        val seen = sc.parallelize(1 to 2, 2).mapPartitions { _ =>
          Iterator(TaskContext.get().getLocalProperty("graft.test.overlap"))
        }.collect().toSet
        (i, seen)
      })
      assert(out.map(_._1) === Seq(0, 1, 2))
      assert(out.forall(_._2 == Set("caller-value")), out)
      assert(sc.getJobTags().isEmpty)
      assert(overlapThreads.isEmpty)
    } finally sc.setLocalProperty("graft.test.overlap", null)
  }

  test("overlap: a failing thunk's exception is rethrown promptly, the " +
    "sibling's running job ends cancelled, and no pool thread outlives " +
    "the call") {
    val sc = spark.sparkContext
    val siblingJobs = new ConcurrentLinkedQueue[Int]()
    val endedOk = new ConcurrentHashMap[Int, String]()
    val running = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(
            _.getProperty("graft.test.role") == "sibling")) {
          siblingJobs.add(e.jobId)
          running.countDown()
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        endedOk.put(e.jobId,
          if (e.jobResult == JobSucceeded) "succeeded" else "failed")
        ()
      }
    }
    sc.addSparkListener(listener)
    // the sibling's tasks would run 60 s unless killed
    val longTaskMs = 60000L
    val t0 = System.nanoTime()
    try {
      val e = intercept[IllegalStateException] {
        Materialize.overlap(Seq(
          () => {
            sc.setLocalProperty("graft.test.role", "sibling")
            sc.parallelize(1 to 4, 4).mapPartitions { it =>
              val start = System.currentTimeMillis()
              while (System.currentTimeMillis() - start < longTaskMs &&
                  !TaskContext.get().isInterrupted()) Thread.sleep(20)
              it
            }.count()
          },
          () => {
            assert(running.await(30, TimeUnit.SECONDS))
            Thread.sleep(300)
            throw new IllegalStateException("thunk failed")
          }))
      }
      val elapsedMs = (System.nanoTime() - t0) / 1000000L
      assert(e.getMessage === "thunk failed")
      assert(e.getSuppressed.nonEmpty,
        "the cancelled sibling's failure rides along as suppressed")
      assert(elapsedMs < longTaskMs / 3, s"rethrown after $elapsedMs ms")
      assert(overlapThreads.isEmpty)
      assert(siblingJobs.size === 1)
      val job = siblingJobs.peek()
      val deadline = System.currentTimeMillis() + 10000L
      while (!endedOk.containsKey(job) &&
          System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(endedOk.get(job) === "failed", "the sibling's job must " +
        "end cancelled, not succeed or keep running")
    } finally sc.removeSparkListener(listener)
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
