package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

import graft.{GraftSession, SparkEntry, Tables}
import graft.etl.CleanFields
import graft.streaming.CdcPipeline

/** The benchmark's JVM side: builds one workload's state, warms it,
  * runs its operations closed loop for the given number of seconds and
  * writes raw timings, spans and counters to `<work>/result.json`.
  * `run.py` turns those into metrics and checks the outputs.
  *
  * Arguments are `key=value`: workload, seconds, trace (0|1), seed,
  * cpus, work (scratch root), inputs (generated input dir), reps
  * (set-up repetitions), warm (cdc_merge warm batches), entries
  * (crm_history registry entries, comma separated).
  */
object Harness {

  def main(args: Array[String]): Unit = {
    val conf = args.map { a =>
      val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val out = mutable.LinkedHashMap[String, Any]()
    val spark = GraftSession.create(s"local[${conf("cpus")}]",
      s"perfbench-${conf("workload")}", uiEnabled = false)
    spark.sparkContext.setLogLevel("ERROR")
    out("session_ready_ms") = System.currentTimeMillis()
    val ctx = new Ctx(spark, conf("workload"), conf("trace") == "1")
    val w: Workload = conf("workload") match {
      case "cdc_merge" => new CdcMerge(ctx, conf)
      case "crm_history" => new CrmHistory(ctx, conf)
      case other => throw new IllegalArgumentException(
        s"unknown workload $other")
    }
    val code =
      try { ctx.run(w, conf("seconds").toDouble, conf("reps").toInt, out); 0 }
      catch { case NonFatal(e) =>
        out("fatal") = s"${e.getClass.getName}: ${e.getMessage}"
        e.printStackTrace(); 2
      }
    out("peak_rss_kb") = peakRssKb()
    Json.write(s"${conf("work")}/result.json", out)
    spark.stop()
    sys.exit(code)
  }

  /** VmHWM of this process, in kB. */
  def peakRssKb(): Long = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toLong
    }.getOrElse(0L)
    finally src.close()
  }

  /** Persisted RDDs and their stored bytes, read from outside the
    * library (Materialize cuts, checkpoints, cached stores). */
  def storage(spark: SparkSession): Map[String, Double] = {
    val sc = spark.sparkContext
    Map("ml.persisted_rdds" -> sc.getPersistentRDDs.size.toDouble,
      "ml.cached_bytes" -> sc.getRDDStorageInfo
        .map(r => r.memSize + r.diskSize).sum.toDouble)
  }

  /** Bench's execute path: the query's own physical plan, as a consumer
    * would receive it, counted. */
  def execute(df: DataFrame): Long =
    df.queryExecution.executedPlan.execute().count()
}

/** One workload: its set-up, warm-up and timed operation. */
trait Workload {
  /** Build the workload's state into a fresh location (rep 0, 1, ...);
    * the last rep is the state the timed loop uses. */
  def prepare(rep: Int): Unit
  /** Untimed pass that primes JIT, codegen and persisted fixtures. */
  def warm(): Map[String, Any]
  /** Operation `i` of the timed loop, or None when the inputs run out
    * or the loop may stop; `mayStop` is true once the time is up. */
  def next(i: Int, mayStop: Boolean): Option[String]
  /** Run one operation; returns its counters. Throws on failure. */
  def op(i: Int, name: String): Map[String, Double]
  /** Per-layer work done before a traced operation, outside its timed
    * window. */
  def split(i: Int, name: String): Map[String, Double] = Map.empty
  def finish(): Map[String, Any] = Map.empty
}

/** Span recording, probe attachment and the closed timed loop. */
final class Ctx(val spark: SparkSession, val workload: String,
    val trace: Boolean) {
  private val sc = spark.sparkContext
  val probe = new Probe(spark)
  val spans = mutable.ArrayBuffer[Map[String, Any]]()
  private var op = -1
  private var opName = ""
  private var traced = false
  private val callSecs = mutable.LinkedHashMap[String, Double]()

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  /** Whether operation `i` is traced. A traced run times operations in
    * pairs, one untraced and one traced, with the order flipped every
    * other pair, so the tracing overhead is measured in the same
    * process. */
  def isTraced(i: Int): Boolean = trace && ((i % 2 == 1) != (i / 2 % 2 == 1))

  /** A public call into the library, recorded as a span of the current
    * operation when it is traced. */
  def call[T](name: String)(body: => T): T =
    if (!traced) body
    else {
      sc.setLocalProperty(Probe.CallKey, name)
      sc.setJobDescription(s"$workload › $opName › $name")
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        spans += Map("op" -> op, "name" -> name, "parent" -> s"op$op",
          "start_ns" -> t0, "end_ns" -> t1)
        callSecs(name) = callSecs.getOrElse(name, 0.0) + (t1 - t0) / 1e9
        sc.setLocalProperty(Probe.CallKey, null)
        sc.setJobDescription(s"$workload › $opName")
      }
    }

  def run(w: Workload, seconds: Double, reps: Int,
      out: mutable.Map[String, Any]): Unit = {
    out("prepare_s") = (0 until reps).map { r =>
      val t0 = System.nanoTime(); w.prepare(r)
      log(s"prepare $r: ${(System.nanoTime() - t0) / 1e9} s")
      (System.nanoTime() - t0) / 1e9
    }
    val tw = System.nanoTime()
    out("warm") = w.warm()
    out("warm_s") = (System.nanoTime() - tw) / 1e9
    log(s"warm: ${out("warm_s")} s")
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val ops = mutable.ArrayBuffer[Map[String, Any]]()
    val cpu0 = os.getProcessCpuTime
    val w0 = System.nanoTime()
    var i = 0
    var name = w.next(0, mayStop = false)
    while (name.isDefined) {
      ops += timedOp(w, i, name.get)
      log(s"op $i: ${ops.last("wall_s")} s ok=${ops.last("ok")} ${ops.last("err")}")
      i += 1
      name = w.next(i, (System.nanoTime() - w0) / 1e9 >= seconds)
    }
    out("window_s") = (System.nanoTime() - w0) / 1e9
    out("cpu_s") = (os.getProcessCpuTime - cpu0) / 1e9
    out("ops") = ops.toSeq
    out("spans") = spans.toSeq
    out("finish") = w.finish()
  }

  private def timedOp(w: Workload, i: Int, name: String): Map[String, Any] = {
    traced = isTraced(i)
    op = i
    opName = name
    callSecs.clear()
    val pre = if (traced) w.split(i, name) else Map.empty[String, Double]
    if (traced) {
      probe.attach()
      sc.setJobGroup(s"$workload/$i", s"$workload › $name")
      sc.setLocalProperty(Probe.OpKey, i.toString)
    }
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val (ok, err, counters) =
      try (true, "", w.op(i, name))
      catch { case NonFatal(e) =>
        (false, s"${e.getClass.getSimpleName}: ${e.getMessage}",
          Map.empty[String, Double])
      }
    val t1 = System.nanoTime()
    val endMs = System.currentTimeMillis()
    val layer =
      if (!traced) Map.empty[String, Double]
      else {
        spans += Map("op" -> i, "name" -> s"op$i", "parent" -> "",
          "start_ns" -> t0, "end_ns" -> t1)
        probe.detach()
        sc.clearJobGroup()
        sc.setLocalProperty(Probe.OpKey, null)
        pre ++ probe.opCounters(i, startMs, endMs) ++
          callSecs.flatMap { case (k, v) => Seq(s"call.${k}_s" -> v,
            s"call.${k}_jobs" -> probe.callJobs(i, k).toDouble,
            s"call.${k}_out_bytes" -> probe.callBytesWritten(i, k).toDouble)
          }
      }
    traced = false
    Map("i" -> i, "name" -> name, "traced" -> isTraced(i),
      "start_ns" -> t0, "wall_s" -> (t1 - t0) / 1e9, "ok" -> ok,
      "err" -> err, "counters" -> (counters ++ layer))
  }
}

/** E1 write path: route → coalesce → clean (+ rejects) → pruned SCD2
  * merge → bucket write-back, plus the caller's DLQ and rejects sinks,
  * one 2k-event batch per operation. */
final class CdcMerge(ctx: Ctx, conf: Map[String, String]) extends Workload {
  private val spark = ctx.spark
  private val inputs = conf("inputs")
  private val work = conf("work")
  private val nBuckets = conf("buckets").toInt
  private val warmBatches = conf("warm").toInt
  private val batches = Option(new java.io.File(s"$inputs/batches")
    .listFiles()).map(_.map(_.getPath).sorted.toSeq).getOrElse(Seq.empty)
  private var hist = ""
  private val dlqDir = s"$work/dlq"
  private val rejDir = s"$work/rejects"
  private var done = 0

  /** The cleaned row a history stores: the event without its raw
    * fields, plus the cleaner's field map. cleanItems keys its output
    * by `item_id`; handing it the event id keeps one map per version,
    * also where an item has many (the history pre-build). */
  private def clean(events: DataFrame): DataFrame = {
    val data = CleanFields.cleanItems(
        events.select(col("event_id").as("item_id"), col("fields")))
      .withColumnRenamed("item_id", "event_id")
    events.drop("fields").join(data, Seq("event_id"))
  }

  def prepare(rep: Int): Unit = {
    hist = s"$work/history_$rep"
    val seed = clean(spark.read.parquet(s"$inputs/history_seed.parquet")
      .repartition(spark.sparkContext.defaultParallelism))
    val flagged = CdcPipeline.mergeBatch(
        seed.limit(0).withColumn("current", lit(0)),
        seed, "item_id")
      .withColumn("key_bucket", CdcPipeline.keyBucket("item_id", nBuckets))
    graft.sources.Layout.writePartitioned(flagged, hist, Seq("key_bucket"))
  }

  def warm(): Map[String, Any] = {
    (0 until warmBatches).foreach(b => op(-1, batches(b)))
    Map("batches" -> warmBatches)
  }

  def next(i: Int, mayStop: Boolean): Option[String] = {
    val b = warmBatches + i
    if (b >= batches.size || (mayStop && i >= CdcMerge.MinOps &&
        !(ctx.trace && i % 2 == 1))) None
    else Some(batches(b))
  }

  def op(i: Int, file: String): Map[String, Double] = {
    val batch = spark.read.parquet(file)
    val (live, dlq) = ctx.call("route") { CdcPipeline.route(batch) }
    val co = ctx.call("coalesceBatch") {
      CdcPipeline.coalesceBatch(live, "item_id") }
    val cleaned = ctx.call("cleanItems") { clean(co) }
    val rej = ctx.call("rejects") { CleanFields.rejects(co) }
    val (merged, buckets) = ctx.call("mergeBatchPruned") {
      CdcPipeline.mergeBatchPruned(spark, hist, cleaned, "item_id",
        nBuckets) }
    ctx.call("writeMergedBuckets") {
      CdcPipeline.writeMergedBuckets(merged, hist, nBuckets) }
    ctx.call("sink.dlq") { dlq.write.mode("append").parquet(dlqDir) }
    ctx.call("sink.rejects") { rej.write.mode("append").parquet(rejDir) }
    done += 1
    Map("batch_bytes" -> new java.io.File(file).length.toDouble,
      "buckets_touched" -> buckets.size.toDouble) ++ Harness.storage(spark)
  }

  /** Each layer's output materialized once through the execute path:
    * the lazily fused batch job split into per-layer costs. */
  override def split(i: Int, file: String): Map[String, Double] = {
    def timed(df: DataFrame): (Long, Double) = {
      val t0 = System.nanoTime()
      val n = Harness.execute(df)
      (n, (System.nanoTime() - t0) / 1e9)
    }
    val (live, dlq) = CdcPipeline.route(spark.read.parquet(file))
    val (nLive, _) = timed(live)
    val (nDlq, _) = timed(dlq)
    val co = CdcPipeline.coalesceBatch(live, "item_id")
    val (nCo, tCo) = timed(co)
    val cleaned = clean(co)
    val (_, tClean) = timed(cleaned)
    val (nRej, _) = timed(CleanFields.rejects(co))
    val (merged, _) = CdcPipeline.mergeBatchPruned(spark, hist, cleaned,
      "item_id", nBuckets)
    val (_, tMerge) = timed(merged)
    Map("etl.clean_s" -> math.max(0.0, tClean - tCo),
      "scd.flag_s" -> math.max(0.0, tMerge - tClean),
      "streaming.coalesced_away" -> (nLive - nCo).toDouble,
      "streaming.dead_lettered" -> nDlq.toDouble,
      "etl.rejects" -> nRej.toDouble)
  }

  override def finish(): Map[String, Any] = Map(
    "batches_done" -> done,
    "history" -> hist, "dlq" -> dlqDir, "rejects" -> rejDir,
    "history_rows" -> spark.read.parquet(hist).count())
}

object CdcMerge {
  /** Batches per cdc_merge pass, and the fewest a run times. */
  val MinOps = 4
}

/** CRM-history reads: registry entries over the `events` table, one
  * entry (construction plus execution) per operation, in an order the
  * seed permutes each pass. */
final class CrmHistory(ctx: Ctx, conf: Map[String, String])
    extends Workload {
  private val spark = ctx.spark
  private val inputs = conf("inputs")
  private val work = conf("work")
  private val seed = conf("seed").toLong
  private val entries = conf("entries").split(",").toSeq.sorted
  private val registry = SparkEntry.queries
  private val missing = entries.filterNot(registry.contains)
  require(missing.isEmpty,
    s"pinned entries missing from SparkEntry.queries: ${missing.mkString(",")}")
  private val rows = mutable.Map[String, Long]()
  private val n = entries.size
  // a traced run times every entry twice in a row, untraced then traced
  private val perPass = if (ctx.trace) 2 * n else n

  def prepare(rep: Int): Unit = {
    Tables.events(spark, inputs).count(); ()
  }

  /** Every entry once, with its result written for the oracle check;
    * this also builds the entry's persisted fixtures and compiles the
    * generated code its timed executions reuse. */
  def warm(): Map[String, Any] = {
    val res = entries.map { e =>
      val dir = s"$work/out/$e"
      val r = try {
        registry(e)(spark, inputs).write.mode("overwrite").parquet(dir)
        rows(e) = spark.read.parquet(dir).count()
        Map("ok" -> true, "rows" -> rows(e))
      } catch { case NonFatal(x) =>
        Map("ok" -> false, "err" -> s"${x.getClass.getSimpleName}: ${x.getMessage}")
      }
      e -> r
    }.toMap
    val oracles = SparkEntry.oracleSql
    val gates = SparkEntry.rowsOnlyGate
    Json.write(s"$work/gates.json", entries.map { e =>
      e -> oracles.get(e).map(sql => Map("oracle" -> sql))
        .getOrElse(Map("gate" -> gates.getOrElse(e, "UNDECLARED")))
    }.toMap)
    res
  }

  private def order(pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(entries)

  private var cur = (-1, Seq.empty[String])

  /** Stops only between passes, so every window runs each entry equally
    * often and the slow ml entries weigh the same in every run, and
    * after at least two, so the latency tail has samples beyond it. */
  def next(i: Int, mayStop: Boolean): Option[String] = {
    if (mayStop && i >= CrmHistory.MinPasses * perPass && i % perPass == 0)
      None
    else {
      val pass = i / perPass
      if (cur._1 != pass) cur = (pass, order(pass))
      val k = i % perPass
      Some(cur._2(if (ctx.trace) k / 2 else k))
    }
  }

  def op(i: Int, e: String): Map[String, Double] = {
    val df = ctx.call("construct") { registry(e)(spark, inputs) }
    val stored = Harness.storage(spark)
    val got = ctx.call("execute") { Harness.execute(df) }
    val want = rows.getOrElse(e, -1L)
    if (got != want)
      throw new IllegalStateException(
        s"$e returned $got rows; its checked warm-pass result has $want")
    if (ctx.isTraced(i)) ctx.probe.addOwned(df.queryExecution)
    stored + ("rows" -> got.toDouble)
  }
}

object CrmHistory {
  val MinPasses = 2
}

object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  def write(path: String, v: Any): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      mapper.writeValueAsString(v))
}
