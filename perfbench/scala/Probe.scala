package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine- and source-level counters read from outside the program: a
  * SparkListener for jobs, stages and tasks, and a QueryExecutionListener
  * for planning time and file counts of the queries the library runs
  * itself (collects, writes, checkpoints).
  *
  * Every job, stage and task is attributed to the operation and call
  * named by the `perfbench.op` / `perfbench.call` local properties that
  * were set when it was submitted. The probe is attached only around
  * traced operations, so untraced operations run with no listener.
  */
final class Probe(spark: SparkSession) {
  import Probe._

  private val sc: SparkContext = spark.sparkContext
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val jobs = new ConcurrentLinkedQueue[(Int, String)]()
  private val stages = new ConcurrentLinkedQueue[(Int, String)]()
  private val stageTag =
    new java.util.concurrent.ConcurrentHashMap[Int, (Int, String)]()
  private val queries = new ConcurrentLinkedQueue[QueryRec]()

  private def tag(p: java.util.Properties): (Int, String) =
    Option(p).map { props =>
      (Option(props.getProperty(OpKey)).map(_.toInt).getOrElse(-1),
        Option(props.getProperty(CallKey)).getOrElse(""))
    }.getOrElse((-1, ""))

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.add(tag(e.properties)); ()
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val t = tag(e.properties)
      stageTag.put(e.stageInfo.stageId, t)
      stages.add(t); ()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val (op, call) = stageTag.getOrDefault(e.stageId, (-1, ""))
      val info = e.taskInfo
      val m = Option(e.taskMetrics)
      def g(f: org.apache.spark.executor.TaskMetrics => Long): Long =
        m.map(f).getOrElse(0L)
      tasks.add(TaskRec(op, call, e.stageId, info.launchTime,
        info.finishTime,
        g(_.executorRunTime), g(_.executorCpuTime), g(_.jvmGCTime),
        g(_.shuffleWriteMetrics.bytesWritten),
        g(_.shuffleReadMetrics.totalBytesRead),
        g(t => t.memoryBytesSpilled + t.diskBytesSpilled),
        g(_.inputMetrics.bytesRead), g(_.outputMetrics.bytesWritten),
        info.failed || info.killed))
      ()
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution,
        e: Exception): Unit = record(qe)
  }

  private def record(qe: QueryExecution): Unit = {
    val (reads, writes) = fileCounts(qe.executedPlan)
    val phases = qe.tracker.phases
    val start =
      if (phases.isEmpty) System.currentTimeMillis()
      else phases.values.map(_.startTimeMs).min
    queries.add(QueryRec(start, planMs(qe), reads, writes)); ()
  }

  def attach(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Wait for the bus, then detach, so no event of the operation is
    * lost and the next untraced operation runs listener-free. */
  def detach(): Unit = {
    org.apache.spark.PerfbenchBusDrain(sc)
    spark.listenerManager.unregister(qeListener)
    sc.removeSparkListener(listener)
  }

  /** Counters of one operation that ran in [startMs, endMs]. */
  def opCounters(op: Int, startMs: Long, endMs: Long): Map[String, Double] = {
    val ts = tasks.asScala.filter(_.op == op).toSeq
    val qs = queries.asScala
      .filter(q => q.startMs >= startMs && q.startMs <= endMs).toSeq
    val byStage = ts.groupBy(_.stage).values
    val skew = byStage.filter(_.size >= 2).map { st =>
      val d = st.map(t => (t.finish - t.launch).toDouble).sorted
      val med = d(d.size / 2)
      if (med > 0) d.last / med else 1.0
    }.foldLeft(1.0)(math.max)
    def sumL(f: TaskRec => Long): Double = ts.map(f).sum.toDouble
    Map(
      "engine.jobs" -> jobs.asScala.count(_._1 == op).toDouble,
      "engine.stages" -> stages.asScala.count(_._1 == op).toDouble,
      "engine.tasks" -> ts.size.toDouble,
      "engine.exec_run_s" -> sumL(_.runMs) / 1e3,
      "engine.exec_cpu_s" -> sumL(_.cpuNs) / 1e9,
      "engine.gc_s" -> sumL(_.gcMs) / 1e3,
      "engine.shuffle_write_bytes" -> sumL(_.shuffleW),
      "engine.shuffle_read_bytes" -> sumL(_.shuffleR),
      "engine.spill_bytes" -> sumL(_.spill),
      "engine.task_skew" -> skew,
      "engine.failed_tasks" -> ts.count(_.failed).toDouble,
      "engine.sched_idle_s" ->
        idleMs(startMs, endMs, ts.map(t => (t.launch, t.finish))) / 1e3,
      "engine.plan_s" -> qs.map(_.planMs).sum / 1e3,
      "sources.bytes_read" -> sumL(_.inBytes),
      "sources.bytes_written" -> sumL(_.outBytes),
      "sources.files_read" -> qs.map(_.filesRead).sum.toDouble,
      "sources.files_written" -> qs.map(_.filesWritten).sum.toDouble)
  }

  /** Jobs and output bytes of one call of one operation. */
  def callJobs(op: Int, call: String): Int =
    jobs.asScala.count(j => j._1 == op && j._2 == call)
  def callBytesWritten(op: Int, call: String): Long =
    tasks.asScala.filter(t => t.op == op && t.call == call)
      .map(_.outBytes).sum

  /** Add a harness-owned DataFrame's planning and scans (its execute
    * path fires no query listener). */
  def addOwned(qe: QueryExecution): Unit = record(qe)
}

object Probe {
  val OpKey = "perfbench.op"
  val CallKey = "perfbench.call"

  final case class TaskRec(op: Int, call: String, stage: Int, launch: Long,
      finish: Long, runMs: Long, cpuNs: Long, gcMs: Long, shuffleW: Long,
      shuffleR: Long, spill: Long, inBytes: Long, outBytes: Long,
      failed: Boolean)
  final case class QueryRec(startMs: Long, planMs: Double, filesRead: Long,
      filesWritten: Long)

  /** Analysis, optimization and physical planning, in ms. */
  def planMs(qe: QueryExecution): Double =
    qe.tracker.phases.collect {
      case (p, s) if p != "parsing" => (s.endTimeMs - s.startTimeMs).toDouble
    }.sum

  /** Time in [start, end] during which no task ran. */
  def idleMs(start: Long, end: Long, spans: Seq[(Long, Long)]): Double = {
    val clipped = spans.map { case (a, b) => (math.max(a, start),
      math.min(b, end)) }.filter { case (a, b) => b > a }.sortBy(_._1)
    var busy = 0L
    var curA = -1L
    var curB = -1L
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) busy += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) busy += curB - curA
    math.max(0L, end - start - busy).toDouble
  }

  /** (files read by scans, files written) of a plan, descending into
    * adaptive stages. */
  def fileCounts(plan: SparkPlan): (Long, Long) = {
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case s: QueryStageExec => nodes(s.plan)
      case o => o +: (o.children.flatMap(nodes) ++
        o.subqueries.flatMap(nodes))
    }
    def metric(p: SparkPlan, k: String): Long =
      p.metrics.get(k).map(_.value).getOrElse(0L)
    val all = nodes(plan)
    val reads = all.collect { case s: FileSourceScanExec =>
      metric(s, "numFiles") }.sum
    val writes = all.collect { case w: DataWritingCommandExec =>
      metric(w, "numFiles") }.sum
    (reads, writes)
  }
}
