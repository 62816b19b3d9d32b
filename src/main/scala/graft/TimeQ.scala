package graft

/** Dev-loop single-query timer: `runMain graft.TimeQ q93,ns46_bm25`
  * times the named registry entries (min of 2, same warmup + runOnce
  * discipline as [[Bench]]) without paying for the whole registry —
  * the within-session before/after tool BASELINE.md's measurement
  * notes call for. Driver runs never invoke it.
  */
object TimeQ {
  def main(args: Array[String]): Unit = {
    require(args.length == 1,
      "usage: graft.TimeQ <name[,name...]> (SPARK_GRAFT_SF_DIR to set data)")
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // same parallelism knob as Bench: a before/after pair is only
    // comparable to a Bench baseline taken at the same core count
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.create(s"local[$cpus]", "graft-timeq",
      uiEnabled = false)
    spark.sparkContext.setLogLevel("WARN")
    def runOnce(n: String): Unit = {
      SparkEntry.queries(n)(spark, sfDir)
        .queryExecution.executedPlan.execute().count()
      ()
    }
    // JIT warmup through a cheap entry; fall back to the first
    // requested name and never swallow the failure silently (a
    // registry rename would otherwise skip warm-up and skew run 1)
    val warm = if (SparkEntry.queries.contains("q1_agg")) "q1_agg"
      else names.head
    try runOnce(warm)
    catch { case scala.util.control.NonFatal(e) =>
      println(s"[timeq] warmup '$warm' failed: ${e.getMessage}") }
    names.foreach { n =>
      val ts = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        runOnce(n)
        (System.nanoTime() - t0) / 1e9
      }
      println(f"TIME $n ${ts.min}%.2f")
    }
    spark.stop()
  }
}
