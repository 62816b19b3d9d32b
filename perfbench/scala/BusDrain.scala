package org.apache.spark

/** The listener bus is private to Spark; the benchmark waits on it so
  * that every task and query event of an operation has reached its
  * listeners before the operation's counters are read.
  */
object PerfbenchBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
