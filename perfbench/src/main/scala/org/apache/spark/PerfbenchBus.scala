package org.apache.spark

/** Waits until every listener event posted so far has been delivered,
  * so the trace written at the end of a run holds all of them. The
  * listener bus is only reachable from Spark's own package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
