package org.apache.spark

/** Waits until every listener event posted so far has been delivered.
  * The listener bus is package-private, so this one call lives in
  * Spark's package. The harness calls it off the clock, before it
  * reads what its listeners accumulated for a job. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
