package org.apache.spark

/** Lets the benchmark wait until every queued listener event has been
  * delivered, so counters read after a timed call include that call's jobs.
  * The bus is private to Spark, hence this package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
