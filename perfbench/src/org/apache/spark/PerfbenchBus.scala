package org.apache.spark

/** The listener bus is private to Spark; the traced run needs to wait
  * until every event of a finished call has reached the benchmark's
  * listeners before it attributes them to that call. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
