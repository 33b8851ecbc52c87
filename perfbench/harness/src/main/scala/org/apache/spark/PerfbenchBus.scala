package org.apache.spark

/** Blocks until every event posted so far has reached every listener, so
  * per-execution counters are complete before the harness reads them. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
