package org.apache.spark

/** Lets the benchmark wait until every posted listener event has been
  * delivered, so per-operation counters read after an operation include
  * all of its jobs and tasks. Only the traced run calls it, outside the
  * timed interval. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
