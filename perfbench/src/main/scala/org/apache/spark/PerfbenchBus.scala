package org.apache.spark

/** The listener bus is private to Spark; the traced run drains it at the
  * end of each pass so the pass's job, stage, task and query-execution
  * events are all counted before the pass's figures are read.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
