package org.apache.spark

/** The listener bus is private to Spark; a spec that counts the jobs a
  * call started drains it before reading its listener.
  */
object SpecBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
