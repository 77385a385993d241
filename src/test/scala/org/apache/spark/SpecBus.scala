package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Job counting for specs. The listener bus is private to Spark, so it
  * is drained from inside Spark's package before the listener is read.
  */
object SpecBus {
  private val Tag = "graft.spec.jobs"

  /** The Spark jobs `body` started on this thread. */
  def jobsOf(spark: SparkSession)(body: => Any): Int = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(Tag) == tag)) jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty(Tag, tag)
    try {
      body
      sc.listenerBus.waitUntilEmpty()
      jobs.get
    } finally {
      sc.setLocalProperty(Tag, null)
      sc.removeSparkListener(listener)
    }
  }
}
