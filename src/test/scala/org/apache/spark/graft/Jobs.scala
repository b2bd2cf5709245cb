package org.apache.spark.graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block starts. The listener bus is drained
  * before and after, so the count is exact, not a settle-and-poll guess.
  * (Lives under `org.apache.spark` because `listenerBus` is
  * `private[spark]`.)
  */
object Jobs {
  def count(spark: SparkSession)(body: => Any): Int = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(listener)
    try {
      body
      sc.listenerBus.waitUntilEmpty()
      jobs.get()
    } finally sc.removeSparkListener(listener)
  }
}
