package org.apache.spark.sql.graftbridge

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** The number of Spark jobs a block starts, counted by a listener. The
  * listener bus is drained before and after the block (its drain is
  * `private[spark]`, hence this package), so no event of an earlier block
  * is counted and none of this block's is still queued. */
object JobCounter {
  def apply[A](spark: SparkSession)(body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.listenerBus.waitUntilEmpty()
      (out, jobs.get())
    } finally sc.removeSparkListener(listener)
  }
}
