package org.apache.spark

/** The listener bus is private to Spark; the traced run drains it so every
  * job, stage and task event of a pass has reached the span listener before
  * the pass's counts are read. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
