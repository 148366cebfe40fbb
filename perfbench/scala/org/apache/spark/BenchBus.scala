package org.apache.spark

/** The listener bus is private to Spark; the benchmark needs to wait for
  * it to drain so a delivery's jobs, stages and tasks are all attributed
  * before the delivery's numbers are read. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
