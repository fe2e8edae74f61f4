package org.apache.spark

/** Drains Spark's listener bus so task metrics read after a job are complete. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
