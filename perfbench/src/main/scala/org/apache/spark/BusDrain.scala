package org.apache.spark

/** Waits until the listener bus has delivered every event posted so far, so
  * a span's job, stage and task counts are complete when it is read. The
  * bus is private to Spark; this one call is why the file lives in Spark's
  * package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
