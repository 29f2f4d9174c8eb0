package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so a
  * traced run's listeners have seen all of the run's jobs before the
  * metrics are read. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
