package org.apache.spark

/** Listener-bus access for the benchmark's traced run: the bus is
  * asynchronous, so per-operation counts are only complete once every
  * queued event has been delivered. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
