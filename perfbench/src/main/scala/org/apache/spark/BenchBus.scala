package org.apache.spark

/** Listener events are delivered asynchronously; per-call counters are
  * only complete once the bus has drained. The drain is package-private
  * to Spark, hence this one-line bridge. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
