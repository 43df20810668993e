package org.apache.spark

/** Listener events arrive asynchronously; the traced run reads its
  * counters only after the bus has delivered every event of the op. The
  * drain is package-private in Spark, hence this bridge. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
