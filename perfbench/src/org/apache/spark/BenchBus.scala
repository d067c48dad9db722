package org.apache.spark

/** The listener bus drain is `private[spark]`; this is the benchmark's one
  * window onto it. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
