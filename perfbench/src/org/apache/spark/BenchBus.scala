package org.apache.spark

/** Lives in Spark's package because the listener bus is package-private.
  * The benchmark reads its counters only after every listener has seen
  * every event of the pass. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
