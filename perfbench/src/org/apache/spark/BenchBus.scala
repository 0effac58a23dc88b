package org.apache.spark

/** Lets the benchmark wait until every listener event posted so far has
  * been delivered, so per-gate counters are complete before the next gate
  * starts. The bus is `private[spark]`, hence this package. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
