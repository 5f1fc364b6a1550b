package org.apache.spark

/** Drains Spark's asynchronous listener bus so that counters read right
  * after an action include every event that action posted. The bus's
  * `waitUntilEmpty` is package-private, hence this accessor's package. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
