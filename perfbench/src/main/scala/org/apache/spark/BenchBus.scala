package org.apache.spark

/** Spark delivers listener events asynchronously; a benchmark reading
  * counters at a boundary must wait until every event posted before
  * that boundary has been delivered. The bus is package-private. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
