package org.apache.spark

/** Waits until every event posted so far has reached the listeners, so
  * counters read after an op include all of that op's jobs. The bus is
  * package-private to Spark, hence this file's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
