package org.apache.spark

/** Waits until the listener bus has delivered every event posted so far,
  * so the benchmark's listener holds the whole measured phase. The bus is
  * private to Spark; this object lives in Spark's package to reach it. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
