package org.apache.spark

/** The listener bus delivers events asynchronously; the benchmark drains
  * it at pass boundaries so each pass's counters are complete. */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
