package org.apache.spark

/** The listener bus delivers events asynchronously; the benchmark waits
  * for it to drain before it attributes an op's jobs. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(10000L)
}
