package org.apache.spark

/** The listener bus delivers events asynchronously; the traced run drains
  * it before reading what its listener attributed to each span. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
