package org.apache.spark

/** The listener bus delivers events asynchronously; a span boundary waits
  * for it to drain so every job, stage and task that ended inside the span
  * is counted there. The bus is package-private, hence this package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
