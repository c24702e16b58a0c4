package org.apache.spark

/** The listener bus delivers events asynchronously; the traced run drains
  * it before deriving per-layer numbers, so no job or query-execution event
  * of the pass is still queued. `waitUntilEmpty` is spark-private, hence
  * this accessor lives in Spark's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
