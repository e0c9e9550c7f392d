package org.apache.spark

/** The listener bus's drain is package-private; the benchmark needs it to
  * read scheduler counts only after every posted event was delivered. */
object PerfbenchBus {
  def waitUntilEmpty(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
