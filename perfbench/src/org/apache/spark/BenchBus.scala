package org.apache.spark

/** Drains Spark's listener bus (private to `org.apache.spark`), so the
  * counters and streaming progress a call produced have all been
  * delivered before the benchmark reads them. */
object BenchBus {
  def drain(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
