package org.apache.spark.sql.graftprobe

import org.apache.spark.sql.SparkSession

/** Visibility shim: listener-bus delivery is asynchronous and
  * `LiveListenerBus.waitUntilEmpty` is private[spark], so code that
  * counts listener events (graft.Harness, the specs) calls this before
  * reading its counts. */
object ListenerDrain {
  def apply(s: SparkSession): Unit = s.sparkContext.listenerBus.waitUntilEmpty()
}
