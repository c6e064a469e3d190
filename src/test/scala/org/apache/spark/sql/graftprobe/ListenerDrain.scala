package org.apache.spark.sql.graftprobe

import org.apache.spark.sql.SparkSession

/** Test-only visibility shim: listener-bus delivery is asynchronous
  * and `LiveListenerBus.waitUntilEmpty` is private[spark], so a spec
  * that counts events calls this before reading its counts. */
object ListenerDrain {
  def apply(s: SparkSession): Unit = s.sparkContext.listenerBus.waitUntilEmpty()
}
