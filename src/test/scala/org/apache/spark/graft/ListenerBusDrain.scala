package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Waits until every listener event posted so far has been delivered,
  * so a spec counting jobs or actions reads complete counts. The bus is
  * package-private to Spark, hence this file's package. */
object ListenerBusDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
