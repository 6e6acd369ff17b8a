package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Waits until every listener event posted so far has been delivered,
  * so a traced run reads complete counters. The bus is package-private
  * to Spark, hence this file's package. */
object ListenerBusDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
