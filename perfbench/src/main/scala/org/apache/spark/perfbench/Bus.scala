package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Spark delivers listener events asynchronously; the traced run drains the
  * bus once, after the timed region, before reading what the listener saw.
  * The bus is package-private to Spark, hence this shim's package. */
object Bus {
  def drain(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
