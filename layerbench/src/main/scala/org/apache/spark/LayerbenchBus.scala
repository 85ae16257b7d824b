package org.apache.spark

/** Waits until Spark's listener bus has delivered every queued event,
  * so counters read after a run include all of its tasks. The bus is
  * package-private to Spark, hence this one-method bridge.
  */
object LayerbenchBus {
  def drain(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
