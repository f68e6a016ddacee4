package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so
  * the benchmark reads complete job, task and microbatch records.
  * `LiveListenerBus` is Spark-internal, hence this package. */
object ListenerBusAccess {
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
