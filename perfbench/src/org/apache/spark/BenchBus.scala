package org.apache.spark

/** Waits until the listener bus has delivered every event posted so far,
  * so a traced pass is attributed only after all of its job and task
  * events arrived. `listenerBus` is package-private to Spark.
  */
object BenchBus {
  def drain(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
