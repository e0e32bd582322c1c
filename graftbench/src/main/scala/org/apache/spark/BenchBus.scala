package org.apache.spark

/** Listener events reach listeners asynchronously. The traced run drains
  * the bus after each op so every job, stage and task event of that op has
  * been counted before the next op starts.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
