package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Listener events arrive asynchronously. The traced run drains the bus at
  * the end of each operation so every job, stage, task and query event is
  * counted against the operation that caused it. `listenerBus` is
  * `private[spark]`, hence this package.
  */
object BusShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
