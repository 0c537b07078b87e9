package org.apache.spark.graftspec

import org.apache.spark.SparkContext

/** Listener events arrive asynchronously: drain the bus so the status
  * tracker has seen every job a spec ran before it is read. `listenerBus`
  * is `private[spark]`, hence this package.
  */
object BusShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
