package org.apache.spark.graftspec

import org.apache.spark.SparkContext

/** Test access to the listener bus: events arrive asynchronously, so a
  * spec that counts them drains the bus first (`listenerBus` is
  * `private[spark]`).
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
