package org.apache.spark.sql.graftshim

import org.apache.spark.SparkContext

/** Listener events arrive asynchronously (listenerBus is private[spark],
  * hence the shim): read or reset listener counters only after every
  * event posted so far has been delivered. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
