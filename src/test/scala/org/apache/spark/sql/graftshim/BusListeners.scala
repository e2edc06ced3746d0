package org.apache.spark.sql.graftshim

import org.apache.spark.SparkContext

/** The number of listeners on `sc`'s bus (the bus is private[spark]). */
object BusListeners {
  def count(sc: SparkContext): Int = sc.listenerBus.listeners.size
}
