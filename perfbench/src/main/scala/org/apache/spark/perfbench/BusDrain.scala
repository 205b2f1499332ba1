package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is private to Spark; the traced run needs every
  * posted event delivered before it aggregates its counters.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
