package org.apache.spark

/** `SparkContext.listenerBus` is `private[spark]`: specs that count
  * listener events drain the bus through this before reading counts.
  */
object BusDrainForTest {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
