package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so
  * counters read right after an action include that action's tasks.
  * The bus is package-private to Spark, hence this package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
