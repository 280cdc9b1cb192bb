package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Blocks until Spark has delivered every posted event to its
  * listeners. The listener bus is private to Spark, hence this object
  * lives in Spark's package.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
