package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Blocks until the listener bus has handed every event posted so far
  * to its listeners. `listenerBus` is package-private to Spark. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
