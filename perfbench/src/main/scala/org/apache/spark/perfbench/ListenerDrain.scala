package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Blocks until the listener bus has delivered every queued event, so a
  * traced operation's jobs and stages are all recorded before they are
  * counted. The bus is private to Spark, hence this package. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
