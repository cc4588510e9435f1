package org.apache.spark.grafttest

import org.apache.spark.SparkContext

/** Blocks until every listener event posted so far has been delivered, so
  * a listener's counts are complete when a test reads them. The listener
  * bus is package-private to Spark, hence this one-line bridge. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
