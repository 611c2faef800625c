package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the listener bus, whose drain is package-private to Spark. */
object ListenerBus {
  /** Block until every event posted so far reached every listener. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
