package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to Spark's listener-bus drain, which is package-private to Spark. */
object ListenerBus {
  /** Blocks until every event posted so far has reached every listener. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
