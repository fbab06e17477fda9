package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Test access to Spark's listener-bus drain, which is package-private to
  * Spark.
  */
object ListenerBus {
  /** Blocks until every event posted so far has reached every listener. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
