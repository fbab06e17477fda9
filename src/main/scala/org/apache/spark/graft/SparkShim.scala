package org.apache.spark.graft

import org.apache.spark.{SparkContext, TaskContext}

/** Access to two `private[spark]` facilities, in the shape of
  * `org.apache.spark.sql.graft.ColumnShim`: the setters of a task's output
  * metrics, so that a sink that writes its files itself reports them to
  * Spark's listeners as Spark's own file sinks do, and the listener-bus
  * drain.
  */
object SparkShim {

  /** Records that the running task wrote `records` records in `bytes` bytes. */
  def reportOutput(ctx: TaskContext, bytes: Long, records: Long): Unit = {
    val m = ctx.taskMetrics().outputMetrics
    m.setBytesWritten(bytes)
    m.setRecordsWritten(records)
  }

  /** Blocks until every event posted so far has reached every listener. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
