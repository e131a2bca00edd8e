package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge. Spark 4 made these helpers `private[sql]`, so
  * this one-file shim inside the sql package tree re-exposes exactly the two
  * conversions our custom Catalyst expressions need.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Drain the async listener bus (`private[spark]` in Spark 4) — used by
    * per-query metric accounting so task metrics attribute to the query
    * that produced them.
    */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** Count one file of `bytes` that a task wrote outside Spark's writers
    * (a Hadoop FS stream opened in a `map`) into the task's output metrics
    * as one record, since their setters are `private[spark]`; a no-op off
    * a task thread.
    */
  def addWrittenFile(bytes: Long): Unit = {
    val tc = org.apache.spark.TaskContext.get()
    if (tc != null) {
      val om = tc.taskMetrics().outputMetrics
      om.setBytesWritten(om.bytesWritten + bytes)
      om.setRecordsWritten(om.recordsWritten + 1)
    }
  }
}
