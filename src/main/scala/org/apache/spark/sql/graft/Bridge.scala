package org.apache.spark.sql.graft

import scala.util.control.NonFatal

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal visibility bridge: `ExpressionUtils` (the Spark 4 Column ↔
  * Expression conversion) is `private[sql]`, so the engine's native
  * expressions reach it through this shim — the standard pattern for
  * Spark extension libraries. Nothing else from the internal API is
  * exposed. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Deterministic listener-bus drain (`listenerBus` is
    * `private[spark]`): lets bench tooling read listener-accumulated
    * metrics (per-query shuffle bytes) without racing the async bus.
    * A drain that fails or times out leaves the metrics as counted so
    * far; an interrupt is passed on to the caller's thread. */
  def drainListeners(sc: org.apache.spark.SparkContext): Unit =
    try sc.listenerBus.waitUntilEmpty()
    catch {
      case _: InterruptedException => Thread.currentThread().interrupt()
      case NonFatal(_) => ()
    }
}
