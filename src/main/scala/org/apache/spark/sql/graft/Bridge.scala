package org.apache.spark.sql.graft

import scala.util.control.NonFatal

import org.apache.spark.SparkContext
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.status.api.v1.{JobData, StageData}

/** Minimal visibility bridge: `ExpressionUtils` (the Spark 4 Column ↔
  * Expression conversion) is `private[sql]`, so the engine's native
  * expressions reach it through this shim — the standard pattern for
  * Spark extension libraries. The run records come through it too:
  * `SparkContext.listenerBus` and `SparkContext.statusStore` are
  * `private[spark]`. Nothing else from the internal API is exposed. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Deterministic listener-bus drain: every event posted so far has
    * reached the status store once it returns. A drain that fails or
    * times out leaves the records as written so far; an interrupt is
    * passed on to the caller's thread. */
  private def drainListeners(sc: SparkContext): Unit =
    try sc.listenerBus.waitUntilEmpty()
    catch {
      case _: InterruptedException => Thread.currentThread().interrupt()
      case NonFatal(_) => ()
    }

  /** The run records: the job records in Spark's status store that
    * `keep` selects, and the records of every attempt of those jobs'
    * stages, read after [[drainListeners]]. Spark's own listener fills
    * the store, with the UI off too. A job record carries the job
    * description and tags its job started with; a stage record carries
    * its status and the stage's summed task metrics (shuffle write
    * bytes and records among them). The store keeps the last
    * `spark.ui.retainedJobs` jobs and `spark.ui.retainedStages` stages
    * (1,000 each by default) and drops the oldest finished ones past
    * that, so read a job's records soon after it runs. */
  def jobRecords(sc: SparkContext, keep: JobData => Boolean)
      : (Seq[JobData], Seq[StageData]) = {
    drainListeners(sc)
    val jobs = sc.statusStore.jobsList(null).filter(keep)
    val stageIds = jobs.flatMap(_.stageIds).toSet
    (jobs, sc.statusStore.stageList(null).filter(s => stageIds(s.stageId)))
  }
}
