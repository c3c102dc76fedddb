package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

/** One shared local SparkSession across all suites (forked test JVM),
  * the mains' [[Session.local]] at 8 cores, the state metrics the
  * streaming suites read, and a job counter. */
object TestSpark {
  lazy val session: SparkSession = {
    val s = Session.local(8)
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The progress of the query's last batch that ran its stateful
    * operator (idle-trigger progress events carry no state metrics). */
  def lastStateful(q: StreamingQuery): StreamingQueryProgress =
    q.recentProgress.filter(_.stateOperators.nonEmpty).last

  /** State rows after that batch. */
  def stateRows(q: StreamingQuery): Long =
    lastStateful(q).stateOperators(0).numRowsTotal

  /** Runs `body` and returns its value with the number of Spark jobs
    * started meanwhile, on any thread: how far the highest job id in
    * Spark's status store rose. */
  def withJobCount[T](body: => T): (T, Int) = {
    def lastJob = Bridge.jobRecords(session.sparkContext, _ => true)._1
      .map(_.jobId).maxOption.getOrElse(-1)
    val before = lastJob
    val out = body
    (out, lastJob - before)
  }

  /** An `(i, j, rn, cos)` top-k table's rows, `cos` as its raw bits, so
    * two tables compare equal only when every double is bit-equal. */
  def topKBits(df: DataFrame): Set[(Long, Long, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      java.lang.Double.doubleToRawLongBits(r.getDouble(3)))).toSet

  /** Runs `body` with the session conf `key` set to `value`, then puts
    * the previous value back. */
  def withConf[T](key: String, value: String)(body: => T): T = {
    val before = session.conf.getOption(key)
    session.conf.set(key, value)
    try body
    finally before.fold(session.conf.unset(key))(session.conf.set(key, _))
  }
}
