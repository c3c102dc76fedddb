package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

/** One shared local SparkSession across all suites (forked test JVM),
  * and the state metrics the streaming suites read. */
object TestSpark {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[8]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
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

  /** Runs `body` with the session conf `key` set to `value`, then puts
    * the previous value back. */
  def withConf[T](key: String, value: String)(body: => T): T = {
    val before = session.conf.getOption(key)
    session.conf.set(key, value)
    try body
    finally before.fold(session.conf.unset(key))(session.conf.set(key, _))
  }
}
