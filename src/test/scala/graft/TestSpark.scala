package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

/** One shared local SparkSession across all suites (forked test JVM),
  * the state metrics the streaming suites read, and a job counter. */
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

  /** Runs `body` and returns its value with the number of Spark jobs
    * that started meanwhile, counted by a `SparkListener`. */
  def withJobCount[T](body: => T): (T, Int) = {
    val sc = session.sparkContext
    org.apache.spark.sql.graft.Bridge.drainListeners(sc)
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      org.apache.spark.sql.graft.Bridge.drainListeners(sc)
      (out, jobs.get())
    } finally sc.removeSparkListener(listener)
  }

  /** Runs `body` with the session conf `key` set to `value`, then puts
    * the previous value back. */
  def withConf[T](key: String, value: String)(body: => T): T = {
    val before = session.conf.getOption(key)
    session.conf.set(key, value)
    try body
    finally before.fold(session.conf.unset(key))(session.conf.set(key, _))
  }
}
