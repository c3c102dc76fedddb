package graft

import java.sql.Timestamp

import graft.TestSpark.{lastStateful, stateRows, withConf}
import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.Event
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, ntile, unix_micros}
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** Drives each streaming operator with a MemoryStream source and a
  * memory sink — multi-batch feeds advance the watermark so
  * append-mode operators actually emit. */
class StreamingSpec extends AnyFunSuite {

  lazy val spark = TestSpark.session

  private val sfRoot = "/root/testdata"

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 ${minute / 60}%02d:${minute % 60}%02d:00")

  private def tempDir(prefix: String): java.io.File = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toFile
    dir.deleteOnExit()
    dir
  }

  private def listParquet(dir: java.io.File): Seq[java.io.File] =
    dir.listFiles().filter(_.getName.endsWith(".parquet")).toSeq

  /** A fresh directory holding the scale factor's `events.parquet`: the
    * streaming parquet source reads a directory, and the batch queries
    * read `events.parquet` in it. */
  private def stagedEvents(sf: String): java.io.File = {
    val dir = tempDir("graft_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfRoot/$sf/events.parquet"),
      java.nio.file.Paths.get(dir.getPath, "events.parquet"))
    dir
  }


  test("hourlyCounts aggregates tumbling event-time windows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[Event]
    val q = StreamingOps.hourlyCounts(src.toDF())
      .writeStream.format("memory").queryName("hourly").outputMode("update")
      .start()
    src.addData(
      Event(1, ts(5), 1, "click", 1.0), Event(2, ts(20), 2, "click", 2.0),
      Event(3, ts(70), 1, "buy", 5.0))
    q.processAllAvailable()
    val rows = spark.table("hourly").as[(Timestamp, String, Long, Double)]
      .collect().toSet
    q.stop()
    assert(rows.contains((ts(0), "click", 2L, 3.0)))
    assert(rows.contains((ts(60), "buy", 1L, 5.0)))
  }

  test("dedupFirst keeps the first arrival per (user, type)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[Event]
    val q = StreamingOps.dedupFirst(src.toDF())
      .writeStream.format("memory").queryName("dedup").outputMode("append")
      .start()
    src.addData(
      Event(1, ts(0), 1, "click", 1.0),
      Event(2, ts(1), 1, "click", 9.0), // duplicate key, later arrival
      Event(3, ts(2), 2, "click", 3.0))
    q.processAllAvailable()
    val ids = spark.table("dedup").as[Event].collect().map(_.event_id).toSet
    q.stop()
    assert(ids == Set(1L, 3L))
  }

  test("sessionized emits closed 30-min-gap sessions") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[Event]
    val q = StreamingOps.sessionized(src.toDF())
      .writeStream.format("memory").queryName("sessions").outputMode("append")
      .start()
    // one user: events at minute 0, 10 (one session), then minute 60
    src.addData(Event(1, ts(0), 1, "c", 0), Event(2, ts(10), 1, "c", 0),
      Event(3, ts(60), 1, "c", 0))
    q.processAllAvailable()
    // advance watermark far past the sessions so they close and emit
    src.addData(Event(9, ts(600), 9, "c", 0))
    q.processAllAvailable()
    val rows = spark.table("sessions")
      .as[(Long, Timestamp, Timestamp, Long)].collect().filter(_._1 == 1L)
    q.stop()
    assert(rows.map(r => (r._2, r._4)).toSet ==
      Set((ts(0), 2L), (ts(60), 1L)))
  }

  test("runningUserCounts accumulates state across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[Event]
    val q = StreamingOps.runningUserCounts(src.toDS())
      .writeStream.format("memory").queryName("counts").outputMode("update")
      .start()
    src.addData(Event(1, ts(0), 1, "c", 0), Event(2, ts(1), 1, "c", 0))
    q.processAllAvailable()
    src.addData(Event(3, ts(2), 1, "c", 0))
    q.processAllAvailable()
    val last = spark.table("counts").as[(Long, Long)].collect()
      .filter(_._1 == 1L).map(_._2).max
    q.stop()
    assert(last == 3L)
  }

  test("runningUserCounts expires idle users and drops rows behind the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[Event]
    val q = StreamingOps.runningUserCounts(src.toDS())
      .writeStream.format("memory").queryName("counts_expiry")
      .outputMode("update").start()
    try {
      src.addData(Event(1, ts(0), 1, "c", 0), Event(2, ts(5), 2, "c", 0),
        Event(3, ts(10), 1, "c", 0))
      q.processAllAvailable()
      assert(stateRows(q) == 2)
      // 5 h later the watermark (4 h) is past both users' last event
      // + 30 min: only user 3 is left, and a returning user 1 restarts
      src.addData(Event(4, ts(300), 3, "c", 0))
      q.processAllAvailable()
      assert(stateRows(q) == 1)
      src.addData(Event(5, ts(300), 1, "c", 0))
      q.processAllAvailable()
      // a row 5 h late is behind the watermark: dropped, not counted
      src.addData(Event(6, ts(0), 2, "c", 0))
      q.processAllAvailable()
      val out = spark.table("counts_expiry").as[(Long, Long)].collect()
      assert(out.filter(_._1 == 1L).map(_._2).toSet == Set(2L, 1L)) // not 3
      assert(out.count(_._1 == 2L) == 1)
    } finally q.stop()
  }

  test("runningUserCounts takes a row behind the eviction watermark in a back-to-back batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[Event]
    // with no no-data batches, a batch drops late rows by the watermark
    // of the batch before it, but evicts by its own, higher one
    val q = withConf("spark.sql.streaming.noDataMicroBatches.enabled", "false") {
      StreamingOps.runningUserCounts(src.toDS())
        .writeStream.format("memory").queryName("counts_back_to_back")
        .outputMode("update").start()
    }
    try {
      src.addData(Event(1, ts(0), 1, "c", 0))
      q.processAllAvailable()
      src.addData(Event(2, ts(180), 2, "c", 0))
      q.processAllAvailable()
      // late rows are dropped behind t0 - 1 h, evicted state behind
      // t0 + 2 h: user 3's row at t0 + 10 min lies between the two
      src.addData(Event(3, ts(10), 3, "c", 0))
      q.processAllAvailable()
      assert(q.isActive && q.exception.isEmpty)
      val out = spark.table("counts_back_to_back").as[(Long, Long)].collect().toSet
      assert(out == Set((1L, 1L), (2L, 1L), (3L, 1L)))
      assert(stateRows(q) == 2, "user 1 expired; users 2 and 3 are live")
    } finally q.stop()
  }

  test("runningUserCounts state stays bounded over a time-ordered replay of the sf0.01 events") {
    import spark.implicits._
    val files = 5
    val raw = spark.read.parquet(s"$sfRoot/sf0.01/events.parquet")
    val byFile = raw.withColumn("file",
      ntile(files).over(Window.orderBy(col("ts"), col("event_id"))))
    // the bound per file, from the same rows: the users with an event
    // within (watermark delay + idle bound) of the max ts so far
    val rows = byFile
      .select(col("file"), unix_micros(col("ts").cast("timestamp")), col("user_id"))
      .as[(Int, Long, Long)].collect()
    val horizonMicros = (StreamingOps.WatermarkDelayMs + StreamingOps.IdleTimeoutMs) * 1000
    val allUsers = rows.map(_._3).distinct.length
    val stage = tempDir("graft_replay_stage")
    byFile.write.partitionBy("file").parquet(s"$stage/out")
    val dir = tempDir("graft_replay")
    val q = StreamingOps.runningUserCounts(
        StreamingOps.readEvents(spark, dir.getPath).as[Event])
      .writeStream.format("memory").queryName("replay_counts")
      .outputMode("update").start()
    val log = try (1 to files).map { f =>
      listParquet(new java.io.File(s"$stage/out/file=$f")).foreach(p =>
        java.nio.file.Files.move(p.toPath, new java.io.File(dir, s"$f-${p.getName}").toPath))
      q.processAllAvailable()
      val maxTs = rows.filter(_._1 <= f).map(_._2).max
      val bound = rows.filter(r => r._1 <= f && r._2 >= maxTs - horizonMicros)
        .map(_._3).distinct.length
      val progress = lastStateful(q)
      val state = progress.stateOperators(0).numRowsTotal
      val watermark = progress.eventTime.get("watermark")
      assert(state > 0 && state <= bound, s"file $f: $state state rows, bound $bound")
      assert(state < allUsers, s"file $f: $state state rows of $allUsers users")
      s"""{"file": $f, "state_rows": $state, "bound": $bound, "watermark": "$watermark"}"""
    } finally q.stop()
    val out = new java.io.File("target/streaming_state.json")
    out.getParentFile.mkdirs()
    java.nio.file.Files.writeString(out.toPath,
      log.mkString(s"""{"users": $allUsers, "files": [\n  """, ",\n  ", "\n]}\n"))
  }

  test("dedupFirst streams the events table to batch q32's rows") {
    val dir = stagedEvents("sf0.001")
    val q = StreamingOps.dedupFirst(StreamingOps.readEvents(spark, dir.getPath))
      .writeStream.format("memory").queryName("file_dedup")
      .outputMode("append").start()
    q.processAllAvailable()
    // one batch, one split, and the file is in (ts, event_id) order, so
    // the first arrival per key is q32's first row
    val key = Seq(col("user_id"), col("event_type"), col("event_id"),
      col("ts").cast("string"), col("value"))
    val streamed = spark.table("file_dedup").select(key: _*).collect().toSet
    q.stop()
    val batch = graft.queries.EventQueries.q32.run(spark, dir.getPath)
      .select(key: _*).collect().toSet
    assert(batch.size == 75)
    assert(streamed == batch)
  }

  test("sessionized streams the events table to batch q33's sessions") {
    val dir = stagedEvents("sf0.001")
    // a one-row sentinel far past the data moves the watermark beyond
    // every real session, so each closes and is emitted
    val sentinel = tempDir("graft_sentinel")
    spark.createDataFrame(
        java.util.List.of(Row(-1L, java.time.LocalDateTime.of(2024, 3, 1, 0, 0),
          -1L, "sentinel", 0.0, null)),
        StreamingOps.rawSchema)
      .write.mode("overwrite").parquet(sentinel.getPath)
    listParquet(sentinel).foreach(p =>
      java.nio.file.Files.move(p.toPath, new java.io.File(dir, "sentinel.parquet").toPath))
    val q = StreamingOps.sessionized(StreamingOps.readEvents(spark, dir.getPath))
      .writeStream.format("memory").queryName("file_sessions")
      .outputMode("append").start()
    q.processAllAvailable()
    val key = Seq(col("user_id"), col("session_start").cast("string"), col("n_events"))
    val streamed = spark.table("file_sessions").filter(col("user_id") =!= -1L)
      .select(key: _*).collect().toSet
    q.stop()
    val batch = graft.queries.EventQueries.q33.run(spark, dir.getPath)
      .select(key: _*).collect().toSet
    assert(batch.nonEmpty)
    assert(streamed == batch)
  }

  test("readEvents streams the parquet events table end-to-end") {
    val dir = stagedEvents("sf0.001")
    val stream = StreamingOps.readEvents(spark, dir.getPath)
    val q = StreamingOps.hourlyCounts(stream)
      .writeStream.format("memory").queryName("file_hourly")
      .outputMode("update").start()
    q.processAllAvailable()
    // the streamed windows are batch q31's rows: same wall-clock hours
    // (the file's µs timestamps), counts and cent-exact sums
    val key = Seq(col("hour").cast("string"), col("event_type"),
      col("n"), col("total_value"))
    val streamed = spark.table("file_hourly").select(key: _*).collect().toSet
    q.stop()
    val batch = graft.queries.EventQueries.q31.run(spark, dir.getPath)
      .select(key: _*).collect().toSet
    assert(batch.nonEmpty)
    assert(streamed == batch)
  }

  test("hourlyCounts under Trigger.AvailableNow stops by itself with batch q31's rows") {
    val dir = stagedEvents("sf0.001")
    val q = StreamingOps.hourlyCounts(StreamingOps.readEvents(spark, dir.getPath))
      .writeStream.format("memory").queryName("file_hourly_now")
      .outputMode("update").trigger(Trigger.AvailableNow()).start()
    // no processAllAvailable and no stop: the trigger drains what the
    // directory holds at start, then the query terminates on its own
    val stopped = q.awaitTermination(120000)
    if (!stopped) q.stop()
    assert(stopped, "AvailableNow query still running after 120 s")
    assert(q.exception.isEmpty)
    val key = Seq(col("hour").cast("string"), col("event_type"),
      col("n"), col("total_value"))
    val streamed = spark.table("file_hourly_now").select(key: _*).collect().toSet
    val batch = graft.queries.EventQueries.q31.run(spark, dir.getPath)
      .select(key: _*).collect().toSet
    assert(batch.nonEmpty)
    assert(streamed == batch)
  }

  test("stream-static join enriches live events with a batch dimension") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val static = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val src = MemoryStream[Event]
    val q = StreamingOps.enrichWithStatic(src.toDF(), static, "user_id")
      .writeStream.format("memory").queryName("enriched")
      .outputMode("append").start()
    src.addData(
      Event(1, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1, "c", 1.0),
      Event(2, java.sql.Timestamp.valueOf("2024-01-01 00:01:00"), 3, "c", 2.0))
    q.processAllAvailable()
    val rows = spark.table("enriched").select("event_id", "tier")
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    q.stop()
    assert(rows(1L).contains("gold"))
    assert(rows(2L).isEmpty) // left join keeps unmatched stream rows
  }
}
