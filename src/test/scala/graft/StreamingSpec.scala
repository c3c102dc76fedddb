package graft

import java.sql.Timestamp

import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.Event
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Drives each streaming operator with a MemoryStream source and a
  * memory sink — multi-batch feeds advance the watermark so
  * append-mode operators actually emit. */
class StreamingSpec extends AnyFunSuite {

  lazy val spark = TestSpark.session

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 ${minute / 60}%02d:${minute % 60}%02d:00")

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
    // stateTtlMs = 0 (NoTimeout): drain-and-assert harnesses hang once
    // a processing-time timeout keeps requesting no-data batches
    val q = StreamingOps.runningUserCounts(src.toDS(), stateTtlMs = 0)
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

  test("readEvents streams the parquet events table end-to-end") {
    // the streaming parquet source needs a directory; stage the single
    // events file into one
    val dir = java.nio.file.Files.createTempDirectory("graft_stream").toFile
    dir.deleteOnExit()
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"),
      java.nio.file.Paths.get(dir.getPath, "events.parquet"))
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
