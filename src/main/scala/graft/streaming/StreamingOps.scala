package graft.streaming

import graft.engine.Tables
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.{StructType, TimestampType}

/** Structured-Streaming forms of the engine's event operators
  * (SURVEY.md §2.12): the same semantics as the batch EventQueries
  * (q31-q33), expressed over `readStream` with event-time watermarks.
  * The batch forms are the oracle-checkable twins; these are the
  * production shape for unbounded input — state is bounded by the
  * watermark, aggregation is incremental, and each operator scales
  * with the shuffle partitioning like its batch twin.
  *
  * Every stateful operator here bounds its state in event time only,
  * so its output follows the data, not the wall clock, and a bounded
  * replay drains (`processAllAvailable` returns).
  */
object StreamingOps {

  /** The watermark delay of every operator here but [[sessionized]]: a
    * batch drops the rows more than this behind the largest `ts` of the
    * batches before the previous one (the previous batch's watermark). */
  val WatermarkDelayMs: Long = 60L * 60 * 1000

  /** Event-time idleness after which [[runningUserCounts]] and
    * [[StreamingDedup.candidates]] drop a key's state. */
  val IdleTimeoutMs: Long = 30L * 60 * 1000

  private[streaming] val watermarkDelay = s"$WatermarkDelayMs milliseconds"

  /** Times a key out [[IdleTimeoutMs]] after its last event, or at the
    * next batch if that is behind the current watermark (Spark rejects
    * it; a batch can keep such rows, see [[WatermarkDelayMs]]). */
  private[streaming] def expireAfterIdle(state: GroupState[_], lastMs: Long): Unit =
    state.setTimeoutTimestamp(math.max(lastMs + IdleTimeoutMs, state.getCurrentWatermarkMs()))

  /** Typed event row for the stateful operators and test sources. */
  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)

  /** Schema for file-based streaming reads of the events table: the
    * catalog's declared `events` schema, so `ts` is the file's
    * microsecond timestamp without a time zone, as the batch
    * EventQueries read it. */
  val rawSchema: StructType = Tables.schema("events")

  /** `readStream` over a directory of events parquet files (the
    * streaming source tails the directory for new files — the
    * production ingestion shape). `ts` becomes a TIMESTAMP, the type of
    * [[Event]]; the engine's sessions run in UTC, so the cast keeps the
    * batch read's wall-clock values. */
  def readEvents(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(rawSchema).parquet(dir)
      .withColumn("ts", col("ts").cast(TimestampType))

  /** q31's streaming twin: tumbling 1-hour event-time window per
    * event type, 1-hour watermark bounding state. Values quantized to
    * exact integer cents like the batch form, so incremental
    * aggregation order cannot perturb the sum. */
  def hourlyCounts(events: DataFrame): DataFrame =
    events.withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        (sum(round(col("value") * 100.0).cast("long")).cast("double") / 100.0)
          .as("total_value"))
      .select(col("w.start").as("hour"), col("event_type"),
        col("n"), col("total_value"))

  /** q32's streaming twin: keep-first dedup per (user_id, event_type)
    * with watermark-bounded dedup state. */
  def dedupFirst(events: DataFrame): DataFrame =
    events.withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark(Seq("user_id", "event_type"))

  /** q33's streaming twin: native session windows (30-minute gap). */
  def sessionized(events: DataFrame): DataFrame =
    events.withWatermark("ts", "2 hours")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"))

  /** Stream-static join (SURVEY.md §2.12: "the neighbor index as a
    * batch-built, stream-joined static side"): enrich a live event
    * stream with a batch-built per-key dimension. The static side is
    * broadcast when small; Spark re-plans it per micro-batch so a
    * refreshed static table is picked up. */
  def enrichWithStatic(events: DataFrame, static: DataFrame,
      key: String): DataFrame =
    events.join(org.apache.spark.sql.functions.broadcast(static), Seq(key), "left")

  /** Custom streaming state via KeyValueGroupedDataset: running
    * per-user event count (the minimal stateful-map shape a user
    * extends for bespoke state machines).
    *
    * State expires in event time: the input carries the 1-hour
    * watermark, so late rows are dropped, and a user's count is removed
    * once the watermark passes the user's last `ts` plus [[IdleTimeoutMs]]
    * — 30 min of event-time idleness ([[expireAfterIdle]]). A user
    * returning after that restarts from 1. State therefore holds only the
    * users seen within the last 90 min of event time. Expiry emits
    * nothing: the output stream is the running count of every live user. */
  def runningUserCounts(events: Dataset[Event]): Dataset[(Long, Long)] = {
    import events.sparkSession.implicits._
    events.withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Long), (Long, Long)](
        OutputMode.Update, GroupStateTimeout.EventTimeTimeout) {
        (uid, rows, state) =>
          if (state.hasTimedOut) {
            state.remove() // idle user: drop the count, emit nothing
            Iterator.empty
          } else {
            // state: (count, last event ts in epoch ms)
            val (n0, last0) = state.getOption.getOrElse((0L, Long.MinValue))
            val (n, last) = rows.foldLeft((n0, last0)) {
              case ((c, t), e) => (c + 1, math.max(t, e.ts.getTime))
            }
            state.update((n, last))
            expireAfterIdle(state, last)
            Iterator((uid, n))
          }
      }
  }
}
