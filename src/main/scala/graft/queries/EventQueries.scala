package graft.queries

import graft.engine.{Q, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-stream analytics over the `events` table in batch form —
  * the same tumbling-window / dedup / sessionize semantics the
  * streaming module (`graft.streaming.StreamingOps`) runs over
  * `readStream`; batch keeps them oracle-checkable (SURVEY.md §2.12).
  */
object EventQueries {

  /** The events relation as seen by the DuckDB oracle. `events.ts` is
    * microsecond parquet without a time zone (`isAdjustedToUTC =
    * false`), which Spark reads as TIMESTAMP_NTZ; the oracle casts the
    * same column to TIMESTAMP, so both engines see the same wall-clock
    * values. */
  private val evSql = "(SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events) ev"

  /** Tumbling 1-hour event-time window per event type. Value sums are
    * quantized to cents for exact aggregation. */
  val q31 = Q("q31_events_hourly",
    s"""SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n,
      |CAST(sum(CAST(round(value * 100.0) AS BIGINT)) AS DOUBLE) / 100.0 AS total_value
      |FROM $evSql GROUP BY hour, event_type ORDER BY hour, event_type""".stripMargin) {
    (s, dir) =>
      Tables(s, dir, "events")
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          (sum(round(col("value") * 100.0).cast("long").cast("decimal(38,0)"))
            .cast("double") / 100.0).as("total_value"))
        .orderBy("hour", "event_type")
  }

  /** Keep-first dedup per (user_id, event_type) — the batch form of
    * streaming `dropDuplicatesWithinWatermark`: deterministic first row
    * by (ts, event_id). */
  val q32 = Q("q32_events_dedup_first",
    s"""SELECT user_id, event_type, event_id, ts, value FROM (
      |SELECT user_id, event_type, event_id, ts, value,
      |row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn
      |FROM $evSql) WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin) {
    (s, dir) =>
      val w = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      Tables(s, dir, "events")
        .select(col("user_id"), col("event_type"), col("event_id"),
          col("ts"), col("value"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).drop("rn")
        .orderBy("user_id", "event_type")
  }

  /** Sessionization: per user, a new session starts after a >30 min
    * gap; emit per-session event count and time bounds. The lag/
    * running-sum window pair is the batch form of streaming
    * session-window state. */
  val q33 = Q("q33_sessionize",
    s"""WITH flagged AS (
      |SELECT user_id, ts, event_id,
      |CASE WHEN lag(ts) OVER w IS NULL OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS is_new
      |FROM $evSql WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |sessions AS (
      |SELECT user_id, ts, CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      |FROM flagged)
      |SELECT user_id, session_id, count(*) AS n_events,
      |min(ts) AS session_start, max(ts) AS session_end
      |FROM sessions GROUP BY user_id, session_id
      |ORDER BY user_id, session_id""".stripMargin) { (s, dir) =>
    val wOrd = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("is_new",
        when(lag(col("ts"), 1).over(wOrd).isNull ||
          col("ts") > lag(col("ts"), 1).over(wOrd) + expr("INTERVAL 30 MINUTE"), 1)
          .otherwise(0))
      .withColumn("session_id", sum(col("is_new")).over(wRun).cast("long"))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"), max(col("ts")).as("session_end"))
      .orderBy("user_id", "session_id")
  }

  /** JSON column extraction — `events.props` carries a JSON payload;
    * typed extraction + aggregation over it (the semi-structured
    * source surface; Spark `get_json_object` ↔ DuckDB `json_extract`). */
  val q42 = Q("q42_json_extract",
    """SELECT k_bucket, count(*) AS n, min(event_id) AS first_event
      |FROM (SELECT event_id, CAST(json_extract(props, '$.k') AS BIGINT) % 10 AS k_bucket FROM events)
      |GROUP BY k_bucket ORDER BY k_bucket""".stripMargin) { (s, dir) =>
    // no spread: one was tried and reverted — the JSON parse of this
    // table is cheaper than the exchange
    Tables(s, dir, "events")
      .select(col("event_id"),
        (get_json_object(col("props"), "$.k").cast("long") % 10).as("k_bucket"))
      .groupBy("k_bucket")
      .agg(count(lit(1)).as("n"), min(col("event_id")).as("first_event"))
      .orderBy("k_bucket")
  }

  def all: Seq[Q] = Seq(q31, q32, q33, q42)
}
