package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

/** One-pass bounded-buffer top-k aggregator (SURVEY.md §4 item 3: the
  * fused alternative to `row_number().over(window) <= k`).
  *
  * The ranking-window form shuffles every group's full row set and
  * sorts it; this keeps at most k (score, id) entries per group in the
  * aggregation buffer, combines map-side (partial aggregation), and
  * ships only k entries per group through the shuffle — at 100 TB the
  * difference is shuffling k rows per key instead of all of them.
  * Ordering is the engine's T3 rule (score descending, id ascending on
  * ties), applied by the same [[TopKBuffer]] the `graft_topk`
  * aggregate uses; the buffer stays a `Seq` so its encoder, and with it
  * q40's plan, is unchanged.
  *
  * Input rows are `(groupKey, id, score)`; the group key is handled by
  * `groupByKey` outside, the aggregator sees `(id, score)` pairs via
  * the tuple's last two fields.
  */
class TopKByScore(k: Int)
    extends Aggregator[(Long, Long, Double), Seq[(Double, Long)], Seq[(Double, Long)]] {

  private def trim(entries: Seq[(Double, Long)]): Seq[(Double, Long)] = {
    val top = new TopKBuffer(k)
    entries.foreach { case (score, id) => top.insert(score, id) }
    top.entries
  }

  override def zero: Seq[(Double, Long)] = Seq.empty

  override def reduce(buf: Seq[(Double, Long)],
      row: (Long, Long, Double)): Seq[(Double, Long)] =
    trim(buf :+ ((row._3, row._2)))

  override def merge(a: Seq[(Double, Long)],
      b: Seq[(Double, Long)]): Seq[(Double, Long)] = trim(a ++ b)

  // reduce and merge already keep the buffer trimmed and ordered
  override def finish(buf: Seq[(Double, Long)]): Seq[(Double, Long)] = buf

  override def bufferEncoder: Encoder[Seq[(Double, Long)]] =
    ExpressionEncoder()

  override def outputEncoder: Encoder[Seq[(Double, Long)]] =
    ExpressionEncoder()
}
