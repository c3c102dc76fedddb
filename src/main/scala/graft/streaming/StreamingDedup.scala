package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming near-duplicate detection — the streaming twin of the
  * batch MinHash-LSH pipeline (q22): documents arrive on a stream,
  * each is signed row-locally (tokenize → 3-gram shingles → 16
  * minhashes → 4 band signatures, the [[graft.dedup.MinHashLocal]]
  * scheme q22's native `band_sigs` column uses), and a stateful bucket
  * operator keeps the doc-ids seen per (band, signature) bucket,
  * emitting candidate pairs the moment a new arrival collides with
  * history.
  *
  * Scale shape: signatures are computed map-side with no shuffle; the
  * only stateful shuffle keys by bucket, so state per key is a small
  * id set bounded by bucket occupancy — and bounded in event time: a
  * bucket that has seen no doc for 30 min of event time is dropped
  * (see [[candidates]]), so on an unbounded stream total state is
  * O(buckets active within the last 90 min of event time) instead of
  * growing forever. The exact-Jaccard verification of emitted
  * candidates stays a batch join against the document store.
  */
object StreamingDedup {

  /** A document arriving at event time `ts`. */
  case class Doc(doc_id: Long, text: String, ts: java.sql.Timestamp)
  /** A bucket collision: doc `i` < doc `j` share band `band`'s
    * signature. The same pair may surface from several bands —
    * consumers dedupe on (i, j). */
  case class CandidatePair(i: Long, j: Long, band: Long)

  /** Row-local band signatures — delegates to the shared
    * [[graft.dedup.MinHashLocal]] scheme (same code path the native
    * batch expressions use). Returns (band, sig); empty for docs with
    * fewer than 3 tokens. */
  def bandSignatures(text: String): Seq[(Long, String)] =
    graft.dedup.MinHashLocal.bandSigs(text).zipWithIndex
      .map { case (sig, b) => (b.toLong, sig) }.toSeq

  /** The stateful bucket operator: per (band, sig) bucket, remember
    * seen doc ids; each new arrival emits one candidate pair per
    * historical member (ordered i < j).
    *
    * State expires in event time, by the rule of
    * [[StreamingOps.runningUserCounts]]: the signed rows carry the
    * 1-hour watermark on their doc's `ts`, so late docs are dropped, and
    * a bucket is removed once the watermark passes the `ts` of its last
    * doc plus [[StreamingOps.IdleTimeoutMs]] (30 min).
    * A doc arriving after its bucket expired is treated as new
    * history: it pairs with nothing seen before the expiry. */
  def candidates(docs: Dataset[Doc]): Dataset[CandidatePair] = {
    import docs.sparkSession.implicits._
    docs.flatMap(d => bandSignatures(d.text).map {
      case (band, sig) => (band, sig, d.doc_id, d.ts)
    })
      .withWatermark("_4", StreamingOps.watermarkDelay)
      .groupByKey(t => (t._1, t._2))
      // state: (doc ids seen, last doc ts in epoch ms)
      .flatMapGroupsWithState[(Set[Long], Long), CandidatePair](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case ((band, _), rows, state: GroupState[(Set[Long], Long)]) =>
          if (state.hasTimedOut) {
            state.remove() // idle bucket: drop its id set
            Iterator.empty
          } else {
            val (seen, last0) = state.getOption.getOrElse((Set.empty[Long], Long.MinValue))
            val arrived = rows.toSeq
            val fresh = arrived.map(_._3).toSet -- seen
            val all = seen ++ fresh
            val last = arrived.foldLeft(last0)((t, r) => math.max(t, r._4.getTime))
            state.update((all, last))
            StreamingOps.expireAfterIdle(state, last)
            (for {
              n <- fresh.iterator
              o <- all.iterator if o != n
              if n > o || !fresh.contains(o) // emit each pair once
            } yield CandidatePair(math.min(n, o), math.max(n, o), band))
          }
      }
  }
}
