package graft

import java.sql.Timestamp

import graft.TestSpark.{stateRows, withConf}
import graft.dedup.DedupOps
import graft.functions.MinHashExprs
import graft.streaming.StreamingDedup
import graft.streaming.StreamingDedup.Doc
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, posexplode}
import org.scalatest.funsuite.AnyFunSuite

class StreamingDedupSpec extends AnyFunSuite {

  lazy val spark = TestSpark.session

  private val a = "the quick brown fox jumps over the lazy dog tonight"
  private val aNear = "quick brown fox jumps over the lazy dog tonight" // first token dropped
  private val other = "completely unrelated words about spark shuffle partitions here"

  private val t0 = Timestamp.valueOf("2024-01-01 00:00:00")
  private def plusHours(t: Timestamp, h: Int) = new Timestamp(t.getTime + h * 3600000L)

  private def pairs(table: String): Set[(Long, Long)] =
    spark.table(table).select("i", "j").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("row-local band signatures match the batch DataFrame pipeline") {
    import spark.implicits._
    val docs = Seq((1L, a), (2L, aNear)).toDF("doc_id", "text")
    // reference: Spark's trigrams, then in plain Scala the per-seed
    // min of md5("h|shingle") and the md5 of each band's concatenation
    val shingles = ReferenceShingles.trigrams(docs).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getString(1)).toSeq).toMap
    def md5(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val rowsPerBand = DedupOps.NumHashes / DedupOps.Bands
    for ((id, text) <- Seq(1L -> a, 2L -> aNear)) {
      val minhashes = (0 until DedupOps.NumHashes).map(h =>
        shingles(id).map(s => md5(s"$h|$s")).min)
      val expect = minhashes.grouped(rowsPerBand).map(b => md5(b.mkString))
        .zipWithIndex.map { case (sig, b) => (b.toLong, sig) }.toSeq
      assert(StreamingDedup.bandSignatures(text) == expect, s"doc $id")
    }
  }

  test("stream emits a candidate pair when a near-dup arrives, exactly once") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[Doc]
    val q = StreamingDedup.candidates(src.toDS())
      .writeStream.format("memory").queryName("neardup_cand")
      .outputMode("append").start()
    src.addData(Doc(1, a, t0), Doc(3, other, t0))
    q.processAllAvailable()
    assert(spark.table("neardup_cand").count() == 0) // nothing collides yet
    src.addData(Doc(2, aNear, t0))
    q.processAllAvailable()
    assert(pairs("neardup_cand") == Set((1L, 2L)))
    // replaying the same doc adds no new pairs (bucket state remembers it)
    src.addData(Doc(2, aNear, t0))
    q.processAllAvailable()
    val after = spark.table("neardup_cand")
      .select("i", "j").distinct().count()
    q.stop()
    assert(after == 1)
  }

  test("bucket state expires after 30 min of event-time idleness") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[Doc]
    val q = StreamingDedup.candidates(src.toDS())
      .writeStream.format("memory").queryName("neardup_expiry")
      .outputMode("append").start()
    val t2h = plusHours(t0, 2)
    try {
      src.addData(Doc(1, a, t0))
      q.processAllAvailable()
      assert(stateRows(q) == 4, "doc 1's four band buckets")
      // an unrelated doc 2 h later moves the watermark to t0 + 1 h, past
      // the expiry of doc 1's buckets at t0 + 30 min: the no-data batch
      // that follows drops them
      src.addData(Doc(3, other, t2h))
      q.processAllAvailable()
      assert(stateRows(q) == 4, "only doc 3's buckets are left")
      src.addData(Doc(2, aNear, t2h))
      q.processAllAvailable()
      assert(spark.table("neardup_expiry").count() == 0,
        "no candidate pair: doc 1 was forgotten before doc 2 arrived")
      // live buckets still collide: docs 1 and 2 arrive in one batch
      src.addData(Doc(1, a, t2h), Doc(2, aNear, t2h))
      q.processAllAvailable()
      assert(pairs("neardup_expiry") == Set((1L, 2L)))
    } finally q.stop()
  }

  test("a doc behind the eviction watermark in a back-to-back batch still pairs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[Doc]
    // with no no-data batches, a batch drops late rows by the watermark
    // of the batch before it, but evicts by its own, higher one
    val q = withConf("spark.sql.streaming.noDataMicroBatches.enabled", "false") {
      StreamingDedup.candidates(src.toDS())
        .writeStream.format("memory").queryName("neardup_back_to_back")
        .outputMode("append").start()
    }
    try {
      src.addData(Doc(1, a, t0))
      q.processAllAvailable()
      src.addData(Doc(3, other, plusHours(t0, 3)))
      q.processAllAvailable()
      // doc 2 at t0 + 10 min is behind the eviction watermark (t0 + 2 h)
      // but not behind the late-row one (t0 - 1 h), and 10 min after doc 1
      src.addData(Doc(2, aNear, new Timestamp(t0.getTime + 10 * 60000L)))
      q.processAllAvailable()
      assert(q.isActive && q.exception.isEmpty)
      assert(pairs("neardup_back_to_back") == Set((1L, 2L)))
    } finally q.stop()
  }

  test("streaming candidates agree with the batch LSH candidates") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(Doc(1, a, t0), Doc(2, aNear, t0), Doc(3, other, t0),
      Doc(4, other + " extended with more unrelated tokens", t0))
    // q22's batch path: the native band_sigs column, then the bucket
    // self-join
    val bandSigs = corpus.map(d => (d.doc_id, d.text)).toDF("doc_id", "text")
      .select(col("doc_id"),
        posexplode(MinHashExprs.band_sigs(col("text"))).as(Seq("band", "sig")))
      .select(col("doc_id"), col("band").cast("long").as("band"), col("sig"))
    val batch = DedupOps.candidatesFromBandSigs(bandSigs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batch.contains((1L, 2L)))
    val src = MemoryStream[Doc]
    val q = StreamingDedup.candidates(src.toDS())
      .writeStream.format("memory").queryName("neardup_all")
      .outputMode("append").start()
    corpus.foreach { d => src.addData(d); q.processAllAvailable() }
    val streamed = pairs("neardup_all")
    q.stop()
    assert(streamed == batch)
  }
}
