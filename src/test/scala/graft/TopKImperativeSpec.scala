package graft

import graft.engine.SimilarityOps
import graft.functions.{TopKBuffer, TopKScoreId}
import org.apache.spark.sql.Row
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** TopKBuffer edge cases, plus the engine's two top-k entry points —
  * the graft_topk aggregate and `SimilarityOps.rankTopK` built on it —
  * against `row_number()` over the same order, the oracle SQL's form. */
class TopKImperativeSpec extends AnyFunSuite {

  lazy val spark = TestSpark.session

  /** A score as its bits, so NaN equals NaN and -0.0 differs from 0.0:
    * a kept row must carry its own score, not one equal to it. */
  private def exact(top: Seq[(Double, Long)]): Seq[(Long, Long)] =
    top.map { case (s, id) => (java.lang.Double.doubleToLongBits(s), id) }

  /** Per group `g`, the (score, id) list `row_number()` over (score
    * desc, id asc) keeps; asserts graft_topk and rankTopK keep the
    * same lists. */
  private def assertAgree(rows: Seq[(Long, Long, Double)], k: Int)
      : Map[Long, Seq[(Double, Long)]] = {
    import spark.implicits._
    val df = rows.toDF("g", "id", "score")
    val w = Window.partitionBy("g").orderBy(desc("score"), asc("id"))
    val window = df.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k).collect().toSeq
      .groupBy(_.getLong(0)).view.mapValues(_.sortBy(_.getInt(3))
        .map(r => (r.getDouble(2), r.getLong(1)))).toMap
    val native = df.groupBy("g")
      .agg(TopKScoreId.graft_topk(col("score"), col("id"), k).as("top"))
      .collect().map(r => r.getLong(0) ->
        r.getSeq[Row](1).map(e => (e.getDouble(0), e.getLong(1)))).toMap
    val ranked = SimilarityOps.rankTopK(
      df.select(col("g").as("i"), col("id").as("j"), col("score").as("cos")), k)
      .collect().toSeq.groupBy(_.getLong(0)).view.mapValues(_.sortBy(_.getLong(2)))
      .toMap
    assert(ranked.values.forall(rs => rs.map(_.getLong(2)) == (1L to rs.length)),
      "rankTopK numbers each list 1..n")
    val want = window.view.mapValues(exact).toMap
    assert(native.view.mapValues(exact).toMap == want, "graft_topk vs row_number()")
    assert(ranked.view.mapValues(rs => exact(rs.map(r => (r.getDouble(3), r.getLong(1)))))
      .toMap == want, "rankTopK vs row_number()")
    window
  }

  test("graft_topk and rankTopK agree with row_number() on equal scores") {
    val rows = Seq((1L, 5L, 2.0), (1L, 3L, 2.0), (1L, 9L, 2.0),
      (1L, 1L, 1.0), (1L, 4L, 2.0), (2L, 8L, 0.5), (2L, 7L, 0.5),
      (2L, 6L, 0.5), (2L, 2L, 0.25))
    val top = assertAgree(rows, 3)
    assert(top(1L) == Seq((2.0, 3L), (2.0, 4L), (2.0, 5L)))
    assert(top(2L) == Seq((0.5, 6L), (0.5, 7L), (0.5, 8L)))
  }

  test("graft_topk and rankTopK agree with row_number() on groups smaller than k") {
    val rows = Seq((1L, 10L, 3.0), (1L, 11L, 4.0), (2L, 20L, 1.0),
      (3L, 30L, 2.0), (3L, 31L, 2.0), (3L, 32L, 5.0))
    val top = assertAgree(rows, 5)
    assert(top(1L) == Seq((4.0, 11L), (3.0, 10L)))
    assert(top(2L) == Seq((1.0, 20L)))
    assert(top(3L) == Seq((5.0, 32L), (2.0, 30L), (2.0, 31L)))
  }

  test("graft_topk and rankTopK agree with row_number() at k = 1") {
    val rows = Seq((1L, 4L, 9.0), (1L, 2L, 9.0), (1L, 1L, 8.0),
      (2L, 7L, -1.0), (2L, 6L, -2.0), (3L, 5L, 0.0))
    val top = assertAgree(rows, 1)
    assert(top == Map(1L -> Seq((9.0, 2L)), 2L -> Seq((-1.0, 7L)),
      3L -> Seq((0.0, 5L))))
  }

  test("graft_topk and rankTopK agree with row_number() on NaN and signed zeros") {
    // Spark sorts NaN above every number and equal to itself, and -0.0
    // equal to 0.0, so both tie on id; NaN arrives after the buffers fill
    val nan = Double.NaN
    val rows = Seq((1L, 1L, 1.0), (1L, 2L, 2.0), (1L, 3L, 3.0), (1L, 5L, nan),
      (1L, 4L, nan), (2L, 9L, 0.0), (2L, 8L, -0.0), (2L, 7L, -1.0),
      (2L, 6L, -0.0), (3L, 12L, 1.0), (3L, 11L, nan), (3L, 10L, Double.PositiveInfinity))
    val top = assertAgree(rows, 2)
    assert(exact(top(1L)) == exact(Seq((nan, 4L), (nan, 5L))))
    assert(exact(top(2L)) == exact(Seq((-0.0, 6L), (-0.0, 8L))))
    assert(exact(top(3L)) == exact(Seq((nan, 11L), (Double.PositiveInfinity, 10L))))
    val b = new TopKBuffer(3)
    Seq((0.0, 9L), (1.0, 3L), (-0.0, 2L), (nan, 7L), (nan, 5L))
      .foreach { case (s, i) => b.insert(s, i) }
    assert(exact(b.entries) == exact(Seq((nan, 5L), (nan, 7L), (1.0, 3L))))
  }

  test("buffer keeps k best with (score desc, id asc) ties") {
    val b = new TopKBuffer(3)
    Seq((1.0, 5L), (3.0, 2L), (3.0, 1L), (2.0, 9L), (0.5, 7L))
      .foreach { case (s, i) => b.insert(s, i) }
    assert(b.entries == Seq((3.0, 1L), (3.0, 2L), (2.0, 9L)))
  }

  test("rejects worse-than-last when full; accepts equal score smaller id") {
    val b = new TopKBuffer(2)
    b.insert(5.0, 10L); b.insert(4.0, 20L)
    b.insert(3.0, 1L) // worse, rejected
    assert(b.entries == Seq((5.0, 10L), (4.0, 20L)))
    b.insert(4.0, 5L) // tie with last, smaller id wins
    assert(b.entries == Seq((5.0, 10L), (4.0, 5L)))
  }

  test("merge equals bulk insert") {
    val a = new TopKBuffer(4); val b = new TopKBuffer(4); val ref = new TopKBuffer(4)
    val xs = Seq((1.0, 1L), (9.0, 2L), (3.0, 3L))
    val ys = Seq((8.0, 4L), (2.0, 5L), (9.0, 6L))
    xs.foreach { case (s, i) => a.insert(s, i); ref.insert(s, i) }
    ys.foreach { case (s, i) => b.insert(s, i); ref.insert(s, i) }
    var i = 0
    while (i < b.scores.length) { a.insert(b.scores(i), b.ids(i)); i += 1 }
    assert(a.entries == ref.entries)
  }

  test("aggregate ignores null scores/ids and handles k > group size") {
    import spark.implicits._
    val df = Seq(
      (1L, Some(5.0), Some(10L)), (1L, None, Some(11L)),
      (1L, Some(7.0), None), (2L, Some(1.0), Some(20L)))
      .toDF("g", "score", "id")
    val got = df.groupBy("g")
      .agg(TopKScoreId.graft_topk(col("score"), col("id"), 5).as("top"))
      .orderBy("g").collect()
    assert(got(0).getSeq[Any](1).length == 1) // only the fully-non-null row
    assert(got(1).getSeq[Any](1).length == 1)
    // rankTopK skips the null-score pair where row_number() would rank
    // it last (the deviation q11 declares) and the null-id pair, and
    // numbers what remains from 1
    val ranked = SimilarityOps.rankTopK(
      df.select(col("g").as("i"), col("id").as("j"), col("score").as("cos")), 5)
      .orderBy("i", "rn").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(ranked == Seq((1L, 10L, 1L, 5.0), (2L, 20L, 1L, 1.0)))
  }
}
