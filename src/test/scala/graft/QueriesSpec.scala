package graft

import graft.TestSpark.withConf
import org.scalatest.funsuite.AnyFunSuite

/** Integration: every registered query runs at sf0.001 and holds its
  * structural invariants. Exact-value correctness is the DuckDB oracle
  * gate (tools/check.py); these are the cheap always-on checks. */
class QueriesSpec extends AnyFunSuite {

  lazy val spark = TestSpark.session
  private val sf = "/root/testdata/sf0.001"

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key has a query") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
    test(s"$name runs at sf0.001") {
      val df = fn(spark, sf)
      assert(df.columns.nonEmpty)
      assert(df.count() >= 0)
    }
  }

  test("q18 cosine invariants: rn<=10, i!=j, cos in (0,1]") {
    val rows = SparkEntry.queries("q18_cosine_topk")(spark, sf).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val (i, j, rn, cos) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(i != j)
      assert(rn >= 1 && rn <= 10)
      assert(cos > 0.0 && cos <= 1.0 + 1e-9)
    }
  }

  test("every q22 LSH row is an exact q24 inverted-index row") {
    // q22 verifies its candidates row by row over the shingle-key arrays,
    // q24 counts the same keys through the inverted-index self-join; a
    // q22 row (jaccard >= 0.5) passes q24's 0.2 threshold, with the same
    // inter, na, nb and jaccard
    def rows(q: String) = SparkEntry.queries(q)(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))).toMap
    val lsh = rows("q22_lsh_neardup")
    val exact = rows("q24_ngram_jaccard")
    assert(lsh.nonEmpty)
    for ((pair, v) <- lsh) assert(exact.get(pair).contains(v), s"pair $pair")
  }

  test("q11 and q46 rows do not depend on shuffle partitions or AQE") {
    // both rank through graft_topk, whose buffers merge in whatever order
    // the partitions arrive; doubles compare by their bits
    def rows(q: String) = {
      spark.catalog.clearCache() // q46's persisted ranking is rebuilt each run
      SparkEntry.queries(q)(spark, sf).collect().toSeq.map(_.toSeq.map {
        case d: Double => java.lang.Double.doubleToLongBits(d)
        case v => v
      })
    }
    for (q <- Seq("q11_top_orders_per_cust", "q46_ann_ivf")) {
      val runs = for (parts <- Seq("1", "7"); aqe <- Seq("true", "false"))
        yield s"partitions=$parts aqe=$aqe" ->
          withConf("spark.sql.shuffle.partitions", parts) {
            withConf("spark.sql.adaptive.enabled", aqe)(rows(q))
          }
      val want = runs.head._2
      assert(want.nonEmpty, q)
      for ((conf, got) <- runs.tail) {
        val firstDiff = got.zipAll(want, null, null).find { case (a, b) => a != b }
        assert(firstDiff.isEmpty, s"$q under $conf vs ${runs.head._1}")
      }
    }
  }

  test("plan_hash_v2 normalization scrubs identity hashes, not literals") {
    val plan = "Filter (text#12 = '@beef') TopKBuffer@713d2fe8 " +
      "Topk$@1a2b Scan parquet /data/sf/documents.parquet"
    assert(Bench.normalizeV2(plan, "/data/sf") ==
      "Filter (text#x = '@beef') TopKBuffer@x " +
        "Topk$@x Scan parquet <SF_DIR>/documents.parquet")
  }

  test("Bench.planText does not depend on what the session built before") {
    val qs = Seq("q22_lsh_neardup", "q46_ann_ivf")
    def texts() = {
      spark.catalog.clearCache() // q46 persists its ranking
      qs.map(q => Bench.planText(SparkEntry.queries(q)(spark, sf), sf))
    }
    val first = texts()
    // building other queries moves the session's expression ids on
    for (q <- Seq("q01_top_parts", "q18_cosine_topk", "q27_lang_id", "q41_embed_neardup"))
      SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan
    val again = texts()
    for ((q, a, b) <- qs.lazyZip(first).lazyZip(again)) {
      assert(a == b, q)
      assert("#\\d".r.findFirstIn(a).isEmpty, q)
      assert(a.contains("<SF_DIR>"), q)
    }
  }

  test("q01 top-parts is sorted desc with deterministic ties") {
    val rows = SparkEntry.queries("q01_top_parts")(spark, sf).collect()
    val prices = rows.map(_.getDouble(3)).toSeq
    assert(prices == prices.sortBy(-(_: Double)))
    assert(rows.length == 10)
  }
}
