package graft

import graft.engine.SimilarityOps
import graft.pipeline.{HtmlSink, ProductPipeline => P}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end reference replica (SURVEY.md §5.4): the dirty products
  * fixture through E1 clean → E2 index build → E3 recommend, with
  * golden assertions on the reference's dirty cases and the two
  * example-query shapes (`amazon1.py:205-210, 269-274`). */
class PipelineSpec extends AnyFunSuite {

  lazy val spark = TestSpark.session
  private lazy val fixture =
    getClass.getResource("/products_dirty.csv").getPath

  private lazy val raw = P.loadCsv(spark, fixture)
  private lazy val cleaned = P.clean(raw)
  private lazy val (base, neighbors) = P.buildIndex(cleaned)

  test("E1: cleaning handles the reference's dirty cases") {
    val byName = cleaned.filter(col("name").isNotNull)
      .select("name", "ratings_cleaned", "no_of_ratings_cleaned",
        "actual_price_cleaned", "discount_pct")
      .collect().map(r => r.getString(0) -> r).toMap
    val dell = byName("Dell Wireless Mouse WM126")
    assert(dell.getDouble(1) == 4.2)
    assert(dell.getDouble(2) == 1234.0)
    assert(dell.getDouble(3) == 1099.0)
    // "Get" -> null
    assert(byName("OnePlus Nord CE 2 Lite 5G (Blue Tide, 6GB RAM)").isNullAt(1))
    // "" -> null
    assert(byName("Samsung Galaxy M13").isNullAt(1))
    // "3..5" -> leading valid prefix 3.0 (documented deviation)
    assert(byName("Sony WH-1000XM4 Headphones").getDouble(1) == 3.0)
    // zero actual price: guarded division -> fillna(0)
    assert(byName("Zero Price Gadget").getDouble(4) == 0.0)
  }

  test("E1: price decimal flags match the reference (amazon1.py:50-58)") {
    // columns_to_clean passes allow_decimal=False for both prices:
    // the dot is stripped like any non-digit, so "₹1,099.50" -> 109950.0.
    // Only `ratings` keeps its decimal point.
    val probe = cleaned.filter(col("name") === "Decimal Price Probe Cable")
      .select("ratings_cleaned", "discount_price_cleaned",
        "actual_price_cleaned")
      .collect().head
    assert(probe.getDouble(0) == 4.0)
    assert(probe.getDouble(1) == 54975.0)
    assert(probe.getDouble(2) == 109950.0)
  }

  test("E2: dedup keeps the first duplicate row") {
    assert(raw.count() == 21)
    assert(base.filter(col("name") === "Dell Wireless Mouse WM126").count() == 1)
    val kept = base.filter(col("name") === "Dell Wireless Mouse WM126")
      .select("row_id").collect().head.getLong(0)
    assert(kept == 0L) // first occurrence
    // null-name row dropped (F1)
    assert(base.filter(col("name").isNull).count() == 0)
  }

  test("E2: URL shortening (P7/P8)") {
    val row = base.filter(col("name") === "Dell Wireless Mouse WM126")
      .select("image_id", "link_id").collect().head
    assert(row.getString(0) == "IMGDELL1")
    assert(row.getString(1) == "dell-wireless-mouse-wm126/dp/B01")
    // non-matching URLs pass through un-shortened
    val ext = base.filter(col("name") === "External Site Widget")
      .select("image_id", "link_id").collect().head
    assert(ext.getString(1) == "http://example.com/widget")
  }

  test("E2: identical search_terms rank each other at cos 1.0, no self") {
    // the three Acme rows normalize+stem to identical token multisets
    val acmeIds = base.filter(lower(col("name")).startsWith("acme"))
      .select("row_id").collect().map(_.getLong(0)).toSet
    assert(acmeIds.size == 3)
    // the index is unrounded, and an unrounded self-cosine can read
    // 0.9999999999999998 (n2 / (sqrt(n2) * sqrt(n2))), so the check
    // reads the 6-place view the query outputs show
    val among = neighbors
      .filter(col("i").isin(acmeIds.toSeq: _*) && col("rn") <= 2)
      .select(col("i"), col("j"), col("rn"), round(col("cos"), 6))
      .collect()
    assert(among.length == 6)
    for (r <- among) {
      assert(r.getLong(0) != r.getLong(1), "self excluded")
      assert(acmeIds.contains(r.getLong(1)))
      assert(r.getDouble(3) == 1.0)
    }
  }

  test("E2: a batch merged into buildIndex's index equals a rebuild") {
    // split by row_id: the two parts' ids are disjoint, and the cut
    // puts one Acme row in the first part and two in the second, so
    // the batch has old neighbours and neighbours of its own
    val (part0, part1) = (cleaned.filter(col("row_id") < 12),
      cleaned.filter(col("row_id") >= 12))
    val (_, index0) = P.buildIndex(part0)
    val tf0 = P.indexTf(P.indexBase(part0))
    val tf1 = P.indexTf(P.indexBase(part1))
    val bits = TestSpark.topKBits _
    val tfAll = tf0.unionByName(tf1)
    val rebuilt = bits(SimilarityOps.rankTopK(SimilarityOps.cosinePairs(tfAll, tfAll), 10))
    // the fixture's vocabulary is far below the cap, so it does not bind
    assert(tfAll.select("tok").distinct().count() < SimilarityOps.VocabSize)
    assert(bits(index0) == bits(SimilarityOps.rankTopK(SimilarityOps.cosinePairs(tf0, tf0), 10)))
    assert(rebuilt.exists(r => r._1 < 12 && r._2 >= 12), "old lists gain new neighbours")
    assert(bits(SimilarityOps.mergeTopK(index0, tf0, tf1, 10)) == rebuilt)
    // the duplicate rows both fall in the first part, so the two parts'
    // dedup is the whole fixture's and the rebuild is buildIndex's index
    assert(bits(neighbors) == rebuilt)
  }

  test("E3: exact-name query returns similar mice (reference example shape)") {
    val rec = P.recommend(base, neighbors, "Dell Wireless Mouse WM126", k = 5)
    val names = rec.select("name").collect().map(_.getString(0)).toSeq
    assert(names.nonEmpty && names.size <= 5)
    assert(!names.contains("Dell Wireless Mouse WM126"), "self not recommended")
    // mouse products should dominate the top results
    assert(names.count(_.toLowerCase.contains("mouse")) >= 2)
  }

  test("E3: substring-link fallback and no-match") {
    val byLink = P.recommend(base, neighbors, "oneplus-nord-ce-2-lite", k = 3)
    assert(byLink.count() > 0)
    val none = P.recommend(base, neighbors, "no-such-product-xyz", k = 3)
    assert(none.count() == 0)
  }

  private val e3Queries = Seq("Dell Wireless Mouse WM126",
    "oneplus-nord-ce-2-lite", "no-such-product-xyz", "")

  test("E3: recommend builds its plan without running a job, and pins the rows") {
    // the whole program, from a fresh load of the CSV to the recommend
    // plans, is built without reading any data
    val (recs, jobs) = TestSpark.withJobCount {
      val (b, n) = P.buildIndex(P.clean(P.loadCsv(spark, fixture)))
      e3Queries.map(q => q -> P.recommend(b, n, q))
    }
    assert(jobs == 0, "building the pipeline up to recommend started a job")
    val dell = Seq(
      Seq(1L, "Dell Wired Mouse MS116", 4.0, 2345.0, 399.0, 799.0,
        "IMGDELL2", "dell-wired-mouse-ms116/dp/B02"),
      Seq(2L, "HP Wireless Mouse Z3700", 4.3, 987.0, 1049.0, 1599.0,
        "IMGHP1", "hp-wireless-mouse-z3700/dp/B03"),
      Seq(3L, "Logitech M235 Wireless Mouse", 4.4, 5678.0, 795.0, 1295.0,
        "IMGLOGI1", "logitech-m235-wireless-mouse/dp/B04"))
    val expected = Map(
      // exact name, lowest row_id
      "Dell Wireless Mouse WM126" -> dell,
      // link substring
      "oneplus-nord-ce-2-lite" -> Seq(
        Seq(1L, "OnePlus Nord CE 2 5G", 4.1, 32100.0, 22999.0, 24999.0,
          "IMGOP2", "oneplus-nord-ce-2/dp/B06")),
      "no-such-product-xyz" -> Seq.empty,
      // documented deviation (2): '' is a substring of every link, so
      // the first row (the Dell mouse, row_id 0) is the query
      "" -> dell)
    for ((q, rec) <- recs) {
      assert(rec.columns.toSeq == Seq("rn", "name", "ratings_cleaned",
        "no_of_ratings_cleaned", "discount_price_cleaned",
        "actual_price_cleaned", "image_id", "link_id"), q)
      assert(rec.collect().map(_.toSeq).toSeq == expected(q), q)
    }
  }

  test("S3/S4: HTML sinks render bounded results") {
    val html = HtmlSink.tableHtml(P.top10(base), 10)
    assert(html.contains("<table>") && html.contains("no_of_ratings_cleaned"))
    assert(html.contains("boAt Airdopes 141™ Bluetooth TWS Earbuds!"))
    val report = HtmlSink.reportHtml("Similar to Dell Mouse",
      P.recommend(base, neighbors, "Dell Wireless Mouse WM126"))
    assert(report.startsWith("<!DOCTYPE html>") && report.contains("<h1>"))
  }

  test("E2: persisted index round-trips and serves recommendations") {
    val dir = java.nio.file.Files.createTempDirectory("graft_idx").toString
    P.saveIndex(neighbors, dir)
    val loaded = P.loadIndex(spark, dir)
    // the declared schema is the saved one (a parquet read makes every
    // column nullable), and the same rows come back
    assert(loaded.dtypes.toSeq == neighbors.dtypes.toSeq)
    assert(loaded.collect().toSet == neighbors.collect().toSet)
    val direct = P.recommend(base, neighbors, "Dell Wireless Mouse WM126")
      .collect().map(_.toSeq).toSeq
    val viaDisk = P.recommend(base, loaded, "Dell Wireless Mouse WM126")
      .collect().map(_.toSeq).toSeq
    assert(direct == viaDisk)
  }

  /** Writes the fixture's rows, in line order, into one CSV part per
    * entry of `sizes` (that many rows each, header on every part). */
  private def splitFixture(sizes: Seq[Int]): java.nio.file.Path = {
    val lines = scala.io.Source.fromFile(fixture, "UTF-8").getLines().toVector
    val (header, body) = (lines.head, lines.tail.filter(_.nonEmpty))
    assert(sizes.sum == body.size)
    val dir = java.nio.file.Files.createTempDirectory("graft_multicsv")
    sizes.scanLeft(0)(_ + _).zip(sizes).zipWithIndex.foreach {
      case ((from, n), i) => java.nio.file.Files.write(
        dir.resolve(f"part-$i%03d.csv"),
        (header +: body.slice(from, from + n)).mkString("\n").getBytes("UTF-8"))
    }
    dir
  }

  private def partSizes(dir: java.nio.file.Path): Seq[(String, Long)] =
    dir.toFile.listFiles().toSeq.sortBy(_.getName)
      .map(f => f.toString -> f.length())

  test("S2: multi-file load assigns deterministic dense row_ids, no global window") {
    // with `minPartitionNum` 1 Spark packs the 3 small parts into one
    // split, so the ids the scan assigns are a dense 0..n-1 on both
    // loads, and the plan holds no single-task no-partition window
    val dir = splitFixture(Seq(7, 7, 7))
    TestSpark.withConf("spark.sql.files.minPartitionNum", "1") {
      val a = P.loadCsv(spark, dir.toString)
      val b = P.loadCsv(spark, dir.toString)
      val idsA = a.select("row_id").collect().map(_.getLong(0)).sorted.toSeq
      assert(idsA == (0L until 21).toSeq, "dense 0..n-1 ids")
      val key = (df: DataFrame) => df.select("name", "row_id").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(key(a) == key(b), "row_id assignment deterministic across loads")
      val plan = a.queryExecution.executedPlan.toString
      assert(!plan.contains("Window"), "no global window at ingest")
      assert(!plan.contains("ExistingRDD") && !plan.contains("Scan rdd"),
        "no RDD scan at ingest")
      assert(plan.contains("Scan csv"), "CSV file-source scan survives")
    }
  }

  test("S2: multi-file load assigns unique scan-order row_ids, deterministic, no global window") {
    // parts grow in file order, so the scan's largest-first order is
    // not the file-name order
    val dir = splitFixture(Seq(4, 7, 10))
    val parts = partSizes(dir)
    assert(parts.map(_._2) == parts.map(_._2).sorted.distinct)
    val a = P.loadCsv(spark, dir.toString)
    val b = P.loadCsv(spark, dir.toString)
    val ids = a.select("row_id").collect().map(_.getLong(0)).toSeq
    assert(ids.size == 21 && ids.distinct.size == ids.size, "unique ids")
    // by row_id: each file's rows in line order, files in decreasing size
    val expected = parts.sortBy(-_._2).flatMap { case (part, _) =>
      spark.read.schema(P.ProductSchema).option("header", "true")
        .csv(part).collect().toSeq
    }
    val byId = a.orderBy("row_id").collect().toSeq
    assert(byId.map(r => Row.fromSeq(r.toSeq.init)) == expected)
    assert(b.orderBy("row_id").collect().toSeq == byId,
      "row_id assignment deterministic across loads")
    val plan = a.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), "no global window at ingest")
    // the CSV file-source relation survives (column pruning reaches the
    // scan) instead of being swallowed by an RDD round-trip
    assert(!plan.contains("ExistingRDD") && !plan.contains("Scan rdd"),
      "no RDD scan at ingest")
    assert(plan.contains("Scan csv"), "CSV file-source scan survives")

    // parts that shrink in file order are scanned in line order, so the
    // ids are an order-preserving relabel of the single file's 0..20 and
    // the program serves the single file's results
    val shrinking = splitFixture(Seq(10, 7, 4))
    val sizes = partSizes(shrinking).map(_._2)
    assert(sizes == sizes.sorted.reverse.distinct)
    val split = P.loadCsv(spark, shrinking.toString)
    val splitIds = split.select("row_id").collect().map(_.getLong(0)).sorted
    assert(splitIds.last >= (1L << 34), "one partition per part")
    val relabel = splitIds.zip(raw.select("row_id").collect()
      .map(_.getLong(0)).sorted).toMap
    assert(split.orderBy("row_id").collect().toSeq
      .map(r => r.toSeq.init :+ relabel(r.getLong(9))) ==
      raw.orderBy("row_id").collect().toSeq.map(_.toSeq),
      "the relabel maps each row to itself")
    val (sBase, sNeighbors) = P.buildIndex(P.clean(split))
    assert(sNeighbors.collect().map(r => (relabel(r.getLong(0)),
      relabel(r.getLong(1)), r.getLong(2), r.getDouble(3))).toSet ==
      neighbors.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet, "same index under the relabel")
    assert(P.top10(sBase).collect().toSeq == P.top10(base).collect().toSeq)
    for (q <- e3Queries)
      assert(P.recommend(sBase, sNeighbors, q).collect().toSeq ==
        P.recommend(base, neighbors, q).collect().toSeq, q)
  }

  test("S2: row_ids come from the scan that reads the rows") {
    // same byte length, so the read plans the same single split, but 6
    // rows where construction saw 3: the ids number the rows the scan
    // reads, since nothing is counted before it
    val file = java.nio.file.Files.createTempFile("graft_diverge", ".csv")
    val csv = (names: Seq[String]) =>
      (P.ProductSchema.fieldNames.toSeq +: names.map(_ +: Seq.fill(8)("")))
        .map(_.mkString(",") + "\n").mkString
    val before = csv(Seq("alpha-one-xyz", "bravo-two-xyz", "charl-thr-xyz"))
    val after = csv(Seq("aa", "bb", "cc", "dd", "ee", "ff"))
    assert(before.length == after.length)
    java.nio.file.Files.write(file, before.getBytes("UTF-8"))
    val df = P.loadCsv(spark, file.toString)
    java.nio.file.Files.write(file, after.getBytes("UTF-8"))
    val rows = df.select("name", "row_id").orderBy("row_id").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(rows == Seq("aa", "bb", "cc", "dd", "ee", "ff").zip(0L until 6))
  }

  private def tempCsv(lines: Seq[String]): String = {
    val file = java.nio.file.Files.createTempFile("graft_products", ".csv")
    java.nio.file.Files.write(file, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    file.toString
  }

  test("S2: a batch of clean numbers loads with the fixture's column types") {
    // inference typed such a batch's ratings DOUBLE and its counts and
    // prices INT; the declared schema keeps the fixture's strings
    val batch = tempCsv(Seq(P.ProductSchema.fieldNames.mkString(","),
      "Mouse A,electronics,accessories,a.jpg,a-link,4.5,120,599,1099",
      "Mouse B,electronics,accessories,b.jpg,b-link,3.9,75,349,799"))
    assert(P.loadCsv(spark, batch).schema == raw.schema)
  }

  test("S2: loadCsv fails on a header with two columns swapped") {
    val cols = P.ProductSchema.fieldNames.toSeq
    val swapped = cols.updated(5, cols(6)).updated(6, cols(5))
    val csv = tempCsv(Seq(swapped.mkString(","),
      "Mouse A,electronics,accessories,a.jpg,a-link,120,4.5,599,1099"))
    val e = intercept[Exception](P.loadCsv(spark, csv).collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage)
        .contains("CSV header does not conform to the schema")), e)
  }

  test("E1: top-10 sorts by count desc with nulls last") {
    val counts = P.top10(base).select("no_of_ratings_cleaned")
      .collect().map(r => if (r.isNullAt(0)) -1.0 else r.getDouble(0))
    val nonNull = counts.filter(_ >= 0)
    assert(nonNull.toSeq == nonNull.sortBy(-(_: Double)).toSeq)
  }
}
