package perfbench

import scala.collection.mutable

import graft.engine.SimilarityOps
import graft.pipeline.{HtmlSink, ProductPipeline => P}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The reference program's index build and online path: set-up builds
  * the neighbour index of a generated catalogue (loadCsv -> clean ->
  * buildIndex's base -> termFreq -> cosinePairs -> rankTopK); the timed
  * window replays a seeded script of reads (`recommend` then
  * `HtmlSink.reportHtml`: exact-name hits, link-substring fallbacks and
  * misses) with a write after every few reads (a batch of new products
  * folded in with `mergeTopK` and materialised before the next read).
  * Reads check that hits return rows and misses none; after the window the
  * merged index must hold the index invariants and equal
  * [[ReferenceTopK]], a plain-Scala full rebuild over the same products
  * that does not use cosinePairs, rankTopK or mergeTopK. */
final class Serve(ctx: Ctx) extends Workload {
  import ctx.spark

  private sealed trait Op
  private final case class Read(kind: String, query: String) extends Op
  private final case class Write(csv: String) extends Op

  private val work = ctx.opts.work
  private val script: Vector[Op] = scala.io.Source.fromFile(s"$work/serve_script.tsv", "UTF-8")
    .getLines().map(_.split('\t') match {
      case Array("read", kind, q) => Read(kind, q)
      case Array("write", csv) => Write(s"$work/$csv")
      case bad => throw new IllegalArgumentException(s"bad script line ${bad.mkString("\t")}")
    }).toVector
  private val csv = s"$work/serve_products.csv"
  private val k = 10
  private val shown = 5
  private var base: DataFrame = _
  private var tf: DataFrame = _
  private var index: DataFrame = _
  private var cursor = 0
  private var batches = 0
  private val reads = mutable.ArrayBuffer.empty[(String, Double, Int)]
  private val writes = mutable.ArrayBuffer.empty[Double]
  private val pairRows = mutable.ArrayBuffer.empty[Double]
  private var indexRows = 0L
  private var indexBytes = 0L
  private var windowS = 0.0
  private val setupBuilds = mutable.ArrayBuffer.empty[Double]
  private var buildLayers = Map.empty[String, Double]

  private def docs(b: DataFrame) =
    b.select(col("row_id").as("doc_id"), P.searchTerms(col("name")).as("text"))

  private def termFreq(b: DataFrame) =
    SimilarityOps.termFreq(docs(b), dropStopwords = true)

  /** Computes `df` now and cuts its lineage, so the serving state stays a
    * flat relation: without the cut every write would add a union branch
    * to the plans of all later reads, and reads would slow down with each
    * write (0.4 s per read before the first write, 1.1 s after the second,
    * 1,248-row catalogue on 4 cores). */
  private def materialised(df: DataFrame): DataFrame = df.localCheckpoint(eager = true)

  private def read(kind: String, query: String): Option[Int] =
    ctx.attempt(s"read $kind '$query'") {
      val t = ctx.tracer
      val rec = t("serve.lookup")(P.recommend(base, index, query, shown))
      val html = t("serve.render")(HtmlSink.reportHtml(s"Similar to $query", rec, shown))
      "<tr><td>".r.findAllMatchIn(html).length
    }

  def prepare(): Unit = {
    spark.catalog.clearCache()
    setupBuilds += ctx.time {
      val (b, _) = P.buildIndex(P.clean(P.loadCsv(spark, csv)), k)
      base = materialised(b)
      tf = materialised(termFreq(b))
      index = materialised(SimilarityOps.rankTopK(SimilarityOps.cosinePairs(tf, tf), k))
    }
    // warm the read path once per request kind (untimed)
    script.collect { case r: Read => r }.groupBy(_.kind).values.map(_.head)
      .foreach(r => read(r.kind, r.query))
  }

  private def write(csv: String): Unit = {
    val t = ctx.tracer
    // new ids above any id of the initial catalogue or an earlier batch
    val offset = (1L << 40) + batches * (1L << 20)
    batches += 1
    val raw = P.loadCsv(spark, csv).withColumn("row_id", col("row_id") + offset)
    val cleaned = P.dedupKeepFirst(P.clean(raw)).na.drop(Seq("name"))
      .withColumn("image_id", P.shortenImageUrl(col("image")))
      .withColumn("link_id", P.shortenLink(col("link")))
    // CSV inference can type a small batch's columns differently
    val newBase = materialised(cleaned.select(
      base.schema.map(f => col(f.name).cast(f.dataType)): _*))
    val tfNew = t("serve.merge_tf")(materialised(termFreq(newBase)))
    val merged = t("serve.merge")(
      materialised(SimilarityOps.mergeTopK(index, tf, tfNew, k)))
    if (t.enabled) {
      // pair rows the merge streams: new x (old + new), and new x old
      val dfOf = (x: DataFrame, c: String) => x.groupBy("tok").agg(count(lit(1)).as(c))
      val dOld = dfOf(tf, "o")
      val dNew = dfOf(tfNew, "n")
      pairRows += dNew.join(dOld, Seq("tok"), "left").na.fill(0L)
        .agg(sum(col("n") * (col("n") + col("o") * 2))).head().getLong(0).toDouble
    }
    index = merged
    tf = materialised(tf.unionByName(tfNew))
    base = materialised(base.unionByName(newBase))
  }

  def measure(seconds: Double): Unit = {
    if (ctx.tracer.enabled) {
      ctx.tracer.request = -1
      buildLayers = new BuildStages(ctx, csv, k).measure(s"$work/index_traced")
    }
    val start = System.nanoTime()
    var done = false
    while (!done) {
      require(cursor < script.size, "serve script exhausted; generate a longer one")
      val op = script(cursor)
      cursor += 1
      ctx.tracer.request = cursor
      val t0 = System.nanoTime()
      op match {
        case Read(kind, q) =>
          val rows = read(kind, q)
          val dt = (System.nanoTime() - t0) / 1e9
          System.err.println(f"[perfbench] read $kind ${dt * 1000}%.1f ms ${rows.getOrElse(-1)} rows")
          rows.foreach { n =>
            reads += ((kind, dt, n))
            if (kind == "miss") ctx.check(s"miss '$q' returns nothing", n == 0, s"$n rows")
            else ctx.check(s"$kind '$q' returns rows", n > 0, "0 rows")
          }
        case Write(csv) =>
          ctx.attempt(s"write $csv")(write(csv))
            .foreach(_ => writes += (System.nanoTime() - t0) / 1e9)
          System.err.println(f"[perfbench] write ${(System.nanoTime() - t0) / 1e6}%.1f ms")
          done = (System.nanoTime() - start) / 1e9 >= seconds
      }
    }
    windowS = (System.nanoTime() - start) / 1e9
  }

  def check(): Unit = {
    val merged = ctx.attempt("collect the merged index") {
      index.select("i", "j", "rn", "cos").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    }.getOrElse(Set.empty)
    indexRows = merged.size
    ctx.check("index invariants", merged.nonEmpty &&
      merged.forall { case (i, j, rn, c) => i != j && rn >= 1 && rn <= k && c >= 0 && c <= 1 },
      s"${merged.size} rows; self pairs, ranks outside 1..$k or cos outside [0, 1]")
    var detail = ""
    ctx.check("merged index equals a plain-Scala full rebuild", {
      val rows = termFreq(base).select("doc_id", "tok", "tf").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      val want = ReferenceTopK(rows.toSeq, k)
      val (missing, extra) = (want -- merged, merged -- want)
      detail = s"${merged.size} rows, reference ${want.size}; missing ${missing.size} " +
        s"(e.g. ${missing.take(3).mkString(" ")}), extra ${extra.size} (e.g. ${extra.take(3).mkString(" ")})"
      missing.isEmpty && extra.isEmpty
    }, detail)
    ctx.report += s"reference check: $detail"
    ctx.report += s"index fingerprint: ${merged.size} rows, hash " +
      f"${merged.toSeq.map(_.hashCode.toLong & 0xffffffffL).sum}%x"
    ctx.attempt("save the merged index") {
      P.saveIndex(index, s"$work/index")
      indexBytes = dataBytes(s"$work/index")
    }
  }

  /** Total bytes of the data files (`part-*`) under `dir`. */
  private def dataBytes(dir: String): Long = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try s.filter(_.getFileName.toString.startsWith("part-"))
      .mapToLong(java.nio.file.Files.size(_)).sum()
    finally s.close()
  }

  private def readMs = reads.map(_._2 * 1000).toSeq

  def endToEnd: Map[String, Double] = {
    val (p, tail) = Stats.tail(readMs)
    val opsPerS = (reads.size + writes.size) / windowS
    ctx.line("recommend_p50_ms", Stats.median(readMs), "ms", reads.size)
    if (p > 50) ctx.line(s"recommend_p${p}_ms", tail, "ms", reads.size)
    if (writes.nonEmpty)
      ctx.line("ingest_p50_ms", Stats.median(writes.map(_ * 1000).toSeq), "ms", writes.size)
    ctx.line("serve_ops_per_s", opsPerS, "1/s", reads.size + writes.size)
    ctx.line("build_s (set-up)", Stats.median(setupBuilds.toSeq), "s", setupBuilds.size)
    ctx.line("index_mb", indexBytes / 1e6, "MB", 1)
    ctx.report += f"window $windowS%.3f s, ${reads.size} reads " +
      reads.groupBy(_._1).map { case (kd, v) => s"$kd=${v.size}" }.toSeq.sorted.mkString("(", " ", ")") +
      s", ${writes.size} writes, index rows $indexRows"
    val perKind = reads.groupBy(_._1).values.map(_.map(_._2 * 1000).toSeq)
    Map("latency_ms" -> Stats.kindLatency(perKind), "ops_per_s" -> opsPerS)
  }

  def perLayer: Map[String, Double] = {
    val spans = ctx.tracer.all.filter(_.request > 0) // timed window only
    def ms(name: String) = spans.filter(_.name == name).map(_.seconds * 1000)
    val readSpans = spans.filter(s => s.name == "serve.lookup" || s.name == "serve.render")
    val n = reads.size.toDouble
    Map(
      "serve.lookup_ms" -> Stats.median(ms("serve.lookup")),
      "serve.render_ms" -> Stats.median(ms("serve.render")),
      "serve.jobs_per_request" -> ctx.records(readSpans).map(_.jobs).sum / n,
      "serve.fallback_ratio" -> reads.count(r => r._1 == "link" && r._3 > 0) / n,
      "serve.hit_ratio" -> reads.count(_._3 > 0) / n,
      "serve.merge_tf_ms" -> Stats.median(ms("serve.merge_tf")),
      "serve.merge_ms" -> Stats.median(ms("serve.merge")),
      "serve.merge_pair_rows" -> Stats.median(pairRows.toSeq),
      "serve.index_rows" -> indexRows.toDouble) ++ buildLayers
  }
}
