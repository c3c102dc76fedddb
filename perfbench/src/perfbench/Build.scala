package perfbench

import scala.collection.mutable

import graft.engine.SimilarityOps
import graft.pipeline.{ProductPipeline => P}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The layers of the offline neighbour-index build (CSV path -> loadCsv ->
  * clean -> buildIndex -> index persisted as parquet), measured in the
  * traced run of catalog_serve over its catalogue: the `build.*` metrics. */
final class BuildStages(ctx: Ctx, csv: String, k: Int) {
  import ctx.spark

  private def base(df: DataFrame) = P.dedupKeepFirst(P.clean(df)).na.drop(Seq("name"))
    .withColumn("image_id", P.shortenImageUrl(col("image")))
    .withColumn("link_id", P.shortenLink(col("link")))
  private def docs(df: DataFrame) = base(df).select(col("row_id").as("doc_id"),
    P.searchTerms(col("name")).as("text"))
  /** The term frequencies buildIndex ranks: termFreq capped to the top
    * 5000 terms by count. */
  private def tf(df: DataFrame) = {
    val all = SimilarityOps.termFreq(docs(df), dropStopwords = true)
    val vocab = all.groupBy("tok").agg(sum(col("tf")).as("ctf"))
      .orderBy(desc("ctf"), asc("tok")).limit(5000).select("tok")
    all.join(broadcast(vocab), Seq("tok"), "left_semi")
  }

  /** Self time of each stage, from materialising each stage prefix in turn
    * (noop sink, nothing cached; median of 3) and subtracting the previous
    * prefix; then one full build, whose span gives the task records. */
  def measure(out: String): Map[String, Double] = {
    val t = ctx.tracer
    val layer = mutable.Map.empty[String, Double]
    val ingestLoad = mutable.ArrayBuffer.empty[Span]
    def load(): DataFrame = {
      val before = t.all.size
      val df = t("build.ingest.load")(P.loadCsv(spark, csv))
      ingestLoad ++= t.all.drop(before)
      df
    }
    def pairs(df: DataFrame) = { val x = tf(df); SimilarityOps.cosinePairs(x, x) }
    val stages = Seq[(String, DataFrame => DataFrame)](
      "ingest" -> identity, "clean" -> P.clean, "dedup" -> base,
      "stem" -> docs, "tf" -> tf, "pairs" -> pairs,
      "topk" -> (df => SimilarityOps.rankTopK(pairs(df), k)))
    val prefix = stages.map { case (name, f) =>
      name -> Stats.median((1 to 3).map(_ =>
        ctx.time(t(s"build.prefix.$name")(Main.noop(f(load()))))))
    }
    prefix.zip(("", 0.0) +: prefix).foreach { case ((name, s), (_, prev)) =>
      layer(s"build.${name}_s") = s - prev
    }
    layer("build.ingest_jobs") = ctx.records(ingestLoad).map(_.jobs).sum.toDouble / ingestLoad.size
    val tfDf = tf(P.loadCsv(spark, csv)).cache()
    layer("build.pair_rows") = tfDf.groupBy("tok").count()
      .agg(sum(col("count") * col("count"))).head().getLong(0).toDouble
    val candidates = SimilarityOps.cosinePairs(tfDf, tfDf).count().toDouble
    layer("build.candidate_pairs") = candidates
    spark.catalog.clearCache()

    t("build.full") {
      val (_, neighbors) = P.buildIndex(P.clean(P.loadCsv(spark, csv)), k)
      P.saveIndex(neighbors, out)
    }
    spark.catalog.clearCache()
    val span = t.all.filter(_.name == "build.full")
    val recs = ctx.records(span)
    layer("build.topk_yield") = P.loadIndex(spark, out).count() / math.max(candidates, 1.0)
    layer("build.shuffle_bytes") = recs.map(_.shuffleBytes).sum.toDouble
    layer("build.spill_bytes") = recs.map(_.spillBytes).sum.toDouble
    layer("build.task_skew") = Stats.taskSkew(recs)
    layer("build.gc_s") = span.map(_.gcMs).sum / 1000.0
    val buildS = span.map(_.seconds).sum
    val names = stages.map(_._1)
    val selfSum = names.map(s => layer(s"build.${s}_s")).sum
    ctx.report += "traced build: " + names.map(s => f"$s ${layer(s"build.${s}_s")}%.3f").mkString(", ") +
      f" s; stages sum $selfSum%.3f s, remainder ${buildS - selfSum}%.3f s of one full build, $buildS%.3f s"
    layer.toMap
  }
}

/** Exact top-k cosine neighbours from `(doc, term, tf)` rows, in plain
  * Scala: integer dot products over term postings, cos = dot /
  * (sqrt(n2 i) * sqrt(n2 j)), self pairs excluded, ranked by (cos desc,
  * j asc). Returns `(i, j, rn, cos)`, with cos unrounded. */
object ReferenceTopK {
  def apply(tf: Seq[(Long, String, Long)], k: Int): Set[(Long, Long, Long, Double)] = {
    val byDoc = tf.groupBy(_._1).map { case (d, xs) => d -> xs.map(x => (x._2, x._3)) }
    val postings = tf.groupBy(_._2).map { case (t, xs) => t -> xs.map(x => (x._1, x._3)) }
    val n2 = byDoc.map { case (d, xs) => d -> xs.map(x => x._2 * x._2).sum.toDouble }
    byDoc.iterator.flatMap { case (i, terms) =>
      val dot = mutable.LongMap.empty[Long]
      for ((t, a) <- terms; (j, b) <- postings(t) if j != i)
        dot(j) = dot.getOrElse(j, 0L) + a * b
      dot.toSeq
        .map { case (j, d) => (j, d.toDouble / (math.sqrt(n2(i)) * math.sqrt(n2(j)))) }
        .sortBy { case (j, c) => (-c, j) }.take(k).zipWithIndex
        .map { case ((j, c), r) => (i, j, r + 1L, c) }
    }.toSet
  }
}
