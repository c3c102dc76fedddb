package perfbench

import scala.collection.mutable

import graft.SparkEntry
import graft.queries._
import org.apache.spark.sql.DataFrame

/** A fixed subset of the registered queries, run in name order: one per
  * query module, including the skew-prone q03 (single-task percentile
  * merge) and q24 (shingle-pair stream), and otherwise the module's cheaper
  * queries. A pass over all 46 takes about 26 s at 4 cores even at sf0.01,
  * more than a run of the benchmark can spend.
  *
  * The timed window runs whole passes, each result consumed by the noop
  * sink, with the cache cleared and a GC between queries outside the
  * timed window (as graft.Bench does). Set-up is a pass over the same
  * tables that dumps each result as parquet for the oracle comparison
  * run.py makes. So the plans that are checked are the plans that are
  * timed (AQE picks other joins at other scales), and the window's first
  * pass runs code the JIT has seen on the same data; after graft.Bench's
  * sf0.001 warm-up it was markedly slower than the later passes. */
final class Suite(ctx: Ctx) extends Workload {
  import ctx.spark

  private val main = s"${ctx.opts.work}/tables"
  private val checkDir = s"${ctx.opts.work}/check"

  private val moduleOf: Map[String, String] = Seq(
    "relational" -> RelationalQueries.all, "text" -> TextQueries.all,
    "dedup" -> DedupQueries.all, "ann" -> AnnQueries.all,
    "analysis" -> AnalysisQueries.all, "events" -> EventQueries.all,
    "multimodal" -> MultimodalQueries.all, "coverage" -> CoverageQueries.all)
    .flatMap { case (m, qs) => qs.map(_.name -> m) }.toMap

  private val subset = Seq("q03", "q17", "q24", "q25", "q29", "q31", "q34", "q36")
  private val queries = SparkEntry.queries.toSeq.sortBy(_._1)
    .filter { case (n, _) => subset.contains(n.takeWhile(_ != '_')) }
  require(queries.size == subset.size, s"queries missing from the registry: " +
    subset.filterNot(q => queries.exists(_._1.startsWith(q + "_"))).mkString(", "))

  /** per pass: (query, seconds) of each query that succeeded */
  private val passes = mutable.ArrayBuffer.empty[Seq[(String, Double)]]
  /** exchanges per module, summed over traced passes */
  private val exchanges = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private var windowS = 0.0

  private def housekeeping(): Unit = {
    spark.catalog.clearCache()
    System.gc()
  }

  def prepare(): Unit =
    queries.foreach { case (name, fn) =>
      ctx.attempt(s"warmup $name") {
        fn(spark, main).coalesce(1).write.mode("overwrite").parquet(s"$checkDir/$name")
      }
      housekeeping()
    }

  private def traced(name: String, fn: (org.apache.spark.sql.SparkSession, String) => DataFrame)
      : Unit = {
    val t = ctx.tracer
    t(s"suite.${moduleOf(name)}.$name") {
      val df = t("construct")(fn(spark, main))
      val plan = t("plan")(df.queryExecution.executedPlan)
      exchanges(moduleOf(name)) += "\\bExchange\\b".r.findAllMatchIn(plan.toString).length
      t("execute")(Main.noop(df))
    }
  }

  def measure(seconds: Double): Unit = {
    val start = System.nanoTime()
    while (passes.isEmpty || (System.nanoTime() - start) / 1e9 < seconds) {
      val times = queries.zipWithIndex.flatMap { case ((name, fn), i) =>
        ctx.tracer.request = passes.size * 1000L + i
        val t0 = System.nanoTime()
        val ok = ctx.attempt(s"query $name") {
          if (ctx.tracer.enabled) traced(name, fn) else Main.noop(fn(spark, main))
        }
        val dt = (System.nanoTime() - t0) / 1e9
        housekeeping()
        ok.map(_ => name -> dt)
      }
      System.err.println(f"[perfbench] pass ${passes.size}: ${times.map(_._2).sum}%.3f s " +
        times.map { case (q, t) => f"${q.takeWhile(_ != '_')}=$t%.2f" }.mkString(" "))
      passes += times
    }
    windowS = (System.nanoTime() - start) / 1e9
  }

  def check(): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$checkDir/oracle_sql.json"),
      Json.value(SparkEntry.oracleSql))

  private def samples = passes.flatten.map(_._2).toSeq

  def endToEnd: Map[String, Double] = {
    val xs = samples
    val full = passes.filter(_.size == queries.size).map(_.map(_._2).sum).toSeq
    val (p, tail) = Stats.tail(xs)
    if (full.nonEmpty) ctx.line("suite_total_s", Stats.median(full), "s",
      s"${full.size} passes")
    ctx.line("suite_query_p50_s", Stats.median(xs), "s", xs.size)
    if (p > 50) ctx.line(s"suite_query_p${p}_s", tail, "s", xs.size)
    ctx.line("ops_per_s (queries/s)", xs.size / xs.sum, "1/s", xs.size)
    ctx.report += f"window ${windowS}%.3f s, ${passes.size} passes of ${queries.size} queries"
    val perQuery = passes.flatten.groupBy(_._1).values.map(_.map(_._2 * 1000).toSeq)
    Map("latency_ms" -> Stats.kindLatency(perQuery), "ops_per_s" -> xs.size / xs.sum)
  }

  def perLayer: Map[String, Double] = {
    val t = ctx.tracer
    val spans = t.all
    val byId = spans.map(s => s.id -> s).toMap
    val n = passes.size.toDouble
    // phase spans grouped by (module, phase)
    val phases = spans.filter(s => s.parent >= 0 && byId(s.parent).name.startsWith("suite."))
      .groupBy(s => (byId(s.parent).name.split('.')(1), s.name))
    val out = mutable.Map.empty[String, Double]
    for (m <- PerLayer.modules) {
      def ph(p: String) = phases.getOrElse((m, p), Nil)
      val all = ph("construct") ++ ph("plan") ++ ph("execute")
      val recs = ctx.records(all)
      val prefix = s"suite.$m."
      out(prefix + "construct_s") = ph("construct").map(_.seconds).sum / n
      out(prefix + "construct_jobs") = ctx.records(ph("construct")).map(_.jobs).sum / n
      out(prefix + "plan_s") = ph("plan").map(_.seconds).sum / n
      out(prefix + "execute_s") = ph("execute").map(_.seconds).sum / n
      out(prefix + "tasks") = recs.map(_.tasks).sum / n
      // per query: median over passes of its slowest stage's skew; the
      // module reports its most skewed query
      out(prefix + "task_skew") = all.groupBy(_.parent).toSeq
        .map { case (q, ss) => byId(q).name -> Stats.taskSkew(ctx.records(ss)) }
        .groupBy(_._1).values.map(v => Stats.median(v.map(_._2))).maxOption.getOrElse(1.0)
      out(prefix + "exchanges") = exchanges(m) / n
      out(prefix + "shuffle_bytes") = recs.map(_.shuffleBytes).sum / n
      out(prefix + "spill_bytes") = recs.map(_.spillBytes).sum / n
      out(prefix + "gc_s") = all.map(_.gcMs).sum / 1000.0 / n
    }
    val sum = (f: String) => PerLayer.modules.map(m => out(s"suite.$m.$f")).sum
    val traced = passes.map(_.map(_._2).sum).sum / n
    ctx.report += f"traced pass: construct ${sum("construct_s")}%.3f s, plan ${sum("plan_s")}%.3f s, " +
      f"execute ${sum("execute_s")}%.3f s, not covered by a span " +
      f"${traced - sum("construct_s") - sum("plan_s") - sum("execute_s")}%.3f s " +
      f"of $traced%.3f s (ROADMAP, 4 cores at sf0.1: 6.70 / 0.65 / 31.26 s)"
    out.toMap
  }
}
