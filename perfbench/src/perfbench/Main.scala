package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Command line of the benchmark JVM (run.py builds it). */
final case class Opts(workload: String, seed: Long, seconds: Double,
    trace: Boolean, work: String, t0Ms: Long, result: String,
    traceOut: String)

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(
        s"bad argument ${other.mkString(" ")}")
    }.toMap
    def get(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    Opts(get("workload"), get("seed").toLong, get("seconds").toDouble,
      get("trace") == "1", get("work"), get("t0-ms").toLong, get("result"),
      get("trace-out"))
  }
}

/** State shared by a run: the session, the tracer, and the operation and
  * failure counts. Every operation goes through [[attempt]] or [[check]],
  * so a failure is counted and keeps its exception class and message. */
final class Ctx(val spark: SparkSession, val opts: Opts) {
  val listener: Option[StageListener] =
    if (opts.trace) Some(new StageListener) else None
  listener.foreach(spark.sparkContext.addSparkListener)
  val tracer = new Tracer(opts.trace, spark.sparkContext)
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer.empty[String]
  /** Human-readable report lines: name, value, unit, sample count. */
  val report = mutable.ArrayBuffer.empty[String]

  private def fail(op: String, why: String): Unit = {
    failed += 1
    if (errors.size < 50) errors += s"$op: $why"
    System.err.println(s"[perfbench] FAILED $op: $why")
  }

  def attempt[T](op: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch { case NonFatal(e) =>
      fail(op, s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(500)}")
      None
    }
  }

  /** A correctness check: one attempted operation, failed unless `ok`. */
  def check(op: String, ok: => Boolean, detail: => String): Unit =
    attempt(op)(ok).foreach(passed => if (!passed) fail(op, detail))

  def line(name: String, value: Double, unit: String, n: Any): Unit =
    report += f"$name%-28s $value%14.4f $unit%-6s n=$n"

  def records(spans: Iterable[Span]): Seq[TaskRecords] =
    listener.map(_.of(spark.sparkContext, spans)).getOrElse(Nil)

  /** Runs `body` and returns its wall seconds. */
  def time(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }
}

/** One workload: set-up that can be repeated, a timed closed loop with one
  * client, and output checks outside the timed window. */
trait Workload {
  def prepare(): Unit
  def measure(seconds: Double): Unit
  def check(): Unit
  /** `latency_ms` and `ops_per_s` of the timed window. */
  def endToEnd: Map[String, Double]
  /** This workload's per-layer metrics (traced runs only). */
  def perLayer: Map[String, Double]
}

object Main {
  val SetupReps = 3

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Task slots: 3, or one fewer than the cores on a smaller host. The core
    * left over runs the driver thread, the JIT and the GC, which otherwise
    * compete with the tasks and make runs unsteady (measured on 4 cores). */
  def slots: Int = math.max(1, math.min(3, Runtime.getRuntime.availableProcessors - 1))

  def session(work: String): SparkSession = {
    val n = slots
    SparkSession.builder().master(s"local[$n]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
  }

  def main(args: Array[String]): Unit = {
    val opts = Opts.parse(args)
    val spark = session(opts.work)
    spark.sparkContext.setLogLevel("WARN")
    val code = try run(spark, opts) finally spark.stop()
    sys.exit(code)
  }

  private def run(spark: SparkSession, opts: Opts): Int = {
    val fixedS = (System.currentTimeMillis() - opts.t0Ms) / 1000.0
    val ctx = new Ctx(spark, opts)
    val w: Workload = opts.workload match {
      case "suite" => new Suite(ctx)
      case "catalog_serve" => new Serve(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    // set-up runs SetupReps times; the first repetition is the cold one, so
    // the median is a warm one
    val prep = (1 to SetupReps).map { i =>
      val s = ctx.time(w.prepare())
      System.err.println(f"[perfbench] set-up $i: $s%.3f s")
      s
    }
    val setupS = fixedS + Stats.median(prep)
    ctx.line("setup_s", setupS, "s", s"$SetupReps (fixed ${"%.3f".format(fixedS)} s + " +
      s"median of ${prep.map("%.3f".format(_)).mkString("/")} s)")
    System.err.println(f"[perfbench] measured window: ${ctx.time(w.measure(opts.seconds))}%.3f s")
    System.err.println(f"[perfbench] checks: ${ctx.time(w.check())}%.3f s")
    if (opts.trace) Files.writeString(Paths.get(opts.traceOut), ctx.tracer.json)
    val sc = spark.sparkContext
    val env = Map(
      "cores" -> Runtime.getRuntime.availableProcessors,
      "master" -> sc.master,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "spark" -> org.apache.spark.SPARK_VERSION,
      "scala" -> scala.util.Properties.versionNumberString,
      "java" -> System.getProperty("java.version"))
    val e2e = Map("setup_s" -> setupS) ++ w.endToEnd
    val layers = if (opts.trace) PerLayer.names.map(n => n -> 0.0).toMap ++ w.perLayer
      else Map.empty[String, Double]
    Files.writeString(Paths.get(opts.result), Json.obj(
      "attempted" -> ctx.attempted, "failed" -> ctx.failed,
      "end_to_end" -> e2e, "per_layer" -> layers, "env" -> env,
      "errors" -> ctx.errors, "report" -> ctx.report))
    0
  }
}

/** Names of every per-layer metric, in report order. A traced run reports
  * all of them; layers the workload does not enter read 0. */
object PerLayer {
  val modules = Seq("relational", "text", "dedup", "ann", "analysis",
    "events", "multimodal", "coverage")
  val suiteFields = Seq("construct_s", "construct_jobs", "plan_s", "execute_s",
    "tasks", "task_skew", "exchanges", "shuffle_bytes", "spill_bytes", "gc_s")
  val buildFields = Seq("ingest_s", "ingest_jobs", "clean_s", "dedup_s",
    "stem_s", "tf_s", "pairs_s", "pair_rows", "candidate_pairs", "topk_s",
    "topk_yield", "shuffle_bytes", "spill_bytes", "task_skew", "gc_s")
  val serveFields = Seq("lookup_ms", "jobs_per_request", "fallback_ratio",
    "hit_ratio", "render_ms", "merge_tf_ms", "merge_ms", "merge_pair_rows",
    "index_rows")
  val names: Seq[String] =
    modules.flatMap(m => suiteFields.map(f => s"suite.$m.$f")) ++
      buildFields.map("build." + _) ++ serveFields.map("serve." + _)
}
