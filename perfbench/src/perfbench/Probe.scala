package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced call into a layer. `parent` is the enclosing span's id (-1 at
  * the top); spans of one request or one build share `request`. */
final case class Span(id: Int, parent: Int, name: String, request: Long,
    startNs: Long, endNs: Long, gcMs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Task and stage records of the jobs one span launched. */
final class TaskRecords {
  var jobs = 0L
  var tasks = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  /** stage id -> executor run time (ms) of each of its tasks */
  val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  /** stage id -> stage wall time (ms) */
  val stageWall = mutable.Map.empty[Int, Long]
}

/** The benchmark's single SparkListener. Jobs are attributed to the span
  * active on the submitting thread through the `perfbench.span` local
  * property, which Spark copies into every job (and AQE stage job) the
  * thread launches. Registered only in traced runs. */
final class StageListener extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, Integer]()
  private val records = new ConcurrentHashMap[Integer, TaskRecords]()

  private def rec(span: Integer): TaskRecords =
    records.computeIfAbsent(span, _ => new TaskRecords)

  override def onJobStart(js: SparkListenerJobStart): Unit =
    Option(js.properties).flatMap(p => Option(p.getProperty(Tracer.Key)))
      .foreach { s =>
        val span = Integer.valueOf(s.toInt)
        val r = rec(span)
        r.synchronized(r.jobs += 1)
        js.stageIds.foreach(stageSpan.put(_, span))
      }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    val span = stageSpan.get(te.stageId)
    if (span != null && te.taskMetrics != null) {
      val r = rec(span)
      val m = te.taskMetrics
      r.synchronized {
        r.tasks += 1
        r.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        r.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        r.stageTasks.getOrElseUpdate(te.stageId, mutable.ArrayBuffer.empty) +=
          m.executorRunTime
      }
    }
  }

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
    val info = sc.stageInfo
    val span = stageSpan.get(info.stageId)
    if (span != null) for (s <- info.submissionTime; e <- info.completionTime) {
      val r = rec(span)
      r.synchronized(r.stageWall(info.stageId) = e - s)
    }
  }

  /** Records of the given spans, read after draining the listener bus. */
  def of(sc: SparkContext, spans: Iterable[Span]): Seq[TaskRecords] = {
    org.apache.spark.perfbench.ListenerDrain(sc)
    spans.flatMap(s => Option(records.get(Integer.valueOf(s.id)))).toSeq
  }
}

/** In-memory span recorder; a no-op when tracing is off, so untraced runs
  * pay one branch per call. */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0
  var request = 0L

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      sc.setLocalProperty(Tracer.Key, id.toString)
      val gc0 = Tracer.gcMs()
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        spans += Span(id, parent, name, request, t0, t1, Tracer.gcMs() - gc0)
        stack = stack.tail
        sc.setLocalProperty(Tracer.Key, stack.headOption.map(_.toString).orNull)
      }
    }

  def all: Seq[Span] = spans.toSeq

  def json: String = spans.map { s =>
    Json.obj("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "request" -> s.request, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
      "gc_ms" -> s.gcMs)
  }.mkString("[\n", ",\n", "\n]\n")
}

object Tracer {
  val Key = "perfbench.span"

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum
}

object Stats {
  /** Linear-interpolated quantile (numpy's default), q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Geometric mean over operation kinds of each kind's median: the
    * workload's `latency_ms`. Unlike one median over a mixed sample, it
    * does not jump when a kind's share of the sample moves by one. */
  def kindLatency(byKind: Iterable[Seq[Double]]): Double =
    math.exp(byKind.map(xs => math.log(median(xs))).sum / byKind.size)

  /** The highest of p99/p95/p90/p75/p50 with at least ten samples beyond
    * it, as (percentile, value); the median when there are fewer than 20. */
  def tail(xs: Seq[Double]): (Int, Double) = {
    val p = Seq(99, 95, 90, 75).find(p => xs.size * (100 - p) / 100.0 >= 10)
      .getOrElse(50)
    (p, quantile(xs, p / 100.0))
  }

  /** max/median of the task run times of the slowest stage (by wall). */
  def taskSkew(recs: Seq[TaskRecords]): Double = {
    val stages = recs.flatMap(r => r.stageWall.toSeq.flatMap { case (sid, w) =>
      r.stageTasks.get(sid).filter(_.nonEmpty).map(ts => (w, ts.toSeq)) })
    if (stages.isEmpty) 1.0
    else {
      val ts = stages.maxBy(_._1)._2.map(_.toDouble)
      val med = median(ts)
      if (med <= 0) 1.0 else ts.max / med
    }
  }
}

/** Minimal JSON rendering for the result and trace files. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"non-finite number $d")
      d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kv: (String, Any)*): String = value(mutable.LinkedHashMap(kv: _*))
}
