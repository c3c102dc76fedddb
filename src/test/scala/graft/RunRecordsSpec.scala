package graft

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.functions.{broadcast, col, sum}
import org.apache.spark.sql.graft.Bridge
import org.scalatest.funsuite.AnyFunSuite

/** The run records that Bench and `TestSpark.withJobCount` read from
  * Spark's status store: filled with the UI off, jobs counted on any
  * thread, and a query's broadcast and adaptive jobs recorded under the
  * job description of the thread that ran it. */
class RunRecordsSpec extends AnyFunSuite {

  lazy val spark = TestSpark.session

  test("withJobCount counts jobs started on any thread, and none for plan building") {
    val rdd = spark.sparkContext.parallelize(1 to 10, 2)
    val (n, jobs) = TestSpark.withJobCount(
      Await.result(Future(rdd.count())(ExecutionContext.global), 1.minute))
    assert(n == 10 && jobs == 1)
    assert(TestSpark.withJobCount { rdd.count(); rdd.count() }._2 == 2)
    val (_, none) = TestSpark.withJobCount(
      spark.range(10).join(spark.range(5), "id").queryExecution.executedPlan)
    assert(none == 0)
  }

  test("a query's broadcast and shuffle jobs are recorded under its job description") {
    val sc = spark.sparkContext
    assert(sc.uiWebUrl.isEmpty, "the store is read with the UI off")
    val facts = spark.range(0, 2000).select((col("id") % 10).as("k"), col("id").as("v"))
    val dim = spark.range(0, 10).select(col("id").as("k"), col("id").cast("string").as("name"))
    val q = facts.join(broadcast(dim), "k").groupBy("name").agg(sum("v"))
    val d = "run-records: broadcast join"
    def inD = Bridge.jobRecords(sc, _.description.contains(d))._1
    try {
      sc.setJobDescription(d)
      q.write.format("noop").mode("overwrite").save()
      val Array(bytes, records, jobs, stages) = Bench.runRecords(sc, d)
      assert(inD.exists(_.jobTags.exists(_.startsWith("broadcast exchange"))),
        s"no broadcast job among ${inD.map(j => j.jobId -> j.jobTags)}")
      assert(jobs == inD.size && jobs >= 2 && stages >= 1)
      assert(bytes > 0 && records > 0)
      sc.setJobDescription("run-records: another action")
      assert(q.count() == 10)
      assert(Bench.runRecords(sc, d).toSeq == Seq(bytes, records, jobs, stages))
    } finally sc.setJobDescription(null)
  }
}
