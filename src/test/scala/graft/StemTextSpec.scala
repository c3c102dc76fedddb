package graft

import graft.functions.StemText
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The native StemText expression: Column API, agreement with the UDF
  * path, and constant folding. */
class StemTextSpec extends AnyFunSuite {

  lazy val spark = TestSpark.session

  test("Column API stems and preserves nulls") {
    import spark.implicits._
    val out = Seq("ponies ties caresses", null, "running")
      .toDF("s")
      .select(StemText.graft_stem(col("s")).as("t"))
      .collect().map(r => if (r.isNullAt(0)) null else r.getString(0))
    assert(out.toSeq == Seq("poni ti caress", null, "run"))
  }

  test("expression agrees with the UDF path on the fixture corpus") {
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val both = docs.select(
      StemText.graft_stem(lower(col("text"))).as("a"),
      udf(graft.engine.Stemmer.stemText _).apply(lower(col("text"))).as("b"))
    assert(both.filter(col("a") =!= col("b")).count() == 0)
  }

  test("codegen path is exercised (no fallback exception) and folds literals") {
    // constant folding: a literal input should evaluate at plan time
    val plan = spark.range(1).select(StemText.graft_stem(lit("ponies")).as("t"))
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("poni") && !plan.contains("ponies"),
      s"expected folded literal in: $plan")
  }
}
