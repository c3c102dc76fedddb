package graft

import graft.engine.Tables
import graft.pipeline.ProductPipeline
import org.scalatest.funsuite.AnyFunSuite

/** The typed catalog: every declared input schema is the one its files
  * carry, and building a query reads no file. Spark trusts a declared
  * schema, so a declared column that a file lacks reads as nulls; these
  * checks make such a drift fail loudly instead. */
class CatalogSpec extends AnyFunSuite {

  lazy val spark = TestSpark.session
  private val root = "/root/testdata"

  for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
    test(s"$sf: every declared table schema equals its parquet footer") {
      val dir = s"$root/$sf"
      val onDisk = new java.io.File(dir).list().toSeq
        .filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet"))
      assert(onDisk.sorted == Tables.schemas.keys.toSeq.sorted)
      for (t <- onDisk) assert(Tables(spark, dir, t).schema ==
        spark.read.parquet(s"$dir/$t.parquet").schema, t)
    }
  }

  test("an unknown table name fails with the declared names") {
    val e = intercept[IllegalArgumentException](
      Tables(spark, s"$root/sf0.001", "lineitems"))
    assert(e.getMessage.contains("'lineitems'"))
    assert(Tables.schemas.keys.forall(e.getMessage.contains))
  }

  test("loadCsv reads the products fixture with the declared string columns") {
    val fixture = getClass.getResource("/products_dirty.csv").getPath
    // the declaration is what inference gives for the fixture
    assert(spark.read.option("header", "true").option("inferSchema", "true")
      .csv(fixture).schema == ProductPipeline.ProductSchema)
    assert(ProductPipeline.loadCsv(spark, fixture).dtypes.toSeq ==
      ProductPipeline.ProductSchema.fieldNames.toSeq.map(_ -> "StringType") :+
        ("row_id" -> "LongType"))
  }

  test("building every registered query runs no Spark job") {
    val (_, jobs) = TestSpark.withJobCount(
      SparkEntry.queries.values.foreach(_(spark, s"$root/sf0.001")))
    assert(jobs == 0, s"building the ${SparkEntry.queries.size} queries started $jobs jobs")
  }
}
