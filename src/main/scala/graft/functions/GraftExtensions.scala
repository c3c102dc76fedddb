package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.Bridge

/** SQL registration of the engine's native functions on an
  * already-built session, so SQL users get them too:
  * `spark.sql("SELECT graft_stem(name) FROM products")`. */
object GraftExtensions {

  /** Register the engine functions on an existing session. */
  def install(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_stem",
      exprs => Bridge.expression(StemText.graft_stem(Bridge.column(exprs.head))),
      "scala_udf")
}
