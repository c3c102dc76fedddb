package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.FormattedMode

/** Plan dump tooling (optimization rounds): writes
  * `.explain("formatted")` for every registered query to
  * `<outDir>/<query>_<suffix>.txt` so plan-shape claims (Exchange
  * counts, join strategies, PushedFilters) are checkable without
  * running Spark. Usage:
  * `runMain graft.Plans <sfDir> <outDir> <suffix>`. */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val outDir = if (args.length > 1) args(1) else "plans/r21"
    val suffix = if (args.length > 2) args(2) else "before"
    val spark = Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val txt = df.queryExecution.explainString(FormattedMode)
        Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), txt)
      } catch { case e: Throwable =>
        System.err.println(
          s"[plans] $name failed: ${e.getClass.getName}: ${e.getMessage}")
      }
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
