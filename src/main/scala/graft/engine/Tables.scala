package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Parquet table loader for the driver's TPC-H-ish test tables
  * (TESTDATA.md). Filters/projections applied downstream are pushed
  * into the parquet scan by Catalyst (column pruning + predicate
  * pushdown), so callers should select/filter as early as possible
  * and never cache the raw table.
  */
object Tables {
  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** CPU spread for expression-heavy map stages (tokenize/explode,
    * digest, kernel math): repartition to the default parallelism.
    * Unconditional: a single-row-group parquet file keeps all its rows
    * in one task however many (empty) splits it plans, and reading the
    * split count would plan the input at construction time. An input
    * that already has scan parallelism pays one extra exchange.
    *
    * With `keys` the spread hash-partitions instead of round-robin: the
    * same shuffled bytes, and the exchange also serves every later
    * aggregation or window clustered by a superset of `keys` (a doc_id
    * spread before tokenize makes the (doc_id, tok) tf and per-doc norm
    * aggregations exchange-free). The count is pinned because AQE may
    * coalesce a bare `repartition(keys)` to one partition (measured:
    * q23 2.9 s coalesced vs 1.1 s pinned). */
  def spread(df: DataFrame, keys: Column*): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism, keys: _*)
}
