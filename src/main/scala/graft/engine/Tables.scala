package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Typed catalog of the engine's TPC-H-ish test tables (TESTDATA.md,
  * FIXTURES.md §B): one declared schema per table, and a parquet read
  * with it. Filters/projections applied downstream are pushed into the
  * parquet scan by Catalyst (column pruning + predicate pushdown), so
  * callers should select/filter as early as possible and never cache
  * the raw table.
  *
  * The declared schema replaces footer inference, so building a query
  * runs no Spark job (inference ran one per read, 0.16–0.27 s each at
  * sf0.1). Spark then trusts the declaration: a declared column missing
  * from a file reads as nulls, not as an error. CatalogSpec compares every
  * declaration with the footers of the sf0.001, sf0.01 and sf0.1 tables.
  * The timestamps are TIMESTAMP_NTZ because the files store them
  * without a time zone.
  */
object Tables {

  val schemas: Map[String, StructType] = Map(
    "region" -> "r_regionkey INT, r_name STRING",
    "nation" -> "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer" -> ("c_custkey BIGINT, c_name STRING, c_nationkey INT, " +
      "c_acctbal DOUBLE, c_mktsegment STRING"),
    "supplier" -> "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE",
    "part" -> ("p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, " +
      "p_size INT, p_retailprice DOUBLE"),
    "orders" -> ("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
      "o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING"),
    "lineitem" -> ("l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, " +
      "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, " +
      "l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING, " +
      "l_linestatus STRING, l_shipdate TIMESTAMP_NTZ"),
    "events" -> ("event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, " +
      "event_type STRING, value DOUBLE, props STRING"),
    "documents" -> "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    "embeddings" -> "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"
  ).map { case (name, ddl) => name -> StructType.fromDDL(ddl) }

  /** The declared schema of table `name`; an unknown name fails with
    * the declared ones. */
  def schema(name: String): StructType = schemas.getOrElse(name,
    throw new IllegalArgumentException(s"unknown table '$name'; declared tables: " +
      schemas.keys.toSeq.sorted.mkString(", ")))

  /** `$dir/$name.parquet`, read with the declared schema. */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.schema(schema(name)).parquet(s"$dir/$name.parquet")

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
