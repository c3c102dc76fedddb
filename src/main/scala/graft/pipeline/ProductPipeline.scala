package graft.pipeline

import graft.engine.{CleanOps, SimilarityOps, TextOps}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** The reference's complete program — E1 batch EDA, E2 offline index
  * build, E3 online recommend (`/root/reference/amazon1.py`) — as one
  * composable module over a reference-shaped products table
  * (FIXTURES.md §A). Each stage is a pure DataFrame function; the
  * driver-table generalizations live in `graft.queries`, this is the
  * faithful end-to-end replica. Building a stage's DataFrame runs no
  * Spark job, `loadCsv` included.
  */
object ProductPipeline {

  /** The products CSV's declared schema: the 9 reference columns
    * (FIXTURES.md §A), all STRING. The dirty numeric columns stay text
    * for [[clean]], whatever a batch happens to hold. */
  val ProductSchema: StructType = StructType(Seq("name", "main_category",
    "sub_category", "image", "link", "ratings", "no_of_ratings",
    "discount_price", "actual_price").map(StructField(_, StringType)))

  /** The neighbor index's declared schema: the unrounded
    * `(i, j, rn, cos)` rows that [[buildIndex]] ranks over `row_id`s
    * with `SimilarityOps.rankTopK`. */
  val IndexSchema: StructType =
    StructType.fromDDL("i BIGINT, j BIGINT, rn BIGINT, cos DOUBLE")

  /** S2 — CSV scan with header (`amazon1.py:24-25`), read with the
    * declared [[ProductSchema]] instead of inferring it, and a stable
    * `row_id` captured immediately at read (SURVEY.md §7.4.1:
    * pandas row-order semantics — dedup keep-first, stable ties,
    * first-match lookup — need a total order).
    *
    * Header rule: each file's header must name the declared columns in
    * the declared order (`enforceSchema=false`). A header that does not
    * fails the first action on the result with Spark's "CSV header does
    * not conform to the schema" error, instead of its columns being
    * shifted by position into the declared names.
    *
    * `row_id` is `monotonically_increasing_id()` on the scan that reads
    * the row: `(partition index << 33) + offset in the partition`. It is
    * unique while every partition holds fewer than 2^33 rows, and it
    * ascends in scan order. Spark plans a directory's files largest
    * first, so across files the ids ascend in decreasing file size, and
    * within a file in line order. A single-split input (one file below
    * the split size) numbers its rows 0, 1, 2, … in line order. Across
    * splits the ids are not dense; dedup, lookup, [[top10]] and the
    * neighbor ranking read them only through `min` and ascending order. */
  def loadCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(ProductSchema).option("header", "true")
      .option("enforceSchema", "false").csv(path)
      .withColumn("row_id", monotonically_increasing_id())

  /** E1 cleaning — P1 ×4 (`amazon1.py:51-59`) + P2/P3 discount
    * derivations (`amazon1.py:87-89`) with the NaN-vs-null policy of
    * SURVEY.md §7.4.2 (cleaning yields null, division guarded).
    *
    * Decimal flags match the reference's `columns_to_clean` map
    * (`amazon1.py:50-58`) exactly: only `ratings` allows a decimal
    * point; both price columns strip it, so a price of "₹1,099.50"
    * cleans to 109950.0 — the dot is removed like any other
    * non-digit. That is lossy, but it is the reference's contract and
    * PipelineSpec pins it with a decimal-bearing fixture row. */
  def clean(df: DataFrame): DataFrame = df
    .withColumn("ratings_cleaned",
      CleanOps.cleanNumeric(col("ratings"), allowDecimal = true))
    .withColumn("no_of_ratings_cleaned",
      CleanOps.cleanNumeric(col("no_of_ratings"), allowDecimal = false))
    .withColumn("discount_price_cleaned",
      CleanOps.cleanNumeric(col("discount_price"), allowDecimal = false))
    .withColumn("actual_price_cleaned",
      CleanOps.cleanNumeric(col("actual_price"), allowDecimal = false))
    .withColumn("discount_diff",
      col("actual_price_cleaned") - col("discount_price_cleaned"))
    .withColumn("discount_pct", CleanOps.fillClamp(
      col("discount_diff") / nullif(col("actual_price_cleaned"), lit(0.0)) * 100.0,
      0.0, 0.0, 100.0))

  /** F2 — whole-row dedup, keep FIRST occurrence by row_id (pandas
    * `drop_duplicates` keep='first', `amazon1.py:119-122`; nulls
    * compare equal within the key, matching pandas). One aggregate:
    * the key is every other column, so the group's min row_id names
    * the kept row and the key columns are that row's values. Grouping
    * normalizes floating-point keys (-0.0 reads back as 0.0, every NaN
    * as the canonical NaN). Columns keep `df`'s order. */
  def dedupKeepFirst(df: DataFrame): DataFrame = {
    val keyCols = df.columns.filterNot(_ == "row_id").map(col _).toIndexedSeq
    df.groupBy(keyCols: _*).agg(min(col("row_id")).as("row_id"))
      .select(df.columns.map(col _).toIndexedSeq: _*)
  }

  /** T1 — top-10 by cleaned ratings count (`amazon1.py:63-64`); pandas
    * NaN-sorts-last ≡ desc_nulls_last; row_id breaks ties. */
  def top10(df: DataFrame): DataFrame = df
    .orderBy(desc_nulls_last("no_of_ratings_cleaned"), asc("row_id"))
    .limit(10)
    .select("name", "ratings_cleaned", "no_of_ratings_cleaned",
      "discount_price_cleaned", "actual_price_cleaned")

  /** P7 — `shorten_image_url` (`amazon1.py:163-169`): the id between
    * `images/` and `._AC_UL320_.jpg`. */
  def shortenImageUrl(c: Column): Column =
    substring_index(substring_index(c, "images/", -1), "._AC_UL320_.jpg", 1)

  /** P8 — `shorten_amazon_link` (`amazon1.py:171-176`). */
  def shortenLink(c: Column): Column =
    regexp_replace(c, "^https://www\\.amazon\\.in/", "")

  /** P5+P6 — `search_terms` (`amazon1.py:128-130`): normalize +
    * Porter-stem via the native codegen expression. */
  def searchTerms(c: Column): Column =
    graft.functions.StemText.graft_stem(TextOps.normalize(c))

  /** E2 — offline neighbor-index build (`amazon1.py:116-179`):
    * [[indexBase]] → [[indexTf]] → all-pairs exact cosine → per-row
    * top-k (T3). All-pairs is the reference's own semantics and is
    * meant for the ≈10k-row products table; the unbounded-corpus scale
    * path is the LSH family in `graft.dedup`. Returns the deduped base
    * and the unrounded `(i, j, rn, cos)` ranking of
    * `SimilarityOps.rankTopK`: the index `SimilarityOps.mergeTopK`
    * takes, [[saveIndex]] writes and [[IndexSchema]] reads. Only the
    * query outputs round `cos`; [[recommend]] does not read it. */
  def buildIndex(products: DataFrame, k: Int = 10): (DataFrame, DataFrame) = {
    val base = indexBase(products)
    val tf = indexTf(base)
    (base, SimilarityOps.rankTopK(SimilarityOps.cosinePairs(tf, tf), k))
  }

  /** The index's base: dedup keep-first → dropna(name) (F1) → the
    * shortened `image_id` and `link_id` (P7/P8), persisted. */
  def indexBase(products: DataFrame): DataFrame =
    dedupKeepFirst(products)
      .na.drop(Seq("name"))
      .withColumn("image_id", shortenImageUrl(col("image")))
      .withColumn("link_id", shortenLink(col("link")))
      .persist(StorageLevel.MEMORY_AND_DISK)

  /** The term frequencies the index ranks: `(doc_id, tok, tf)` over
    * the base's `search_terms`, stopwords dropped, capped to the
    * `SimilarityOps.vocabulary` by corpus term frequency (M3, the
    * reference's `max_features=5000`), persisted. */
  def indexTf(base: DataFrame): DataFrame = {
    val docs = base.select(col("row_id").as("doc_id"),
      searchTerms(col("name")).as("text"))
    val tf = SimilarityOps.termFreq(docs, dropStopwords = true)
    tf.join(broadcast(SimilarityOps.vocabulary(tf, sum(col("tf")))),
      col("tok") === col("term"), "left_semi")
      .persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** Persist / reload the neighbor index (`amazon1.py:155`: build
    * once, amortize across queries — SURVEY.md §4 "materialized
    * neighbor table"). Parquet keeps it queryable by any session;
    * the reload reads it with the declared [[IndexSchema]]. */
  def saveIndex(neighbors: DataFrame, path: String): Unit =
    neighbors.write.mode("overwrite").parquet(path)

  def loadIndex(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(IndexSchema).parquet(path)

  /** E3 — `get_similar_products` (`amazon1.py:181-202`) as one lazy
    * plan: a lookup, then a gather. The query id is one aggregate over
    * `base`: the lowest `row_id` with an exact name match (F4; keep-first
    * by row_id — documented deterministic choice where Py keeps last and
    * R keeps first, SURVEY.md §2.3), else the lowest `row_id` whose
    * shortened link contains the query case-sensitively (F3). It enters
    * the neighbor filter as a scalar subquery, so building the result
    * runs no Spark job; then the k neighbors are gathered (J2) and the
    * display columns projected (M6). When nothing matches the id is
    * null and the result is empty, with the same 8 columns.
    *
    * Deviations from the reference, both deliberate: (1) a query doc
    * with no token overlap returns 0 rows — the reference's dense
    * matrix would pad with arbitrary zero-similarity products, which
    * is noise; the sparse index never materializes zero-sim pairs.
    * (2) an empty query string matches the first row via substring
    * fallback — same behavior as Python's `'' in s == True`. */
  def recommend(base: DataFrame, neighbors: DataFrame, query: String,
      k: Int = 5): DataFrame = {
    val qid = base.agg(coalesce(
      min(when(col("name") === query, col("row_id"))),
      min(when(instr(col("link_id"), query) > 0, col("row_id")))))
    neighbors.filter(col("i") === qid.scalar() && col("rn") <= k)
      .join(base, col("j") === col("row_id"))
      .orderBy("rn")
      .select(col("rn"), col("name"), col("ratings_cleaned"),
        col("no_of_ratings_cleaned"), col("discount_price_cleaned"),
        col("actual_price_cleaned"), col("image_id"), col("link_id"))
  }
}
