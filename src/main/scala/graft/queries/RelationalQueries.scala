package graft.queries

import graft.engine.{CleanOps, Q, SimilarityOps, Tables, TextOps}
import org.apache.spark.sql.functions._

/** The relational/EDA operator suite — the reference's batch-EDA program
  * (`/root/reference/amazon1.py:24-111`) generalized over the driver's
  * TPC-H-ish tables (FIXTURES.md §B mapping).
  *
  * Scale notes (100 TB design point): every query here is a single
  * Catalyst plan — filters/projections reach the parquet scan, numeric
  * aggregation is partial+final hash agg in exact integer space (no
  * double-summation nondeterminism, no precision loss), dimension joins
  * are explicitly broadcast, and top-N is `TakeOrderedAndProject`
  * (never a full global sort).
  */
object RelationalQueries {

  /** T1 — global top-10 by a column with deterministic tie-break
    * (`amazon1.py:63-64`). Catalyst plans TakeOrderedAndProject: O(N)
    * scan + per-partition heap, no full sort even at 100 TB. */
  val q01 = Q("q01_top_parts",
    """SELECT p_partkey, p_name, p_brand, p_retailprice
      |FROM part ORDER BY p_retailprice DESC, p_partkey LIMIT 10""".stripMargin) {
    (s, dir) =>
      Tables(s, dir, "part")
        .select("p_partkey", "p_name", "p_brand", "p_retailprice")
        .orderBy(desc("p_retailprice"), asc("p_partkey"))
        .limit(10)
  }

  /** P1 — `clean_numeric_column` (`amazon1.py:42-59`) exercised on
    * deterministically-dirtied strings built from `part` (the driver
    * tables have no dirty numerics; the dirt patterns mirror the
    * reference's `"₹1,099"` / `"Get"` / empty / null cases). */
  val q02 = {
    val priceSqlDirty = "CASE WHEN p_partkey % 10 = 0 THEN 'Get' " +
      "WHEN p_partkey % 10 = 1 THEN NULL " +
      "ELSE '₹' || CAST(p_partkey AS VARCHAR) || ',' || CAST(p_size AS VARCHAR) || '.5 off' END"
    val countSqlDirty = "CASE WHEN p_partkey % 7 = 0 THEN '' " +
      "ELSE CAST(p_size AS VARCHAR) || ',' || CAST(p_partkey AS VARCHAR) END"
    Q("q02_clean_numeric",
      s"""SELECT p_partkey,
        |${CleanOps.cleanNumericSql(priceSqlDirty, allowDecimal = true)} AS clean_price,
        |${CleanOps.cleanNumericSql(countSqlDirty, allowDecimal = false)} AS clean_count
        |FROM part ORDER BY p_partkey""".stripMargin) { (s, dir) =>
      val dirtyPrice = when(col("p_partkey") % 10 === 0, lit("Get"))
        .when(col("p_partkey") % 10 === 1, lit(null).cast("string"))
        .otherwise(concat(lit("₹"), col("p_partkey").cast("string"), lit(","),
          col("p_size").cast("string"), lit(".5 off")))
      val dirtyCount = when(col("p_partkey") % 7 === 0, lit(""))
        .otherwise(concat(col("p_size").cast("string"), lit(","),
          col("p_partkey").cast("string")))
      Tables(s, dir, "part").select(
        col("p_partkey"),
        CleanOps.cleanNumeric(dirtyPrice, allowDecimal = true).as("clean_price"),
        CleanOps.cleanNumeric(dirtyCount, allowDecimal = false).as("clean_count"))
        .orderBy("p_partkey")
    }
  }

  private val statCols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")

  /** A2 — exact summary statistics (`amazon1.py:62` describe()):
    * count/mean/std/min/p25/p50/p75/max per numeric column. Values are
    * quantized to integer cents so partial+final aggregation is exact
    * (order-independent) and matches DuckDB bit-for-bit; `percentile`
    * (exact, interpolated) rather than `approx_percentile`
    * (SURVEY.md §7.3). */
  val q03 = {
    def statSql(c: String) =
      s"""SELECT '$c' AS col_name, count(v) AS cnt,
        |round(CAST(sum(v) AS DOUBLE) / count(v) / 100.0, 6) AS mean,
        |round(sqrt((CAST(sum(v * v) AS DOUBLE) - CAST(sum(v) AS DOUBLE) * CAST(sum(v) AS DOUBLE) / count(v)) / (count(v) - 1)) / 100.0, 6) AS std,
        |CAST(min(v) AS DOUBLE) / 100.0 AS min_v,
        |round(quantile_cont(v, 0.25) / 100.0, 6) AS p25,
        |round(quantile_cont(v, 0.5) / 100.0, 6) AS p50,
        |round(quantile_cont(v, 0.75) / 100.0, 6) AS p75,
        |CAST(max(v) AS DOUBLE) / 100.0 AS max_v
        |FROM (SELECT ${CleanOps.centsSql(c)} AS v FROM lineitem)""".stripMargin
    Q("q03_summary_stats",
      statCols.map(statSql).mkString("", "\nUNION ALL\n", "\nORDER BY col_name")) {
      (s, dir) =>
        // ONE pass over lineitem instead of four unioned scans: all
        // four columns' aggregates (exact integer moments + exact
        // percentiles) run in a single aggregate, then the one wide row
        // is exploded into the four output rows. Every per-column
        // expression chain is unchanged, so values are bit-identical.
        // spread: the exact-percentile partial buffers are the cost
        // (ObjectHashAggregate collecting every value); on a
        // single-split scan they would all build in one task
        val li = Tables.spread(Tables(s, dir, "lineitem")
          .select(statCols.map(c => CleanOps.cents(col(c)).as(c)): _*))
        // percentile(c, array(...)): ONE counts-map buffer and one
        // sorted evaluation per column serves all three quartiles —
        // identical doubles to three scalar percentile calls, a third
        // of the aggregation state/merge/sort
        val aggs = statCols.flatMap { c => Seq(
          count(col(c)).as(s"cnt_$c"),
          sum(col(c).cast("decimal(38,0)")).cast("double").as(s"sd_$c"),
          sum((col(c) * col(c)).cast("decimal(38,0)")).cast("double").as(s"ssq_$c"),
          min(col(c)).as(s"mn_$c"), max(col(c)).as(s"mx_$c"),
          expr(s"percentile($c, array(0.25, 0.5, 0.75))").as(s"pq_$c"))
        }
        val one = li.agg(aggs.head, aggs.tail: _*)
        val rows = statCols.map { c =>
          struct(
            lit(c).as("col_name"), col(s"cnt_$c").as("cnt"),
            round(col(s"sd_$c") / col(s"cnt_$c") / 100.0, 6).as("mean"),
            round(sqrt((col(s"ssq_$c") - col(s"sd_$c") * col(s"sd_$c") / col(s"cnt_$c")) / (col(s"cnt_$c") - 1)) / 100.0, 6).as("std"),
            (col(s"mn_$c").cast("double") / 100.0).as("min_v"),
            round(col(s"pq_$c").getItem(0) / 100.0, 6).as("p25"),
            round(col(s"pq_$c").getItem(1) / 100.0, 6).as("p50"),
            round(col(s"pq_$c").getItem(2) / 100.0, 6).as("p75"),
            (col(s"mx_$c").cast("double") / 100.0).as("max_v"))
        }
        one.select(explode(array(rows: _*)).as("r")).select("r.*")
          .orderBy("col_name")
    }
  }

  private val corrPairs = Seq(
    ("l_quantity", "l_extendedprice"), ("l_quantity", "l_discount"),
    ("l_extendedprice", "l_discount"), ("l_discount", "l_tax"))

  /** A5 — Pearson correlation matrix (`amazon1.py:97-98`), computed
    * from exact integer moment sums (one map-side-combinable pass per
    * pair) instead of the engines' internal `corr` so Spark and DuckDB
    * agree bit-for-bit. Pairwise-complete NA semantics follow pandas
    * (the driver columns are non-null so the guard is moot). */
  val q04 = {
    def corrSql(x: String, y: String) =
      s"""SELECT '$x' AS x_col, '$y' AS y_col,
        |round((count(*) * CAST(sum(x * y) AS DOUBLE) - CAST(sum(x) AS DOUBLE) * CAST(sum(y) AS DOUBLE)) /
        |(sqrt(count(*) * CAST(sum(x * x) AS DOUBLE) - CAST(sum(x) AS DOUBLE) * CAST(sum(x) AS DOUBLE)) *
        | sqrt(count(*) * CAST(sum(y * y) AS DOUBLE) - CAST(sum(y) AS DOUBLE) * CAST(sum(y) AS DOUBLE))), 6) AS corr_v
        |FROM (SELECT ${CleanOps.centsSql(x)} AS x, ${CleanOps.centsSql(y)} AS y FROM lineitem)""".stripMargin
    Q("q04_corr",
      corrPairs.map { case (x, y) => corrSql(x, y) }
        .mkString("", "\nUNION ALL\n", "\nORDER BY x_col, y_col")) { (s, dir) =>
      // ONE pass over lineitem instead of four unioned scans: the
      // shared per-column moments (sum, sum of squares) and the four
      // cross-moments all come out of a single aggregate; the corr
      // expression chain per pair is unchanged → bit-identical.
      val cols = corrPairs.flatMap(p => Seq(p._1, p._2)).distinct
      val li = Tables(s, dir, "lineitem")
        .select(cols.map(c => CleanOps.cents(col(c)).as(c)): _*)
      val aggs = Seq(count(lit(1)).as("n")) ++
        cols.flatMap(c => Seq(
          sum(col(c).cast("decimal(38,0)")).cast("double").as(s"s_$c"),
          sum((col(c) * col(c)).cast("decimal(38,0)")).cast("double").as(s"ss_$c"))) ++
        corrPairs.map { case (x, y) =>
          sum((col(x) * col(y)).cast("decimal(38,0)")).cast("double").as(s"sxy_${x}_$y")
        }
      val one = li.agg(aggs.head, aggs.tail: _*)
      val rows = corrPairs.map { case (x, y) =>
        struct(lit(x).as("x_col"), lit(y).as("y_col"),
          round((col("n") * col(s"sxy_${x}_$y") - col(s"s_$x") * col(s"s_$y")) /
            (sqrt(col("n") * col(s"ss_$x") - col(s"s_$x") * col(s"s_$x")) *
              sqrt(col("n") * col(s"ss_$y") - col(s"s_$y") * col(s"s_$y"))), 6).as("corr_v"))
      }
      one.select(explode(array(rows: _*)).as("r")).select("r.*")
        .orderBy("x_col", "y_col")
    }
  }

  /** A7 — equal-width histogram, 20 bins over [min, max]
    * (`amazon1.py:91-92`). The 1-row min/max aggregate is
    * broadcast-joined against the scan (no shuffle of the fact side). */
  val q05 = Q("q05_histogram",
    s"""WITH q AS (SELECT ${CleanOps.centsSql("o_totalprice")} AS v FROM orders),
      |m AS (SELECT min(v) AS mn, max(v) AS mx FROM q)
      |SELECT least(CAST(floor(CAST(v - mn AS DOUBLE) / (CAST(mx - mn AS DOUBLE) / 20.0)) AS BIGINT), 19) AS bin,
      |count(*) AS cnt FROM q, m GROUP BY bin ORDER BY bin""".stripMargin) {
    (s, dir) =>
      val q = Tables(s, dir, "orders").select(CleanOps.cents(col("o_totalprice")).as("v"))
      val m = q.agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
      q.crossJoin(broadcast(m))
        .select(least(floor((col("v") - col("mn")).cast("double") /
          ((col("mx") - col("mn")).cast("double") / 20.0)).cast("long"), lit(19L)).as("bin"))
        .groupBy("bin").agg(count(lit(1)).as("cnt"))
        .orderBy("bin")
  }

  /** A1 — distinct values of a low-cardinality column
    * (`amazon1.py:31-32`). */
  val q06 = Q("q06_distinct",
    "SELECT DISTINCT o_orderpriority FROM orders ORDER BY o_orderpriority") {
    (s, dir) =>
      Tables(s, dir, "orders").select("o_orderpriority").distinct()
        .orderBy("o_orderpriority")
  }

  /** F2/A3 — duplicate-group accounting (`amazon1.py:119-122`): group
    * count + deterministic keep-first representative (min orderkey)
    * per key, the engine's dedup-keep-first rule (SURVEY.md §7.4.1). */
  val q07 = Q("q07_dedup_groups",
    """SELECT l_returnflag, l_linestatus, count(*) AS cnt,
      |min(l_orderkey) AS first_orderkey
      |FROM lineitem GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, dir) =>
    Tables(s, dir, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("cnt"), min(col("l_orderkey")).as("first_orderkey"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** P2/P3 — derived discount columns with null-guard + clamp
    * (`amazon1.py:87-89`): pure scalar IEEE chains, identical op order
    * in both dialects → bit-identical without rounding. */
  val q08 = Q("q08_discount_derive",
    """SELECT l_orderkey, l_linenumber,
      |l_extendedprice AS actual_price,
      |l_extendedprice * (1.0 - l_discount) AS discounted_price,
      |l_extendedprice - l_extendedprice * (1.0 - l_discount) AS discount_diff,
      |least(greatest(coalesce((l_extendedprice - l_extendedprice * (1.0 - l_discount)) / nullif(l_extendedprice, 0.0) * 100.0, 0.0), 0.0), 100.0) AS discount_pct
      |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin) {
    (s, dir) =>
      val li = Tables(s, dir, "lineitem")
      val discounted = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
      val diff = col("l_extendedprice") - discounted
      // r22 (guide §2.3 — project before the exchange): the four
      // derived doubles are computed ABOVE the declared global sort, so
      // the range-partition exchange and the sort carry the two base
      // measures instead of six doubles (20.3 MB → ~2/3 of that,
      // measured via the bench shuffle-byte meta). Project preserves
      // row order, so output rows are byte-identical.
      li.select("l_orderkey", "l_linenumber", "l_extendedprice", "l_discount")
        .orderBy("l_orderkey", "l_linenumber")
        .select(
          col("l_orderkey"), col("l_linenumber"),
          col("l_extendedprice").as("actual_price"),
          discounted.as("discounted_price"),
          diff.as("discount_diff"),
          CleanOps.fillClamp(
            diff / nullif(col("l_extendedprice"), lit(0.0)) * 100.0,
            0.0, 0.0, 100.0).as("discount_pct"))
  }

  /** A6 — word frequency over `documents.text` (`amazon1.py:104-106`
    * wordcloud input): explode + filter + hash agg + TakeOrdered. */
  val q09 = Q("q09_word_freq",
    s"""SELECT word, count(*) AS cnt FROM (
      |SELECT unnest(${TextOps.tokensSql("text")}) AS word FROM documents)
      |WHERE word NOT IN ${TextOps.StopWordsSql}
      |GROUP BY word ORDER BY cnt DESC, word LIMIT 50""".stripMargin) {
    (s, dir) =>
      Tables(s, dir, "documents")
        .select(explode(TextOps.tokens(col("text"))).as("word"))
        .filter(!col("word").isin(TextOps.StopWords: _*))
        .groupBy("word").agg(count(lit(1)).as("cnt"))
        .orderBy(desc("cnt"), asc("word")).limit(50)
  }

  /** J — multi-table star join: revenue per region/nation. Fact-side
    * shuffle join on orderkey; all three dimension joins broadcast
    * (the 100 TB plan: only one shuffle, on the biggest key). Revenue
    * aggregated as exact integer cents. */
  val q10 = Q("q10_revenue_by_nation",
    s"""SELECT r_name, n_name, count(DISTINCT o_orderkey) AS n_orders,
      |round(CAST(sum(${CleanOps.centsSql("(l_extendedprice * (1.0 - l_discount))")}) AS DOUBLE) / 100.0, 2) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin) {
    (s, dir) =>
      val li = Tables(s, dir, "lineitem").select(col("l_orderkey"),
        CleanOps.cents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev_c"))
      val o = Tables(s, dir, "orders").select("o_orderkey", "o_custkey")
      val c = Tables(s, dir, "customer").select("c_custkey", "c_nationkey")
      val n = Tables(s, dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
      val r = Tables(s, dir, "region").select("r_regionkey", "r_name")
      // aggregate BEFORE the shuffle (guide §2.3): lineitem collapses
      // to one exact-cents revenue row per order ahead of the join, so
      // the fact-side exchange carries |orders| rows instead of
      // |lineitem|, and — because each surviving order is now exactly
      // one row — n_orders is a plain count, dropping countDistinct's
      // expand + second aggregation pass. Integer cents make the
      // two-level sum exact, so revenue is bit-identical.
      val liAgg = li.groupBy("l_orderkey")
        .agg(sum(col("rev_c").cast("decimal(38,0)")).as("rev_o"))
      // customer is NOT hint-broadcast: unlike nation/region it grows
      // linearly with scale factor, so the choice is left to AQE (at
      // test SFs it still picks a broadcast join; at 100 TB it won't)
      liAgg.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("rev_o")).cast("double") / 100.0, 2).as("revenue"))
        .orderBy("r_name", "n_name")
  }

  /** T3-general — per-group top-k (`amazon1.py:143-159` generalized):
    * top-3 orders per customer by price, deterministic tie-break on
    * orderkey, ranked by the engine's one top-k
    * ([[SimilarityOps.rankTopK]]) with the orders as `(i, j, cos)`.
    * The oracle ranks with a window. As `rankTopK` states, an order
    * with a null `o_totalprice` is skipped where the window ranks it
    * last; the tables hold no null totals. */
  val q11 = Q("q11_top_orders_per_cust",
    """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
      |SELECT o_custkey, o_orderkey, o_totalprice,
      |row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |FROM orders) WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin) {
    (s, dir) =>
      val orders = Tables(s, dir, "orders").select(col("o_custkey").as("i"),
        col("o_orderkey").as("j"), col("o_totalprice").as("cos"))
      SimilarityOps.rankTopK(orders, 3)
        .select(col("i").as("o_custkey"), col("j").as("o_orderkey"),
          col("cos").as("o_totalprice"), col("rn"))
        .orderBy("o_custkey", "rn")
  }

  /** F3 — substring-match filter (`amazon1.py:185-189`,
    * case-sensitive per the Python side — SURVEY.md §2.3 divergence
    * note). */
  val q12 = Q("q12_substring_filter",
    """SELECT p_partkey, p_name, p_retailprice FROM part
      |WHERE instr(p_name, 'red') > 0 ORDER BY p_partkey""".stripMargin) {
    (s, dir) =>
      Tables(s, dir, "part")
        .select("p_partkey", "p_name", "p_retailprice")
        .filter(instr(col("p_name"), "red") > 0)
        .orderBy("p_partkey")
  }

  /** Anti join — parts with no heavy shipment (left_anti; planned as
    * broadcast/shuffled hash anti at scale). */
  val q13 = Q("q13_anti_join",
    """SELECT p_partkey, p_name FROM part
      |WHERE p_partkey NOT IN (SELECT l_partkey FROM lineitem WHERE l_quantity > 45.0)
      |ORDER BY p_partkey""".stripMargin) { (s, dir) =>
    val heavy = Tables(s, dir, "lineitem")
      .filter(col("l_quantity") > 45.0).select("l_partkey")
    Tables(s, dir, "part").select("p_partkey", "p_name")
      .join(heavy, col("p_partkey") === col("l_partkey"), "left_anti")
      .orderBy("p_partkey")
  }

  /** Semi join — customers having at least one high-value order
    * (left_semi = SQL IN/EXISTS). */
  val q14 = Q("q14_semi_join",
    """SELECT c_custkey, c_name, c_acctbal FROM customer
      |WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000.0)
      |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
    val big = Tables(s, dir, "orders")
      .filter(col("o_totalprice") > 400000.0).select("o_custkey")
    Tables(s, dir, "customer").select("c_custkey", "c_name", "c_acctbal")
      .join(big, col("c_custkey") === col("o_custkey"), "left_semi")
      .orderBy("c_custkey")
  }

  def all: Seq[Q] = Seq(q01, q02, q03, q04, q05, q06, q07, q08, q09,
    q10, q11, q12, q13, q14)
}
