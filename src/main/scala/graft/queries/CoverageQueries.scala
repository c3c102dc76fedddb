package graft.queries

import graft.engine.{CleanOps, Q, Tables}
import graft.pipeline.ProductPipeline
import org.apache.spark.sql.functions._

/** Remaining SURVEY.md §2 operators with oracle coverage: URL
  * shortening (P7/P8), scatter-plot data (A9), Gaussian KDE (A8). */
object CoverageQueries {

  /** P7/P8 — URL shortening over URLs constructed deterministically
    * from `part` (the driver tables carry no URLs; the construction
    * mirrors the reference's Amazon image/link shapes,
    * `amazon1.py:163-176`). */
  val q36 = Q("q36_url_shorten",
    """SELECT p_partkey,
      |CASE WHEN instr(img, 'images/') > 0 AND instr(img, '._AC_UL320_.jpg') > 0
      |THEN substr(img, instr(img, 'images/') + 7, instr(img, '._AC_UL320_.jpg') - instr(img, 'images/') - 7)
      |ELSE img END AS image_id,
      |regexp_replace(lnk, '^https://www\.amazon\.in/', '') AS link_id
      |FROM (SELECT p_partkey,
      |'https://m.media-amazon.com/images/IMG' || CAST(p_partkey AS VARCHAR) || '._AC_UL320_.jpg' AS img,
      |CASE WHEN p_partkey % 5 = 0 THEN 'http://example.com/p/' || CAST(p_partkey AS VARCHAR)
      |ELSE 'https://www.amazon.in/' || p_brand || '/dp/' || CAST(p_partkey AS VARCHAR) END AS lnk
      |FROM part) ORDER BY p_partkey""".stripMargin) { (s, dir) =>
    val img = concat(lit("https://m.media-amazon.com/images/IMG"),
      col("p_partkey").cast("string"), lit("._AC_UL320_.jpg"))
    val lnk = when(col("p_partkey") % 5 === 0,
      concat(lit("http://example.com/p/"), col("p_partkey").cast("string")))
      .otherwise(concat(lit("https://www.amazon.in/"), col("p_brand"),
        lit("/dp/"), col("p_partkey").cast("string")))
    Tables(s, dir, "part")
      .select(col("p_partkey"), img.as("img"), lnk.as("lnk"))
      .select(col("p_partkey"),
        ProductPipeline.shortenImageUrl(col("img")).as("image_id"),
        ProductPipeline.shortenLink(col("lnk")).as("link_id"))
      .orderBy("p_partkey")
  }

  /** A9 — scatter-plot data (`amazon1.py:72-85`): a deterministic
    * 1-in-20 sample of (x, y) pairs (at 100 TB, plot data must be a
    * pushed-down sampled projection, never a full collect). */
  val q37 = Q("q37_scatter_sample",
    """SELECT o_orderkey, o_totalprice, o_orderpriority
      |FROM orders WHERE o_orderkey % 20 = 0 ORDER BY o_orderkey""".stripMargin) {
    (s, dir) =>
      Tables(s, dir, "orders")
        .filter(col("o_orderkey") % 20 === 0)
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
        .orderBy("o_orderkey")
  }

  /** A8 — Gaussian KDE (`amazon1.py:92` kde=True) of o_totalprice
    * evaluated on a 21-point grid: density(g) = mean over rows of
    * N(g; x, h). Inputs quantized to cents; the per-row kernel chain
    * is identical in both engines; the mean over exp values is a
    * double sum -> order-dependent in the last ulps, so the output is
    * rounded to 6 significant-ish decimals (density scale ~1e-5 — the
    * practical tolerance test; demoted to rows-only if it ever
    * flakes). Bandwidth: fixed 10% of the range. */
  val q38 = {
    val h = "((CAST(mx - mn AS DOUBLE) / 100.0) * 0.1)"
    val g = "(CAST(mn AS DOUBLE) / 100.0 + (CAST(mx - mn AS DOUBLE) / 100.0) * (CAST(gi AS DOUBLE) / 20.0))"
    val x = "(CAST(v AS DOUBLE) / 100.0)"
    Q("q38_kde",
      s"""WITH q AS (SELECT ${CleanOps.centsSql("o_totalprice")} AS v FROM orders),
        |m AS (SELECT min(v) AS mn, max(v) AS mx FROM q)
        |SELECT gi, round($g, 2) AS grid_x,
        |round(avg(exp(-(($x - $g) * ($x - $g)) / (2.0 * ($h * $h))) / ($h * 2.5066282746310002)) * 1000000.0, 6) AS density_ppm
        |FROM q, m, range(21) t(gi)
        |GROUP BY gi, mn, mx ORDER BY gi""".stripMargin) { (s, dir) =>
      // spread the kernel stage: the 21x-expanded exp() chain is the
      // cost and the single-split scan would run it on one core; the
      // min/max pass stays a plain (cheap) scan
      val q = Tables.spread(
        Tables(s, dir, "orders").select(CleanOps.cents(col("o_totalprice")).as("v")))
      val m = Tables(s, dir, "orders")
        .select(CleanOps.cents(col("o_totalprice")).as("v"))
        .agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
      val grid = s.range(21).select(col("id").as("gi"))
      val hC = (col("mx") - col("mn")).cast("double") / 100.0 * 0.1
      val gC = col("mn").cast("double") / 100.0 +
        (col("mx") - col("mn")).cast("double") / 100.0 * (col("gi").cast("double") / 20.0)
      val xC = col("v").cast("double") / 100.0
      q.crossJoin(broadcast(m)).crossJoin(broadcast(grid))
        .select(col("gi"),
          round(gC, 2).as("grid_x"),
          (exp(-((xC - gC) * (xC - gC)) / (lit(2.0) * (hC * hC))) /
            (hC * lit(2.5066282746310002))).as("k"))
        .groupBy("gi", "grid_x")
        .agg(round(avg(col("k")) * 1000000.0, 6).as("density_ppm"))
        .orderBy("gi")
  }
  }

  /** §2.7 set operations — none appear in the reference (stopword set
    * union is driver-side constant there), but the generalized engine
    * exposes them: high-balance vs automobile-segment customer keys
    * via UNION / INTERSECT / EXCEPT, tagged and stacked. */
  val q39 = Q("q39_set_ops",
    """WITH rich AS (SELECT c_custkey FROM customer WHERE c_acctbal > 5000.0),
      |auto AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE')
      |SELECT 'union' AS op, c_custkey FROM (SELECT c_custkey FROM rich UNION SELECT c_custkey FROM auto)
      |UNION ALL
      |SELECT 'intersect' AS op, c_custkey FROM (SELECT c_custkey FROM rich INTERSECT SELECT c_custkey FROM auto)
      |UNION ALL
      |SELECT 'except' AS op, c_custkey FROM (SELECT c_custkey FROM rich EXCEPT SELECT c_custkey FROM auto)
      |ORDER BY op, c_custkey""".stripMargin) { (s, dir) =>
    val c = Tables(s, dir, "customer")
    val rich = c.filter(col("c_acctbal") > 5000.0).select("c_custkey")
    val auto = c.filter(col("c_mktsegment") === "AUTOMOBILE").select("c_custkey")
    rich.union(auto).distinct().select(lit("union").as("op"), col("c_custkey"))
      .unionByName(rich.intersect(auto).select(lit("intersect").as("op"), col("c_custkey")))
      .unionByName(rich.except(auto).select(lit("except").as("op"), col("c_custkey")))
      .orderBy("op", "c_custkey")
  }

  private val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
    "4-NOT SPECIFIED", "5-LOW")

  /** Pivot — wide-form counts per (status × priority); the pivot value
    * list is fixed so the output schema is deterministic, and absent
    * combinations are zero-filled to match the CASE-sum oracle. */
  val q43 = {
    val cases = priorities.map(p =>
      s"""CAST(sum(CASE WHEN o_orderpriority = '$p' THEN 1 ELSE 0 END) AS BIGINT) AS "$p"""")
      .mkString(",\n|")
    Q("q43_pivot",
      s"""SELECT o_orderstatus,
        |$cases
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) {
      (s, dir) =>
        Tables(s, dir, "orders")
          .groupBy("o_orderstatus")
          .pivot("o_orderpriority", priorities)
          .agg(count(lit(1)))
          .na.fill(0L, priorities)
          .orderBy("o_orderstatus")
    }
  }

  /** Rollup — hierarchical subtotals over (returnflag, linestatus)
    * with exact integer revenue; null ordering made explicit so the
    * subtotal rows land identically in both engines. */
  val q44 = Q("q44_rollup",
    s"""SELECT l_returnflag, l_linestatus, count(*) AS cnt,
      |round(CAST(sum(${CleanOps.centsSql("(l_extendedprice * (1.0 - l_discount))")}) AS DOUBLE) / 100.0, 2) AS revenue
      |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
      |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin) {
    (s, dir) =>
      // r22 (guide §2.3 aggregate-before-expand): ROLLUP plans an
      // Expand that triples every input row before aggregating; the
      // leaf grouping (l_returnflag, l_linestatus) is pre-aggregated
      // first — integer-exact counts and cent sums — so the Expand and
      // the rollup aggregation run over the handful of leaf groups
      // instead of the full table. count(*) ≡ Σ leaf counts and the
      // decimal cent sums re-add exactly, so every subtotal is
      // bit-identical to the direct rollup (oracle hash-match).
      val leaf = Tables(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_linestatus"),
          CleanOps.cents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev_c"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt0"),
          sum(col("rev_c").cast("decimal(38,0)")).as("rev0"))
      leaf.rollup("l_returnflag", "l_linestatus")
        .agg(sum(col("cnt0")).as("cnt"),
          round(sum(col("rev0")).cast("double") / 100.0, 2).as("revenue"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))
  }

  def all: Seq[Q] = Seq(q36, q37, q38, q39, q43, q44)
}
