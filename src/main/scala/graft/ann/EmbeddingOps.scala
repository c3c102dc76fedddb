package graft.ann

import graft.dedup.MinHashLocal
import graft.engine.SimilarityOps
import graft.functions.VecExprs
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`Array[Float]`) — the
  * north-star ANN operators (BASELINE.json; the reference's cosine
  * machinery `/root/reference/amazon1.py:138` lifted from TF vectors to
  * dense embeddings).
  *
  * Two paths, mirroring the text-similarity design:
  *  - brute-force exact cosine top-k for a bounded query set (the
  *    correctness baseline);
  *  - sign-LSH (random-hyperplane) bucketing for the 100 TB scale
  *    path: each vector hashes to a small bucket key, candidate
  *    generation is an equi-join on the bucket, and only candidates
  *    get exact re-ranking — cost bounded by bucket occupancy, never
  *    all-pairs.
  *
  * Determinism: float dims are quantized to exact integers
  * (`round(x * 1e6)`), so dot products and squared norms are exact
  * integer sums (order-independent) and `cos = dot/(sqrt(na)*sqrt(nb))`
  * is bit-identical across engines. Hyperplane weights are small
  * integers derived from md5, so projections are exact integer sums
  * too — both engines compute identical buckets.
  */
object EmbeddingOps {

  val QuantScale = 1000000.0

  /** 16 hyperplanes grouped into 4 hash tables of 4 planes each
    * (OR-amplification: a pair is a candidate if it collides in ANY
    * table — recall ≈ 1-(1-p^4)^4 instead of p^4). */
  val PlanesPerTable = 4
  val Dims = 64

  /** Array-form quantized embedding: `(vec_id, qv: array<long>, n2)`
    * with `qv[d] = round(x_d * 1e6)` (identical per-element rounding
    * to the oracle's [[quantizedSql]]) and `n2 = Σ qv[d]²` the exact
    * squared norm. The vectors are dense (fixed [[Dims]]), so every
    * long-form groupBy/join on `d` collapses to a row-local array fold: dot
    * products and norms become zero-shuffle map work instead of a
    * 64×-row explode + hash aggregation. r22: the per-element
    * `transform(round(...))` HOF (CodegenFallback) became the native
    * codegen column [[graft.functions.VecExprs.quantize_vec]] —
    * same HALF_UP rounding, proven elementwise in OpsSpec. */
  def quantizedVec(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), VecExprs.quantize_vec(col("embedding"), QuantScale).as("qv"))
      .withColumn("n2", VecExprs.dot_q(col("qv"), col("qv")))

  /** Sign-LSH bucket keys `(vec_id, tbl, bucket)`, one row per hash
    * table; the bucket has one char per plane, '1' iff the integer
    * projection onto [[planeWeight]] is non-negative. One native
    * codegen call per row ([[graft.functions.VecExprs.bucket_strs]])
    * computes all `4 * planesPerTable` projections in a flat loop —
    * zero joins, aggregations or exchanges. Projections are integer
    * sums (order-free), so buckets are bit-identical to the oracle's
    * relational [[bucketsSql]] (OpsSpec proves it row-wise, the q26/q41
    * oracle hashes corpus-wide). Short buckets (default 4) suit ANN
    * search; near-dup detection (cos ≈ 1) wants long ones, where
    * random candidate pairs vanish exponentially. */
  def bucketsVec(vecs: DataFrame,
      planesPerTable: Int = PlanesPerTable): DataFrame =
    vecs.select(col("vec_id"),
      posexplode(VecExprs.bucket_strs(col("qv"), planesPerTable))
        .as(Seq("tbl", "bucket")))
      .select(col("vec_id"), col("tbl").cast("long").as("tbl"), col("bucket"))

  /** Unrounded exact cosine `(i, j, cos)` for candidate pairs `(i, j)`
    * over array-form vectors `(vec_id, qv, n2)`: same integer dot /
    * norms / IEEE chain as the oracle's [[rankPairsSql]], but each pair
    * costs one 64-element fold instead of 64 joined rows plus a hash
    * aggregation. */
  def simsVec(vecs: DataFrame, pairs: DataFrame): DataFrame =
    pairs
      .join(vecs.select(col("vec_id").as("i"), col("qv").as("va"),
        col("n2").as("n2i")), Seq("i"))
      .join(vecs.select(col("vec_id").as("j"), col("qv").as("vb"),
        col("n2").as("n2j")), Seq("j"))
      .select(col("i"), col("j"), SimilarityOps.cosine(
        VecExprs.dot_q(col("va"), col("vb")), col("n2i"), col("n2j")).as("cos"))

  def quantizedSql: String =
    s"""SELECT vec_id, d, CAST(round(CAST(x AS DOUBLE) * $QuantScale) AS BIGINT) AS q
       |FROM (SELECT vec_id, unnest(embedding) AS x,
       |      unnest(range(0, len(embedding))) AS d FROM embeddings)""".stripMargin

  /** Integer hyperplane weight for (plane, dim): first hex digit of
    * `md5("plane<p>|<d>")` minus 8 → [-8, 7]. Identical to the oracle's
    * SQL derivation because md5 is md5. */
  def planeWeight(p: Int, d: Int): Int =
    Integer.parseInt(MinHashLocal.md5hex(s"plane$p|$d").substring(0, 1), 16) - 8

  def planesSql(numPlanes: Int): String =
    s"""SELECT p, d, instr('0123456789abcdef',
       |  substr(md5('plane' || CAST(p AS VARCHAR) || '|' || CAST(d AS VARCHAR)), 1, 1)) - 9 AS wt
       |FROM range($numPlanes) t(p), range($Dims) u(d)""".stripMargin

  def bucketsSql(qvRel: String,
      planesPerTable: Int = PlanesPerTable): String = {
    val nPlanes = 4 * planesPerTable
    val slots = (0 until planesPerTable)
      .map(i => s"max(CASE WHEN p % $planesPerTable = $i THEN bit END)")
      .mkString(" || ")
    s"""SELECT vec_id, CAST(floor(p / $planesPerTable) AS BIGINT) AS tbl, $slots AS bucket FROM (
       |SELECT vec_id, p, CASE WHEN sum(wt * q) >= 0 THEN '1' ELSE '0' END AS bit
       |FROM $qvRel JOIN (${planesSql(nPlanes)}) w USING (d)
       |GROUP BY vec_id, p) GROUP BY vec_id, CAST(floor(p / $planesPerTable) AS BIGINT)""".stripMargin
  }

  /** Oracle CTE tail shared by the ANN queries: `norms`, `dots` (from
    * `cand(i, j)`), `sims`, ranked top-k select. */
  def rankPairsSql(k: Int): String =
    s"""norms AS (SELECT vec_id, CAST(sum(q * q) AS BIGINT) AS n2 FROM qv GROUP BY vec_id),
       |${rankTailSql(k)}""".stripMargin

  /** As [[rankPairsSql]] but assumes `norms` is already defined by the
    * caller's CTE chain (e.g. the IVF query defines it early for
    * centroid assignment). */
  def rankTailSql(k: Int): String =
    s"""dots AS (
       |SELECT i, j, CAST(sum(qa.q * qb.q) AS BIGINT) AS dot FROM cand
       |JOIN qv qa ON qa.vec_id = i JOIN qv qb ON qb.vec_id = j AND qb.d = qa.d
       |GROUP BY i, j),
       |sims AS (
       |SELECT i, j, CAST(dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) AS cos
       |FROM dots JOIN norms na ON na.vec_id = i JOIN norms nb ON nb.vec_id = j)
       |SELECT i, j, rn, round(cos, 6) AS cos FROM (
       |SELECT i, j, cos, row_number() OVER (PARTITION BY i ORDER BY cos DESC, j) AS rn FROM sims)
       |WHERE rn <= $k ORDER BY i, rn""".stripMargin
}
