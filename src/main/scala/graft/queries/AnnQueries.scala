package graft.queries

import graft.ann.EmbeddingOps
import graft.engine.{Q, SimilarityOps, Tables}
import graft.functions.VecExprs
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor suite over `embeddings`
  * (FIXTURES.md §B: `vec_id, embedding list<float>, label`). */
object AnnQueries {

  /** Brute-force exact cosine top-10 for queries vec_id < 50 — the ANN
    * correctness baseline. */
  val q25 = Q("q25_ann_bruteforce",
    s"""WITH qv AS (${EmbeddingOps.quantizedSql}),
      |cand AS (
      |SELECT a.vec_id AS i, b.vec_id AS j FROM
      |(SELECT DISTINCT vec_id FROM qv WHERE vec_id < 50) a,
      |(SELECT DISTINCT vec_id FROM qv) b WHERE b.vec_id <> a.vec_id),
      |${EmbeddingOps.rankPairsSql(10)}""".stripMargin) { (s, dir) =>
    // array-form vectors: the 64-row-per-vector long form (join on d +
    // hash agg per pair) collapses to one row-local fold per pair — the
    // 50-query side broadcasts and the corpus streams through a single
    // map stage before the top-k aggregate
    val vecs = EmbeddingOps.quantizedVec(Tables(s, dir, "embeddings"))
    val a = vecs.filter(col("vec_id") < 50)
      .select(col("vec_id").as("i"), col("qv").as("va"), col("n2").as("n2i"))
    val b = vecs.select(col("vec_id").as("j"), col("qv").as("vb"),
      col("n2").as("n2j"))
    val sims = b.crossJoin(broadcast(a)).filter(col("j") =!= col("i"))
      .select(col("i"), col("j"), SimilarityOps.cosine(
        VecExprs.dot_q(col("va"), col("vb")), col("n2i"), col("n2j")).as("cos"))
    SimilarityOps.rankTopKRounded(sims, 10).orderBy("i", "rn")
  }

  /** Sign-LSH bucketed ANN: 16 md5-derived integer hyperplanes in 4
    * hash tables of 4 (OR-amplified); candidates share any table's
    * bucket with the query; exact re-rank of candidates only, top-5.
    * The scale path — at 100 TB the bucket joins replace the all-pairs
    * product; recall < 1 by design. */
  val q26 = Q("q26_ann_lsh",
    s"""WITH qv AS (${EmbeddingOps.quantizedSql}),
      |buckets AS (${EmbeddingOps.bucketsSql("qv")}),
      |cand AS (
      |SELECT DISTINCT a.vec_id AS i, b.vec_id AS j FROM buckets a
      |JOIN buckets b ON a.tbl = b.tbl AND a.bucket = b.bucket AND b.vec_id <> a.vec_id
      |WHERE a.vec_id < 50),
      |${EmbeddingOps.rankPairsSql(5)}""".stripMargin) { (s, dir) =>
    // buckets via the native bucket expression, persisted so both
    // sides of the candidate self-join share one computation; the
    // exact re-rank runs on array-form rows (one fold per pair)
    val vecs = EmbeddingOps.quantizedVec(Tables(s, dir, "embeddings"))
    val buckets = EmbeddingOps.bucketsVec(vecs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = buckets.filter(col("vec_id") < 50)
      .select(col("vec_id").as("i"), col("tbl"), col("bucket"))
    val b = buckets.select(col("vec_id").as("j"), col("tbl"), col("bucket"))
    val cand = b.join(broadcast(a), Seq("tbl", "bucket"))
      .filter(col("j") =!= col("i"))
      .select("i", "j").distinct()
    SimilarityOps.rankTopKRounded(EmbeddingOps.simsVec(vecs, cand), 5)
      .orderBy("i", "rn")
  }

  /** Embedding-cosine near-dup pairs (the fifth dedup method): the
    * corpus is augmented with near-identical copies (every 20th vector
    * re-appears under vec_id+100000 with its first quantized dim
    * nudged), candidates come from sign-LSH bucket collisions, and
    * only candidates get the exact cosine ≥ 0.99 check — never
    * all-pairs. */
  val q41 = Q("q41_embed_neardup",
    s"""WITH qv0 AS (${EmbeddingOps.quantizedSql}),
      |qv AS (SELECT vec_id, d, q FROM qv0
      |UNION ALL SELECT vec_id + 100000, d, q + CASE WHEN d = 0 THEN 10000 ELSE 0 END
      |FROM qv0 WHERE vec_id % 20 = 0),
      |buckets AS (${EmbeddingOps.bucketsSql("qv", planesPerTable = 8)}),
      |cand AS (
      |SELECT DISTINCT a.vec_id AS i, b.vec_id AS j FROM buckets a
      |JOIN buckets b ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
      |norms AS (SELECT vec_id, CAST(sum(q * q) AS BIGINT) AS n2 FROM qv GROUP BY vec_id),
      |dots AS (
      |SELECT i, j, CAST(sum(qa.q * qb.q) AS BIGINT) AS dot FROM cand
      |JOIN qv qa ON qa.vec_id = i JOIN qv qb ON qb.vec_id = j AND qb.d = qa.d
      |GROUP BY i, j)
      |SELECT i, j, round(cos, 6) AS cos FROM (
      |SELECT i, j, CAST(dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) AS cos
      |FROM dots JOIN norms na ON na.vec_id = i JOIN norms nb ON nb.vec_id = j)
      |WHERE cos >= 0.99 ORDER BY i, j""".stripMargin) { (s, dir) =>
    // array form end to end: augmentation nudges qv[0] of every 20th
    // vector (same CASE the oracle applies in long form), norms are
    // row-local folds, and bucketsVec is a pure map — the whole
    // candidate-generation side runs with zero pre-join shuffles
    val qv0 = EmbeddingOps.quantizedVec(Tables(s, dir, "embeddings"))
    val vecs = qv0.unionByName(
      qv0.filter(col("vec_id") % 20 === 0)
        .select((col("vec_id") + 100000L).as("vec_id"),
          transform(col("qv"),
            (x, i) => when(i === 0, x + 10000L).otherwise(x)).as("qv"))
        .withColumn("n2", VecExprs.dot_q(col("qv"), col("qv"))))
    // 8 planes per table (vs 4 for ANN search): near-identical pairs
    // survive the longer bucket, random collisions drop ~16x; persist:
    // both candidate sides read it
    val buckets = EmbeddingOps.bucketsVec(vecs, planesPerTable = 8)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = buckets.select(col("vec_id").as("i"), col("tbl"), col("bucket"))
    val b = buckets.select(col("vec_id").as("j"), col("tbl"), col("bucket"))
    val cand = a.join(b, Seq("tbl", "bucket")).filter(col("i") < col("j"))
      .select("i", "j").distinct()
    EmbeddingOps.simsVec(vecs, broadcast(cand))
      .filter(col("cos") >= 0.99)
      .select(col("i"), col("j"), round(col("cos"), 6).as("cos"))
      .orderBy("i", "j")
  }

  /** IVF-flat ANN (the other scale path beside sign-LSH): a coarse
    * quantizer of deterministic sampled centroids (every 50th vector),
    * each vector assigned to its nearest centroid's inverted list
    * (exact integer cosine, tie by centroid id); queries probe their
    * nprobe=4 nearest lists and exact-rerank only those lists'
    * members. At 100 TB the assignment is one bounded pass and query
    * cost is (nprobe/centroids) of the corpus. */
  val q46 = Q("q46_ann_ivf",
    s"""WITH qv AS (${EmbeddingOps.quantizedSql}),
      |norms AS (SELECT vec_id, CAST(sum(q * q) AS BIGINT) AS n2 FROM qv GROUP BY vec_id),
      |centv AS (SELECT vec_id AS cid, d, q AS qc FROM qv WHERE vec_id % 50 = 0),
      |adots AS (
      |SELECT v.vec_id, c.cid, CAST(sum(v.q * c.qc) AS BIGINT) AS dot
      |FROM qv v JOIN centv c ON c.d = v.d GROUP BY v.vec_id, c.cid),
      |asims AS (
      |SELECT a.vec_id, a.cid, CAST(a.dot AS DOUBLE) / (sqrt(CAST(nv.n2 AS DOUBLE)) * sqrt(CAST(nc.n2 AS DOUBLE))) AS acos
      |FROM adots a JOIN norms nv ON nv.vec_id = a.vec_id JOIN norms nc ON nc.vec_id = a.cid),
      |ranked AS (SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY acos DESC, cid) AS rk FROM asims),
      |assign AS (SELECT vec_id AS j, cid FROM ranked WHERE rk = 1),
      |probes AS (SELECT vec_id AS i, cid FROM ranked WHERE rk <= 4 AND vec_id < 50),
      |cand AS (SELECT DISTINCT i, j FROM probes JOIN assign USING (cid) WHERE j <> i),
      |${EmbeddingOps.rankTailSql(5)}""".stripMargin) { (s, dir) =>
    // the assignment pass — every vector against every centroid — is a
    // broadcast cross join over array-form rows (one 64-element fold
    // per pair) instead of a 64x long-form join + hash aggregation of
    // |vectors| x |centroids| x 64 rows; norms ride along row-locally
    val vecs = EmbeddingOps.quantizedVec(Tables(s, dir, "embeddings"))
    val cent = vecs.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("cid"), col("qv").as("qc"), col("n2").as("nc"))
    val asims = vecs.crossJoin(broadcast(cent))
      .select(col("vec_id").as("i"), col("cid").as("j"), SimilarityOps.cosine(
        VecExprs.dot_q(col("qv"), col("qc")), col("n2"), col("nc")).as("cos"))
    // each vector's 4 nearest centroids, best first: rank 1 is its
    // assignment, ranks <= 4 are the probes of a query vector
    val ranked = SimilarityOps.rankTopK(asims, 4)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val assign = ranked.filter(col("rn") === 1)
      .select(col("i").as("j"), col("j").as("cid"))
    val probes = ranked.filter(col("i") < 50)
      .select(col("i"), col("j").as("cid"))
    val cand = broadcast(probes).join(assign, Seq("cid"))
      .filter(col("j") =!= col("i")).select("i", "j").distinct()
    SimilarityOps.rankTopKRounded(EmbeddingOps.simsVec(vecs, cand), 5)
      .orderBy("i", "rn")
  }

  def all: Seq[Q] = Seq(q25, q26, q41, q46)
}
