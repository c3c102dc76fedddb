package graft.engine

import graft.functions.TopKScoreId.graft_topk
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Term-frequency vectorization + sparse cosine similarity + per-key
  * top-k — the reference's offline index build
  * (`/root/reference/amazon1.py:116-179`): CountVectorizer
  * (`amazon1.py:133`), `cosine_similarity` as sparse `X·Xᵀ`
  * (`amazon1.py:138`), and `build_top_neighbors_matrix`
  * (`amazon1.py:143-159`).
  *
  * Spark-first design (SURVEY.md §2.4 J1, §2.6 T3): the reference's
  * scipy matrix product becomes an inverted-index equi-self-join on
  * `term` over long-form `(doc, term, tf)` rows — the classic sparse
  * cosine join. Zero-similarity pairs are never materialized, partial
  * aggregation combines map-side, and stopword/document-frequency
  * pruning bounds the join fan-out (the reference's vocab cap plays the
  * same role, `amazon1.py:133`). At the 100 TB design point the exact
  * join is reserved for bounded query sets; unbounded all-pairs
  * near-dup goes through the MinHash-LSH operators in `graft.dedup`.
  *
  * Determinism: tf counts are exact longs, so dot products and squared
  * norms are exact integers; `cos = dot / (sqrt(n2_i) * sqrt(n2_j))`
  * is a fixed chain of correctly-rounded IEEE ops over exact inputs →
  * bit-identical across engines, safe to rank on. Ties break by
  * ascending neighbor id, reproducing Python's stable sort
  * (`amazon1.py:148`, SURVEY.md §2.6 T3). Self-pairs are excluded with
  * an explicit `i != j` — fixing the reference's drop-rank-1 bug
  * (`amazon1.py:149`, SURVEY.md §7.4.6).
  */
object SimilarityOps {

  /** M1+M2+M3 long form — tokenize, optionally drop stopwords, count:
    * `(doc_id, tok, tf)`. */
  def termFreq(docs: DataFrame, dropStopwords: Boolean): DataFrame = {
    val toks = docs.select(col("doc_id"),
      explode(TextOps.tokens(col("text"))).as("tok"))
    val filtered =
      if (dropStopwords) toks.filter(!col("tok").isin(TextOps.StopWords: _*))
      else toks
    filtered.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
  }

  /** The vocabulary cap (`amazon1.py:133` `max_features=5000`). */
  val VocabSize = 5000

  /** M3 — the vocabulary: the top [[VocabSize]] tokens of `df` by
    * `weight` aggregated per token, as `(term, corpus_tf)`, ties broken
    * alphabetically (SURVEY.md §2.10 M3). */
  def vocabulary(df: DataFrame, weight: Column): DataFrame =
    df.groupBy(col("tok").as("term")).agg(weight.as("corpus_tf"))
      .orderBy(desc("corpus_tf"), asc("term")).limit(VocabSize)

  def termFreqSql(dropStopwords: Boolean): String = {
    val stop = if (dropStopwords) s"WHERE tok NOT IN ${TextOps.StopWordsSql}" else ""
    s"""SELECT doc_id, tok, count(*) AS tf FROM (
       |SELECT doc_id, unnest(${TextOps.tokensSql("text")}) AS tok FROM documents) $stop
       |GROUP BY doc_id, tok""".stripMargin
  }

  /** Squared L2 norms of the TF vectors (exact integers). */
  def docNorms(tf: DataFrame): DataFrame =
    tf.groupBy("doc_id").agg(sum(col("tf") * col("tf")).as("n2"))

  /** J1 — exact cosine for every (query, corpus) doc pair sharing a
    * term: unrounded `(i, j, cos)`. Inverted-index join on term, exact
    * integer dot; the query side (e.g. a semi-joined single document
    * for the online recommend path) broadcasts. Norms are per-doc
    * self-norms, so the i-side norms come from the query relation and
    * the j-side from the corpus relation — the two need not overlap
    * ([[mergeTopK]] joins a new-docs query side against the old
    * corpus). */
  def cosinePairs(tfQueries: DataFrame, tf: DataFrame): DataFrame = {
    val a = tfQueries
      .select(col("doc_id").as("i"), col("tok"), col("tf").as("tf_a"))
    val b = tf.select(col("doc_id").as("j"), col("tok"), col("tf").as("tf_b"))
    // broadcast the bounded query side: `tok` has few distinct values
    // (vocab-capped), so a shuffled join on it is hopelessly skewed —
    // a broadcast hash join streams the full corpus side in parallel
    // with no shuffle, and the (i, j) partial aggregation combines
    // map-side before the one real shuffle
    val dots = broadcast(a).join(b, Seq("tok"))
      .filter(col("i") =!= col("j"))
      .groupBy("i", "j").agg(sum(col("tf_a") * col("tf_b")).as("dot"))
    dots
      .join(docNorms(tfQueries).select(col("doc_id").as("i"), col("n2").as("n2i")), Seq("i"))
      .join(docNorms(tf).select(col("doc_id").as("j"), col("n2").as("n2j")), Seq("j"))
      .select(col("i"), col("j"), cosine(col("dot"), col("n2i"), col("n2j")).as("cos"))
  }

  /** Exact cosine from an exact integer dot product and the two exact
    * squared norms: `dot / (sqrt(n2a) * sqrt(n2b))`, the fixed IEEE
    * chain every cosine query and its oracle compute. */
  def cosine(dot: Column, n2a: Column, n2b: Column): Column =
    dot.cast("double") / (sqrt(n2a.cast("double")) * sqrt(n2b.cast("double")))

  /** T3 — rank `(i, j, cos)` pairs (`j` a long, `cos` a double) per i:
    * (cos desc, j asc), keep k. Returns unrounded `(i, j, rn, cos)`.
    * The engine's one ranked top-k: every cosine and ANN query (through
    * [[rankTopKRounded]]), q11's top orders, q46's centroid ranking,
    * `ProductPipeline.buildIndex` and [[mergeTopK]] call it. One pass
    * through the `graft_topk` aggregate: at most k (cos, j) entries
    * per i in the buffer, combined map-side, so only k rows per i
    * cross the shuffle (a `row_number()` window, the oracle SQL's
    * form, shuffles and sorts every pair). `cos` orders as Spark sorts
    * doubles (NaN highest), so the ranks are the window's, except that
    * a pair with a null `cos` is skipped where the window ranks it
    * last. */
  def rankTopK(sims: DataFrame, k: Int): DataFrame =
    sims.groupBy("i").agg(graft_topk(col("cos"), col("j"), k).as("top"))
      .select(col("i"), posexplode(col("top")).as(Seq("p", "e")))
      .select(col("i"), col("e.id").as("j"), (col("p") + 1).cast("long").as("rn"),
        col("e.score").as("cos"))

  /** [[rankTopK]] with `cos` rounded to 6 places — the output form of
    * every cosine and ANN top-k query. */
  def rankTopKRounded(sims: DataFrame, k: Int): DataFrame =
    rankTopK(sims, k)
      .select(col("i"), col("j"), col("rn"), round(col("cos"), 6).as("cos"))

  /** Incremental index maintenance: fold a batch of new documents into
    * an existing top-k neighbor table without a full rebuild. Sound
    * because merging only ADDS candidates: an old pair absent from the
    * old top-k is dominated by k still-present better pairs and can
    * never enter the new top-k.
    *
    * Each new pair is computed once, with the bounded batch as the
    * broadcast query side: `withOld` gives the new docs' old neighbors
    * and, mirrored as `(j, i, cos)`, the old lists' updates; `withNew`
    * gives the new-new pairs. A mirrored row is the value a rebuild
    * computes: the same exact integer dot over the same two norms, and
    * IEEE multiplication commutes. Precondition: old and new doc ids
    * are disjoint. Cost: one norm pass over the old corpus (the
    * `withOld` j-norms) and a re-rank of every list.
    *
    * `existing` must be the UNROUNDED table from [[rankTopK]] (ranking
    * merged rounded and unrounded scores would be order-unstable).
    * Returns the same shape, re-ranked. */
  def mergeTopK(existing: DataFrame, tfOld: DataFrame, tfNew: DataFrame,
      k: Int): DataFrame = {
    val withOld = cosinePairs(tfNew, tfOld)
    val withNew = cosinePairs(tfNew, tfNew)
    // each `withOld` row yields both orientations: a self-union would
    // compute `withOld` twice, as Spark reuses no exchange over a
    // persisted tf read twice in one plan
    val bothWays = withOld.select(inline(array(
      struct(col("i"), col("j"), col("cos")),
      struct(col("j").as("i"), col("i").as("j"), col("cos")))))
    rankTopK(existing.select("i", "j", "cos")
      .unionByName(bothWays).unionByName(withNew), k)
  }

  /** Oracle CTE block shared by the cosine queries: `tf`, `norms`,
    * `dots` (bounded by `queryPredSql`), `sims`. */
  def cosineSimsCte(queryPredSql: String): String =
    s"""tf AS (${termFreqSql(dropStopwords = true)}),
       |norms AS (SELECT doc_id, CAST(sum(tf * tf) AS BIGINT) AS n2 FROM tf GROUP BY doc_id),
       |dots AS (
       |SELECT a.doc_id AS i, b.doc_id AS j, CAST(sum(a.tf * b.tf) AS BIGINT) AS dot
       |FROM tf a JOIN tf b ON a.tok = b.tok
       |WHERE ($queryPredSql) AND b.doc_id <> a.doc_id
       |GROUP BY a.doc_id, b.doc_id),
       |sims AS (
       |SELECT i, j, CAST(dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) AS cos
       |FROM dots JOIN norms na ON na.doc_id = i JOIN norms nb ON nb.doc_id = j)""".stripMargin
}
