package graft.queries

import graft.engine.{Q, SimilarityOps, Tables, TextOps}
import org.apache.spark.sql.functions._

/** The reference's text pipeline (E2 offline index build + E3 online
  * recommend, `/root/reference/amazon1.py:116-202`) over the
  * `documents` table (FIXTURES.md §B mapping).
  */
object TextQueries {

  /** M1 — raw tokenization long form: `(doc_id, token, tf)`
    * (`amazon1.py:133` CountVectorizer token pattern `\w\w+`). */
  val q15 = Q("q15_tokens",
    s"""${SimilarityOps.termFreqSql(dropStopwords = false)}
      |ORDER BY doc_id, tok""".stripMargin) { (s, dir) =>
    // r22: doc_id-keyed spread — unlike the round-robin spread (tried
    // and reverted in r21 as a pure extra exchange), this one REPLACES
    // the (doc_id, tok) aggregation's own exchange (guide §2.4), so
    // tokenize runs on all cores at the same exchange count
    SimilarityOps.termFreq(
      Tables.spread(Tables(s, dir, "documents").select("doc_id", "text"),
        col("doc_id")),
      dropStopwords = false)
      .orderBy("doc_id", "tok")
  }

  /** P5+P6 — normalized + Porter-stemmed `search_terms`
    * (`amazon1.py:128-130`) via the native codegen column
    * (graft.functions.StemText). Stemming has no SQL equivalent →
    * rows-only check (SparkEntry contract); exactness is covered by
    * `StemmerSpec`/`StemTextSpec`. */
  val q16 = Q.noOracle("q16_search_terms") { (s, dir) =>
    Tables.spread(Tables(s, dir, "documents").select("doc_id", "text"))
      .select(col("doc_id"),
        graft.functions.StemText.graft_stem(TextOps.normalize(col("text")))
          .as("search_terms"))
      .orderBy("doc_id")
  }

  /** M3 — vocabulary build: top-5000 terms by corpus-wide term
    * frequency, alphabetical tie-break (`amazon1.py:133`
    * `max_features=5000`; tie rule made explicit for determinism,
    * SURVEY.md §2.10 M3) — `SimilarityOps.vocabulary`, numbered. */
  val q17 = Q("q17_vocab",
    s"""WITH tf AS (${SimilarityOps.termFreqSql(dropStopwords = true)})
      |SELECT term, corpus_tf, vocab_id FROM (
      |SELECT tok AS term, CAST(sum(tf) AS BIGINT) AS corpus_tf,
      |row_number() OVER (ORDER BY CAST(sum(tf) AS BIGINT) DESC, tok) AS vocab_id
      |FROM tf GROUP BY tok) WHERE vocab_id <= ${SimilarityOps.VocabSize} ORDER BY vocab_id""".stripMargin) {
    (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      // corpus_tf = Σ_doc tf(doc, tok) = plain occurrence count, so the
      // intermediate (doc_id, tok) aggregation — a full extra exchange —
      // is dropped: one hash agg on tok (map-side partials) does it
      val toks = Tables.spread(Tables(s, dir, "documents").select("text"))
        .select(explode(TextOps.tokens(col("text"))).as("tok"))
        .filter(!col("tok").isin(TextOps.StopWords: _*))
      // TakeOrderedAndProject(5000) first, THEN the global ranking
      // window runs over at most 5000 rows — never a full-vocab
      // single-partition sort at scale.
      SimilarityOps.vocabulary(toks, count(lit(1)))
        .withColumn("vocab_id",
          row_number().over(Window.orderBy(desc("corpus_tf"), asc("term"))).cast("long"))
        .select("term", "corpus_tf", "vocab_id")
        .orderBy("vocab_id")
  }

  /** J1+M4+T3 — top-10 cosine neighbors for a bounded query set
    * (`amazon1.py:138-159`): the exact sparse-cosine inverted-index
    * join. Query set bounded to doc_id < 100 — the scale path for
    * unbounded all-pairs is LSH (q21/q22). */
  val q18 = Q("q18_cosine_topk",
    s"""WITH ${SimilarityOps.cosineSimsCte("a.doc_id < 100")}
      |SELECT i, j, rn, round(cos, 6) AS cos FROM (
      |SELECT i, j, cos, row_number() OVER (PARTITION BY i ORDER BY cos DESC, j) AS rn FROM sims)
      |WHERE rn <= 10 ORDER BY i, rn""".stripMargin) { (s, dir) =>
    val docs = Tables(s, dir, "documents")
    // corpus tf feeds the inverted-index join probe side and the
    // j-norms — persist so tokenize+count runs once. r22: the spread
    // is KEYED by doc_id (same shuffled bytes as the round-robin
    // spread) so that ONE exchange serves the tokenize
    // parallelization, the (doc_id, tok) tf aggregation AND the
    // per-doc j-norms aggregation — both aggregations now run with no
    // exchange of their own (guide §2.4 exchange sharing)
    val tf = SimilarityOps.termFreq(
      Tables.spread(docs.select("doc_id", "text"), col("doc_id")),
      dropStopwords = true)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the broadcast QUERY side is rebuilt from a pruned scan
    // (PushedFilters: doc_id < 100) instead of filtering the full tf:
    // the broadcast no longer waits on — or re-tokenizes — the whole
    // corpus, and at scale reads ~0 of it; persisted because it feeds
    // both the inverted-index probe side and the i-norms (which also
    // share the doc_id-keyed exchange)
    val tfQ = SimilarityOps.termFreq(
      Tables.spread(
        docs.select("doc_id", "text").filter(col("doc_id") < 100),
        col("doc_id")),
      dropStopwords = true)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    SimilarityOps.rankTopKRounded(SimilarityOps.cosinePairs(tfQ, tf), 10)
      .orderBy("i", "rn")
  }

  /** E3 — the online recommend query (`amazon1.py:181-202`): substring
    * lookup (F3, first match by doc_id), gather top-5 neighbors (J2 —
    * a broadcast join against the k-row neighbor set), project display
    * columns (M6). */
  val q19 = Q("q19_recommend",
    s"""WITH ${SimilarityOps.cosineSimsCte(
        "a.doc_id = (SELECT min(doc_id) FROM documents WHERE instr(lower(text), 'spark') > 0)")}
      |SELECT rn, j AS doc_id, round(cos, 6) AS cos, lang, source, n_chars,
      |substr(text, 1, 40) AS snippet
      |FROM (SELECT i, j, cos, row_number() OVER (PARTITION BY i ORDER BY cos DESC, j) AS rn FROM sims)
      |JOIN documents ON doc_id = j WHERE rn <= 5 ORDER BY rn""".stripMargin) {
    (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val qid = docs.filter(instr(lower(col("text")), "spark") > 0)
        .agg(min(col("doc_id")).as("qid"))
      // doc_id-keyed spread: one exchange serves tokenize spreading,
      // the tf aggregation and the j-norms aggregation (as in q18)
      val tf = SimilarityOps.termFreq(
        Tables.spread(docs.select("doc_id", "text"), col("doc_id")),
        dropStopwords = true)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // query side: tokenize ONLY the one semi-joined document (a
      // broadcast semi-join against the scan) instead of filtering the
      // fully tokenized corpus — the broadcast build no longer waits on
      // the full tf
      val tfQ = SimilarityOps.termFreq(
        docs.select("doc_id", "text")
          .join(broadcast(qid), col("doc_id") === col("qid"), "left_semi"),
        dropStopwords = true)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // the ≤5-row neighbor set is explicitly broadcast into the
      // display join so the documents side streams with no exchange
      // (the planner's size estimate for a top-k-over-joins subtree is
      // far too large to pick this on its own)
      broadcast(SimilarityOps.rankTopKRounded(SimilarityOps.cosinePairs(tfQ, tf), 5)
        .select(col("rn"), col("j").as("doc_id"), col("cos")))
        .join(docs, Seq("doc_id"))
        .select(col("rn"), col("doc_id"), col("cos"), col("lang"),
          col("source"), col("n_chars"),
          substring(col("text"), 1, 40).as("snippet"))
        .orderBy("rn")
  }

  def all: Seq[Q] = Seq(q15, q16, q17, q18, q19)
}
