package graft.queries

import graft.engine.{Q, Tables, TextOps}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis suite over `documents`: language-ID heuristic,
  * quality scoring, token counting, fingerprinting (north-star
  * training-data operators). All ratios are exact-integer divisions →
  * bit-identical doubles across engines. */
object AnalysisQueries {

  /** Language-marker word lists for the language-ID heuristic (q27).
    * Deterministic scoring: count tokens hitting each language's marker
    * list, argmax with fixed tie order en > es > de > fr. */
  private val Markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is", "in", "that", "it"),
    "es" -> Seq("el", "la", "de", "que", "los", "las", "es", "un"),
    "de" -> Seq("der", "die", "und", "das", "ist", "ein", "nicht", "mit"),
    "fr" -> Seq("le", "les", "et", "des", "est", "une", "pas", "pour"))

  /** Language ID by marker-word hit counts, fixed tie order. */
  val q27 = {
    val scoreSelSql = Markers.map { case (l, words) =>
      val inList = words.map(w => s"'$w'").mkString("(", ", ", ")")
      s"CAST(sum(CASE WHEN tok IN $inList THEN 1 ELSE 0 END) AS BIGINT) AS score_$l" }
      .mkString(", ")
    Q("q27_lang_id",
      s"""WITH toks AS (SELECT doc_id, unnest(${TextOps.tokensSql("text")}) AS tok FROM documents),
        |scores AS (SELECT doc_id, $scoreSelSql FROM toks GROUP BY doc_id)
        |SELECT doc_id, score_en, score_es, score_de, score_fr,
        |CASE WHEN score_en >= score_es AND score_en >= score_de AND score_en >= score_fr THEN 'en'
        |WHEN score_es >= score_de AND score_es >= score_fr THEN 'es'
        |WHEN score_de >= score_fr THEN 'de' ELSE 'fr' END AS predicted
        |FROM scores ORDER BY doc_id""".stripMargin) { (s, dir) =>
      // explode + codegen'd conditional sums (the array-fold form was
      // tried and reverted: higher-order `filter` is CodegenFallback —
      // interpreted + boxed per token — and measured ~2x slower than
      // this fully codegen'd explode + hash aggregate; a spread here
      // was also tried and reverted — tokenize alone is cheaper than
      // the exchange)
      val toks = Tables(s, dir, "documents")
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tok"))
      val scoreCols = Markers.map { case (l, words) =>
        sum(when(col("tok").isin(words: _*), 1).otherwise(0)).cast("long").as(s"score_$l")
      }
      toks.groupBy("doc_id").agg(scoreCols.head, scoreCols.tail: _*)
        .withColumn("predicted",
          when(col("score_en") >= col("score_es") &&
            col("score_en") >= col("score_de") &&
            col("score_en") >= col("score_fr"), "en")
            .when(col("score_es") >= col("score_de") &&
              col("score_es") >= col("score_fr"), "es")
            .when(col("score_de") >= col("score_fr"), "de")
            .otherwise("fr"))
        .orderBy("doc_id")
    }
  }

  /** Quality scoring: length / punctuation ratio / stopword ratio /
    * mean token length / composite score. */
  val q28 = Q("q28_quality",
    s"""WITH tok_agg AS (
      |SELECT doc_id, count(*) AS n_tokens,
      |CAST(sum(CASE WHEN tok IN ${TextOps.StopWordsSql} THEN 1 ELSE 0 END) AS BIGINT) AS n_stop,
      |CAST(sum(length(tok)) AS BIGINT) AS tok_chars
      |FROM (SELECT doc_id, unnest(${TextOps.tokensSql("text")}) AS tok FROM documents)
      |GROUP BY doc_id),
      |base AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars_m,
      |CAST(length(text) - length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) AS BIGINT) AS n_nonalnum
      |FROM documents)
      |SELECT doc_id, n_chars_m, n_tokens, n_stop,
      |CAST(n_nonalnum AS DOUBLE) / CAST(n_chars_m AS DOUBLE) AS punct_ratio,
      |CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS stop_ratio,
      |CAST(tok_chars AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS avg_token_len,
      |round(least(1.0, CAST(n_tokens AS DOUBLE) / 100.0) * (1.0 - CAST(n_nonalnum AS DOUBLE) / CAST(n_chars_m AS DOUBLE)) * (1.0 - CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE)), 6) AS quality
      |FROM base JOIN tok_agg USING (doc_id) ORDER BY doc_id""".stripMargin) {
    (s, dir) =>
      // explode + codegen'd aggregation (array-fold form tried and
      // reverted — HOF `filter`/`aggregate` are CodegenFallback and
      // measured ~2x slower; likewise a spread — tokenize alone is
      // cheaper than the exchange)
      val docs = Tables(s, dir, "documents")
      val tokAgg = docs
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tok"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("tok").isin(TextOps.StopWords: _*), 1).otherwise(0))
            .cast("long").as("n_stop"),
          sum(length(col("tok"))).cast("long").as("tok_chars"))
      val base = docs.select(col("doc_id"),
        length(col("text")).cast("long").as("n_chars_m"),
        (length(col("text")) -
          length(regexp_replace(lower(col("text")), "[^a-z0-9 ]", "")))
          .cast("long").as("n_nonalnum"))
      val punct = col("n_nonalnum").cast("double") / col("n_chars_m").cast("double")
      val stopR = col("n_stop").cast("double") / col("n_tokens").cast("double")
      base.join(tokAgg, Seq("doc_id"))
        .select(col("doc_id"), col("n_chars_m"), col("n_tokens"), col("n_stop"),
          punct.as("punct_ratio"), stopR.as("stop_ratio"),
          (col("tok_chars").cast("double") / col("n_tokens").cast("double"))
            .as("avg_token_len"),
          round(least(lit(1.0), col("n_tokens").cast("double") / 100.0) *
            (lit(1.0) - punct) * (lit(1.0) - stopR), 6).as("quality"))
        .orderBy("doc_id")
  }

  /** Token counting: whitespace tokens + BPE-ish unit count
    * (letter runs / single digits / single symbols). */
  val q29 = Q("q29_token_stats",
    """SELECT doc_id,
      |CAST(len(regexp_extract_all(text, '[^ ]+')) AS BIGINT) AS ws_tokens,
      |CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9 ]')) AS BIGINT) AS bpe_tokens,
      |CAST(length(text) AS BIGINT) AS chars
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Tables(s, dir, "documents").select(col("doc_id"),
      size(regexp_extract_all(col("text"), lit("[^ ]+"), lit(0)))
        .cast("long").as("ws_tokens"),
      size(regexp_extract_all(lower(col("text")),
        lit("[a-z]+|[0-9]|[^a-z0-9 ]"), lit(0))).cast("long").as("bpe_tokens"),
      length(col("text")).cast("long").as("chars"))
      .orderBy("doc_id")
  }

  /** Document fingerprinting: content hash of the normalized text +
    * duplicate-group flag (window count per fingerprint). */
  val q30 = Q("q30_fingerprint",
    s"""SELECT doc_id, fp, substr(fp, 1, 8) AS fp8,
      |CASE WHEN count(*) OVER (PARTITION BY fp) > 1 THEN 1 ELSE 0 END AS is_dup
      |FROM (SELECT doc_id, md5(${TextOps.normalizeSql("text")}) AS fp FROM documents)
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val w = Window.partitionBy(col("fp"))
    Tables(s, dir, "documents")
      .select(col("doc_id"),
        md5(TextOps.normalize(col("text")).cast("binary")).as("fp"))
      .select(col("doc_id"), col("fp"), substring(col("fp"), 1, 8).as("fp8"),
        when(count(lit(1)).over(w) > 1, 1L).otherwise(0L).as("is_dup"))
      .orderBy("doc_id")
  }

  def all: Seq[Q] = Seq(q27, q28, q29, q30)
}
