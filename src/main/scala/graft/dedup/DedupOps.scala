package graft.dedup

import graft.engine.TextOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Large-scale document deduplication operators — the training-data
  * pipeline extension of the reference's similarity machinery
  * (north star, BASELINE.json; SURVEY.md §7.2 phase 6). The reference
  * itself only does whole-row dedup (`/root/reference/amazon1.py:119-122`);
  * these generalize it to content-based near-dup detection that
  * survives 100 TB: every method is a bounded-fan-out hash/bucket
  * pipeline (no all-pairs product), and every hash is md5 so the
  * DuckDB oracle reproduces signatures bit-for-bit.
  *
  * Method inventory (each a first-class `queries()` entry):
  *  - exact dedup: normalized-text md5 fingerprint, keep-first
  *  - MinHash: per-doc signature = min over shingles of md5(seed|shingle)
  *  - LSH banding: band signature join → candidate pairs
  *    ([[candidatesFromBandSigs]]) → exact Jaccard of each candidate's
  *    shingle-key arrays ([[verifyPairs]]; only candidates are verified —
  *    the scale path for unbounded corpora)
  *  - SimHash: weighted token-hash bit votes (long form)
  *  - n-gram Jaccard: exact shingle-inverted-index pair similarity
  *
  * Every shingle comes from the one row-local shingler,
  * [[MinHashLocal.shingles]], through the native MinHash columns; the
  * `...Sql` methods are the oracle's relational renderings of the same
  * values.
  */
object DedupOps {

  val NumHashes = 16
  val Bands = 4

  /** Oracle rendering of the engine's shingle keys
    * ([[MinHashLocal.shingleKeys]] behind the native `shingle_keys`
    * column) over a shingle relation. The engine keys a shingle by
    * `conv(substr(md5(shingle), 1, 15), 16, 10)` as a long; DuckDB keeps
    * the 15-hex prefix string (no 64-bit hex→int cast needed). The
    * conversion is injective, so the equality classes are identical:
    * any 60-bit collision collides in both engines the same way. Longs
    * cut the inverted-index join's shuffle payload and hashing cost
    * ~3× against shingle strings. */
  def shingleKeysSql(shinglesRel: String): String =
    s"SELECT DISTINCT doc_id, substr(md5(shingle), 1, 15) AS sk FROM $shinglesRel"

  /** DuckDB rendering of [[MinHashLocal.shingles]] — the distinct word
    * 3-grams — over relation `docs(doc_id, text)`, as `(doc_id, shingle)`. */
  def shinglesSql(docsRel: String): String =
    s"""SELECT DISTINCT doc_id, shingle FROM (
       |SELECT doc_id, tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w AS shingle
       |FROM (SELECT doc_id, unnest(toks) AS tok, unnest(range(1, len(toks) + 1)) AS pos
       |      FROM (SELECT doc_id, ${TextOps.tokensSql("text")} AS toks FROM $docsRel))
       |WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
       |) WHERE shingle IS NOT NULL""".stripMargin

  /** Corpus augmented with deterministic near-duplicates: every 20th
    * doc re-appears under `doc_id + 100000` with its first token
    * dropped. Used by the near-dup queries so the pair-detection path
    * has real positives to find (the synthetic corpus has few natural
    * near-dups); both engines construct the same corpus. */
  def augmented(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("text"))
      .unionByName(docs.filter(col("doc_id") % 20 === 0)
        .select((col("doc_id") + 100000L).as("doc_id"),
          regexp_replace(col("text"), "^[^ ]+ ", "").as("text")))

  val augmentedSql: String =
    """SELECT doc_id, text FROM documents
      |UNION ALL SELECT doc_id + 100000 AS doc_id,
      |regexp_replace(text, '^[^ ]+ ', '') AS text
      |FROM documents WHERE doc_id % 20 = 0""".stripMargin

  /** MinHash signatures in the oracle's relational form: for each
    * seed h in [0, NumHashes), the lexicographic min of
    * `md5(h || '|' || shingle)` over the doc's shingle set, as
    * `(doc_id, h, minhash)`. The engine signs row-locally instead
    * ([[MinHashLocal.minhashes]] behind q21's native `minhash_sigs`
    * column), to the same values. */
  def minhashSignaturesSql(shinglesRel: String): String =
    s"""SELECT doc_id, h, min(md5(CAST(h AS VARCHAR) || '|' || shingle)) AS minhash
       |FROM $shinglesRel, range($NumHashes) t(h)
       |GROUP BY doc_id, h""".stripMargin

  /** Candidate pairs from a `(doc_id, band, sig)` relation: docs
    * sharing any (band, signature) bucket, as distinct `(i, j)` with
    * i < j. Candidates — and only candidates — get exact-Jaccard
    * verification (q22). */
  def candidatesFromBandSigs(bandSigs: DataFrame): DataFrame = {
    val a = bandSigs.select(col("doc_id").as("i"), col("band"), col("sig"))
    val b = bandSigs.select(col("doc_id").as("j"), col("band"), col("sig"))
    a.join(b, Seq("band", "sig")).filter(col("i") < col("j"))
      .select("i", "j").distinct()
  }

  /** LSH banding in the oracle's relational form: the signature's
    * `NumHashes` rows split into `Bands` contiguous bands; a band
    * signature is the md5 of its concatenated minhashes (the CASE
    * pivot keeps the concat order deterministic without an ordered
    * string_agg) — the values of [[MinHashLocal.bandSigs]]. Returns
    * the distinct `(i, j)` candidate pairs, as
    * [[candidatesFromBandSigs]] does over the engine's band signatures. */
  def lshCandidatesSql(sigsRel: String): String = {
    val rowsPerBand = NumHashes / Bands
    val slots = (0 until rowsPerBand)
      .map(i => s"min(CASE WHEN h % $rowsPerBand = $i THEN minhash END)")
      .mkString(" || ")
    s"""SELECT DISTINCT a.doc_id AS i, b.doc_id AS j FROM (
       |SELECT doc_id, CAST(floor(h / $rowsPerBand) AS BIGINT) AS band, md5($slots) AS sig
       |FROM $sigsRel GROUP BY doc_id, CAST(floor(h / $rowsPerBand) AS BIGINT)) a
       |JOIN (
       |SELECT doc_id, CAST(floor(h / $rowsPerBand) AS BIGINT) AS band, md5($slots) AS sig
       |FROM $sigsRel GROUP BY doc_id, CAST(floor(h / $rowsPerBand) AS BIGINT)) b
       |ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id""".stripMargin
  }

  /** Exact Jaccard of candidate pairs `(i, j)` over each doc's distinct
    * shingle keys `(doc_id, keys)` (the native `shingle_keys` column),
    * row by row: `inter = size(array_intersect(ka, kb))`, `na`, `nb` the
    * array sizes, all BIGINT, and their integer ratio as a double, so
    * the division is bit-identical across engines. Keys are 60-bit md5
    * prefixes: exact up to a ~2⁻⁶⁰ collision per pair, as in the oracle.
    * A pair sharing no key stays, with `inter = 0`. Candidates are few
    * (LSH-bounded), so both lookups broadcast the pair side. The counts
    * are declared nullable (a null text has null keys), though a
    * candidate's never are. */
  def verifyPairs(pairs: DataFrame, keyed: DataFrame): DataFrame = {
    val withA = broadcast(pairs)
      .join(keyed.select(col("doc_id").as("i"), col("keys").as("ka")), Seq("i"))
    broadcast(withA)
      .join(keyed.select(col("doc_id").as("j"), col("keys").as("kb")), Seq("j"))
      .select(col("i"), col("j"),
        size(array_intersect(col("ka"), col("kb"))).cast("long").as("inter"),
        size(col("ka")).cast("long").as("na"),
        size(col("kb")).cast("long").as("nb"))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("na") + col("nb") - col("inter")).cast("double"))
  }

  /** SimHash bit votes in long form `(doc_id, b, bit)` for b in
    * [0, 64): per token, bit b of its md5 is read from the hex digit
    * at position b/4; the token's tf votes +tf/−tf; the doc's bit is
    * 1 iff the vote sum is non-negative. Long form keeps the oracle
    * dialect-portable (no ordered string_agg / bigint assembly).
    *
    * Computed from raw token OCCURRENCES `(doc_id, tok)`: the vote sum
    * Σ_tok tf·(±1) equals Σ_occurrence (±1) exactly (integer sums), so
    * the (doc, tok) tf pre-aggregation — a full extra shuffle — is
    * dropped, and the 64 per-bit votes are 64 aggregation columns over
    * one hash aggregate keyed by doc_id instead of a 64×-row explode
    * shuffled on (doc_id, b). One digest per occurrence (`hex` is a
    * shared projected column; the 64 vote expressions reuse it via
    * codegen subexpression elimination), one exchange before the final
    * sort. */
  def simhashBits(toks: DataFrame): DataFrame = {
    // loud guard: every row is one vote, so the input must be exactly
    // the raw (doc_id, tok) OCCURRENCES. A (doc_id, tok, tf) relation
    // would vote once per distinct token instead of tf times — silently
    // wrong fingerprints — and any other extra column hints at the same
    // kind of mix-up. Fail fast instead.
    require(toks.columns.sorted.toSeq == Seq("doc_id", "tok"),
      "simhashBits expects exactly the columns (doc_id, tok), one row per " +
        s"token occurrence; got (${toks.columns.mkString(", ")})")
    val votes = (0 until 64).map { b =>
      val pos = b / 4 + 1
      val shift = 3 - b % 4
      sum(expr(
        s"CAST(shiftright(instr('0123456789abcdef', substr(hex, $pos, 1)) - 1, $shift) AS BIGINT) % 2 * 2 - 1"))
        .as(s"v$b")
    }
    toks.withColumn("hex", md5(col("tok").cast("binary")))
      .groupBy("doc_id")
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"),
        posexplode(array((0 until 64).map(b => col(s"v$b")): _*))
          .as(Seq("b", "vote")))
      .select(col("doc_id"), col("b").cast("long").as("b"),
        when(col("vote") >= 0, 1L).otherwise(0L).as("bit"))
  }

  def simhashBitsSql(tfRel: String): String =
    s"""SELECT doc_id, b,
       |CASE WHEN sum(tf * (CAST(floor((instr('0123456789abcdef', substr(md5(tok), CAST(floor(b / 4.0) AS INT) + 1, 1)) - 1) / power(2.0, 3 - (b % 4))) AS BIGINT) % 2 * 2 - 1)) >= 0 THEN 1 ELSE 0 END AS bit
       |FROM $tfRel, range(64) t(b)
       |GROUP BY doc_id, b""".stripMargin
}
