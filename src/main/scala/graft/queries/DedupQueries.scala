package graft.queries

import graft.dedup.DedupOps
import graft.engine.{Q, SimilarityOps, Tables, TextOps}
import graft.functions.MinHashExprs
import org.apache.spark.sql.functions._

/** Deduplication suite over `documents` — exact, MinHash, LSH-banded
  * near-dup, SimHash, and n-gram Jaccard (north-star training-data
  * operators; see [[graft.dedup.DedupOps]] for the scale rationale).
  */
object DedupQueries {

  /** Exact dedup by normalized-text fingerprint: keep-first (min
    * doc_id) per md5 group — the content-hash generalization of the
    * reference's whole-row `drop_duplicates`
    * (`/root/reference/amazon1.py:119-122`). */
  val q20 = Q("q20_dedup_exact",
    s"""SELECT md5(${TextOps.normalizeSql("text")}) AS fp,
      |min(doc_id) AS keep_id, count(*) AS n_docs
      |FROM documents GROUP BY fp ORDER BY fp""".stripMargin) { (s, dir) =>
    Tables(s, dir, "documents")
      .select(md5(TextOps.normalize(col("text")).cast("binary")).as("fp"),
        col("doc_id"))
      .groupBy("fp")
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_docs"))
      .orderBy("fp")
  }

  /** MinHash signatures (16 seeds) over word-3-gram shingles. The
    * Spark side signs row-locally via the native `minhash_sigs`
    * column (zero shuffles before the ORDER BY); the oracle keeps
    * the relational CTE form — identical md5 scheme, identical
    * output. */
  val q21 = Q("q21_minhash",
    s"""WITH sh AS (${DedupOps.shinglesSql("documents")})
      |${DedupOps.minhashSignaturesSql("sh")}
      |ORDER BY doc_id, h""".stripMargin) { (s, dir) =>
    // spread first: the corpus is one small parquet row group (one
    // non-empty input split), and signing is the CPU cost
    Tables.spread(Tables(s, dir, "documents").select("doc_id", "text"))
      .select(col("doc_id"),
        posexplode(MinHashExprs.minhash_sigs(col("text")))
          .as(Seq("h", "minhash")))
      .select(col("doc_id"), col("h").cast("long").as("h"), col("minhash"))
      .orderBy("doc_id", "h")
  }

  /** LSH-banded near-dup detection over the augmented corpus:
    * candidates from 4-band bucket collisions, then exact-Jaccard
    * verification of candidates only, threshold 0.5. The scale path —
    * cost is bounded by bucket collisions, never all-pairs.
    *
    * One map-side pass per doc computes its band signatures and its
    * distinct shingle keys (both from [[graft.dedup.MinHashLocal]]'s one
    * shingler) and persists them once; that relation feeds the bucket
    * self-join and the row-by-row verification of every candidate. The
    * trade-off: the cache holds every doc's keys (about 8 bytes per
    * shingle), where keying only the candidates would cache less, but
    * would re-read and re-tokenize the candidate docs in a second pass
    * over the corpus. */
  val q22 = Q("q22_lsh_neardup",
    s"""WITH docs AS (${DedupOps.augmentedSql}),
      |sh AS (${DedupOps.shinglesSql("docs")}),
      |sigs AS (${DedupOps.minhashSignaturesSql("sh")}),
      |cand AS (${DedupOps.lshCandidatesSql("sigs")}),
      |shk AS (${DedupOps.shingleKeysSql("sh")}),
      |cnt AS (SELECT doc_id, count(*) AS n FROM shk GROUP BY doc_id),
      |inter AS (
      |SELECT c.i, c.j, count(*) AS inter FROM cand c
      |JOIN shk sa ON sa.doc_id = c.i JOIN shk sb ON sb.doc_id = c.j AND sb.sk = sa.sk
      |GROUP BY c.i, c.j)
      |SELECT i, j, inter, na.n AS na, nb.n AS nb,
      |CAST(inter AS DOUBLE) / CAST(na.n + nb.n - inter AS DOUBLE) AS jaccard
      |FROM inter JOIN cnt na ON na.doc_id = i JOIN cnt nb ON nb.doc_id = j
      |WHERE CAST(inter AS DOUBLE) / CAST(na.n + nb.n - inter AS DOUBLE) >= 0.5
      |ORDER BY i, j""".stripMargin) { (s, dir) =>
    val docs = Tables.spread(DedupOps.augmented(Tables(s, dir, "documents")))
      .select(col("doc_id"),
        MinHashExprs.band_sigs(col("text")).as("sigs"),
        MinHashExprs.shingle_keys(col("text")).as("keys"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // repartition by the join key BEFORE persisting: the cached
    // partitioning serves both sides of the (band, sig) self-join, so
    // the join itself is exchange-free (AQE does not reuse one exchange
    // above a cache for both sides; the signatures would shuffle twice)
    val bandSigs = docs
      .select(col("doc_id"), posexplode(col("sigs")).as(Seq("band", "sig")))
      .select(col("doc_id"), col("band").cast("long").as("band"), col("sig"))
      .repartition(col("band"), col("sig"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // a candidate always has shingles (only shingled docs get band
    // signatures), and a pair with inter = 0 fails the threshold, so
    // row-by-row verification gives the oracle's inner-join rows
    DedupOps.verifyPairs(DedupOps.candidatesFromBandSigs(bandSigs), docs)
      .filter(col("jaccard") >= 0.5)
      .orderBy("i", "j")
  }

  /** SimHash 64-bit signatures in long form `(doc_id, b, bit)`. */
  val q23 = Q("q23_simhash",
    s"""WITH tf AS (${SimilarityOps.termFreqSql(dropStopwords = false)})
      |${DedupOps.simhashBitsSql("tf")}
      |ORDER BY doc_id, b""".stripMargin) { (s, dir) =>
    // token OCCURRENCES, not the tf relation: Σ tf·(±1) ≡ Σ_occ (±1)
    // exactly, so the (doc, tok) pre-aggregation shuffle is dropped
    // (see DedupOps.simhashBits). r22: the spread is KEYED by doc_id —
    // same bytes as the r21 round-robin spread, but the exchange now
    // also satisfies the per-doc vote aggregation's clustering, so the
    // 64-sum hash aggregate runs with no exchange of its own
    val toks = Tables.spread(
        Tables(s, dir, "documents").select("doc_id", "text"), col("doc_id"))
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tok"))
    DedupOps.simhashBits(toks).orderBy("doc_id", "b")
  }

  /** Exact n-gram Jaccard near-dup over the augmented corpus via the
    * shingle inverted index (ground truth for q22's LSH path);
    * threshold 0.2. */
  val q24 = Q("q24_ngram_jaccard",
    s"""WITH docs AS (${DedupOps.augmentedSql}),
      |sh AS (${DedupOps.shinglesSql("docs")}),
      |shk AS (${DedupOps.shingleKeysSql("sh")}),
      |cnt AS (SELECT doc_id, count(*) AS n FROM shk GROUP BY doc_id),
      |inter AS (
      |SELECT sa.doc_id AS i, sb.doc_id AS j, count(*) AS inter
      |FROM shk sa JOIN shk sb ON sb.sk = sa.sk AND sa.doc_id < sb.doc_id
      |GROUP BY sa.doc_id, sb.doc_id)
      |SELECT i, j, inter, na.n AS na, nb.n AS nb,
      |CAST(inter AS DOUBLE) / CAST(na.n + nb.n - inter AS DOUBLE) AS jaccard
      |FROM inter JOIN cnt na ON na.doc_id = i JOIN cnt nb ON nb.doc_id = j
      |WHERE CAST(inter AS DOUBLE) / CAST(na.n + nb.n - inter AS DOUBLE) >= 0.2
      |ORDER BY i, j""".stripMargin) { (s, dir) =>
    // the inverted index is keyed by 60-bit md5-prefix longs, not
    // shingle strings: identical equality classes (DedupOps.shingleKeysSql)
    // and ~3× less shuffle/allocation in the df²-heavy self-join — the
    // exact stretch that regressed under allocation pressure in r2
    // ONE exchange establishes the sk partitioning that the distinct
    // AND both sides of the inverted-index self-join then reuse
    // (HashPartitioning(sk) satisfies the (doc_id, sk) aggregation and
    // the sk equi-join): 3 full-data exchanges → 1
    val sh = Tables.spread(DedupOps.augmented(Tables(s, dir, "documents")))
      .select(col("doc_id"),
        explode(MinHashExprs.shingle_keys(col("text"))).as("sk"))
      .repartition(col("sk"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // intersection counted directly inside the inverted-index self-join
    // (one shuffle on sk, one on the pair key) — never re-join the
    // full pair set against the shingle table, and never broadcast it:
    // co-shingle pairs scale with sum(df^2), not with the candidates
    val a = sh.select(col("doc_id").as("i"), col("sk"))
    val b = sh.select(col("doc_id").as("j"), col("sk"))
    val inter = a.join(b, Seq("sk")).filter(col("i") < col("j"))
      .groupBy("i", "j").agg(count(lit(1)).as("inter"))
    val counts = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    inter
      .join(counts.select(col("doc_id").as("i"), col("n").as("na")), Seq("i"))
      .join(counts.select(col("doc_id").as("j"), col("n").as("nb")), Seq("j"))
      .select(col("i"), col("j"), col("inter"), col("na"), col("nb"),
        (col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= 0.2)
      .orderBy("i", "j")
  }

  def all: Seq[Q] = Seq(q20, q21, q22, q23, q24)
}
