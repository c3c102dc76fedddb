package graft

import graft.engine.TextOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** A relational reference for the engine's one shingler
  * (`MinHashLocal.shingles`), built on Spark's tokenizer
  * (`TextOps.tokens`): three staggered `slice`s of the token array
  * zipped elementwise give the word 3-grams. Test-only — the engine
  * shingles row-locally; this is the independent form the specs compare
  * it with. */
object ReferenceShingles {

  /** Distinct word 3-gram shingles of `docs(doc_id, text)`, as
    * `(doc_id, shingle)`; none for null docs or docs under 3 tokens. */
  def trigrams(docs: DataFrame): DataFrame = {
    val n3 = greatest(size(col("toks")) - 2, lit(0))
    docs.select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .select(col("doc_id"), explode(arrays_zip(
        slice(col("toks"), lit(1), n3).as("t0"),
        slice(col("toks"), lit(2), n3).as("t1"),
        slice(col("toks"), lit(3), n3).as("t2"))).as("g"))
      .select(col("doc_id"),
        concat_ws(" ", col("g.t0"), col("g.t1"), col("g.t2")).as("shingle"))
      .distinct()
  }

  /** The 60-bit shingle key in Spark builtins:
    * `conv(substr(md5(shingle), 1, 15), 16, 10)` as BIGINT. */
  def key(shingle: Column): Column =
    conv(substring(md5(shingle.cast("binary")), 1, 15), 16, 10).cast("long")
}
