package graft.functions

import graft.engine.Stemmer
import org.apache.spark.sql.Column
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** Porter-stemming of a whitespace-separated string as a native
  * codegen'd column — the codegen upgrade path for the stemmer UDF
  * (SURVEY.md §2.11, §7.3).
  *
  * Unlike the `udf()` wrapper, this generates a single static call
  * inside whole-stage codegen: no Scala-function SerDe, no
  * null-boxing, and the call participates in constant folding when the
  * input is a literal. The stemming itself (`graft.engine.Stemmer`) is
  * shared with the UDF path.
  */
object StemText {

  def stemText(text: UTF8String): UTF8String =
    UTF8String.fromString(Stemmer.stemText(text.toString))

  /** Column API: `graft_stem($"text")`. */
  def graft_stem(c: Column): Column =
    staticCall(this, StringType, "stemText", Seq(c))
}
