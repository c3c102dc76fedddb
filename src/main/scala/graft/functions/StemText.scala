package graft.functions

import graft.engine.Stemmer
import org.apache.spark.sql.Column
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** Porter-stemming of a whitespace-separated string as a native
  * codegen'd column (SURVEY.md §2.11, §7.3) — the engine's only entry
  * to [[graft.engine.Stemmer]].
  *
  * A `StaticInvoke` of [[stemText]]: a single static call inside
  * whole-stage codegen, with no Scala-function SerDe and no
  * null-boxing, and the call participates in constant folding when the
  * input is a literal.
  */
object StemText {

  def stemText(text: UTF8String): UTF8String =
    UTF8String.fromString(Stemmer.stemText(text.toString))

  /** Column API: `graft_stem($"text")`. */
  def graft_stem(c: Column): Column =
    staticCall(this, StringType, "stemText", Seq(c))
}
