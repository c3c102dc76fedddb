package graft.functions

import graft.dedup.MinHashLocal
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native columns for row-local MinHash signing (see
  * [[graft.dedup.MinHashLocal]]): the whole shingle→minhash→band
  * pipeline, and the shingle keys that Jaccard counts, become one
  * map-side static call per document — no explode, no per-doc window,
  * no signature groupBy. The dedup queries shuffle only at the bucket
  * and inverted-index joins. */
object MinHashExprs {

  private def toArrayData(xs: Array[String]): ArrayData =
    new GenericArrayData(xs.map(UTF8String.fromString(_)).toArray[Any])

  def minhashes(text: UTF8String): ArrayData =
    toArrayData(MinHashLocal.minhashes(text.toString))

  def bandSigs(text: UTF8String): ArrayData =
    toArrayData(MinHashLocal.bandSigs(text.toString))

  def shingleKeys(text: UTF8String): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(MinHashLocal.shingleKeys(text.toString))

  /** `minhash_sigs(text)` → array of the 16 minhashes (seed order). */
  def minhash_sigs(c: Column): Column =
    staticCall(this, ArrayType(StringType), "minhashes", Seq(c))

  /** `shingle_keys(text)` → the doc's distinct 60-bit shingle keys
    * (see [[graft.dedup.MinHashLocal.shingleKeys]]): per shingle, the
    * native form of `conv(substr(md5(shingle), 1, 15), 16, 10) :: long`,
    * one digest call with no hex-string round-trip. */
  def shingle_keys(c: Column): Column =
    staticCall(this, ArrayType(LongType, containsNull = false), "shingleKeys", Seq(c))

  /** `band_sigs(text)` → array of the 4 LSH band signatures. */
  def band_sigs(c: Column): Column =
    staticCall(this, ArrayType(StringType), "bandSigs", Seq(c))
}
