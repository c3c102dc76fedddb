package graft.functions

import java.math.RoundingMode

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.{ArrayType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native whole-stage-codegen columns for the array-form ANN
  * operators (see [[graft.ann.EmbeddingOps]]).
  *
  * Why these exist (r22, guide "per-task work"): the r21 array form
  * used Catalyst higher-order functions (`aggregate(zip_with(...))`,
  * `transform(...)`) for the per-row integer folds. HOFs are
  * CodegenFallback — every call is interpreted, allocates a lambda
  * frame per element, and breaks the surrounding WholeStageCodegen
  * span. The spelled-out 64-term `getItem` trees (r21's other attempt)
  * blew the 64 KB codegen method limit. A `StaticInvoke` of ONE
  * static helper per row ([[staticCall]]) keeps the stage fully
  * codegen'd with a flat primitive loop inside — the same pattern as
  * [[MinHashExprs]].
  *
  * Result identity: every helper reproduces the HOF / long-form
  * semantics exactly — integer sums in index order, Spark `round`
  * HALF_UP rounding, null/length-mismatch propagation — proven
  * per-row against the old forms in OpsSpec and by the unchanged
  * oracle hashes of q25/q26/q41/q46.
  */
object VecExprs {

  /** Exact integer dot product of two long arrays. Mirrors
    * `aggregate(zip_with(a, b, (x, y) => x * y), 0L, (acc, v) => acc + v)`:
    * null if the lengths differ (zip_with pads with null) or any
    * element is null (null propagates through the sum). */
  def dotBoxed(a: ArrayData, b: ArrayData): java.lang.Long = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var s = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      // exact ops: the sessions run ANSI mode (Spark 4 default), where
      // the old SQL fold threw on long overflow — multiplyExact/addExact
      // are JIT intrinsics (free when not overflowing) with the same
      // fail-loudly behavior
      s = Math.addExact(s, Math.multiplyExact(a.getLong(i), b.getLong(i)))
      i += 1
    }
    java.lang.Long.valueOf(s)
  }

  /** Elementwise `CAST(round(CAST(x AS DOUBLE) * scale) AS BIGINT)`
    * over a float array — bit-identical to the Spark expression chain:
    * `Round(_, 0)` on doubles is BigDecimal.valueOf + HALF_UP, and the
    * long cast truncates the (already integral) double. Nulls are
    * preserved per element. */
  def quantize(a: ArrayData, scale: Double): ArrayData = {
    val n = a.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i)) {
        val d = a.getFloat(i).toDouble * scale
        // non-finite values fail loudly, like the old expression chain
        // did under ANSI mode (Spark 4 default): Round passes NaN/Inf
        // through and the ANSI long cast throws CAST_OVERFLOW
        if (java.lang.Double.isNaN(d) || java.lang.Double.isInfinite(d))
          throw new ArithmeticException(
            s"graft_quantize_vec: non-finite value $d cannot be cast to BIGINT")
        val rounded = java.math.BigDecimal.valueOf(d)
          .setScale(0, RoundingMode.HALF_UP).doubleValue()
        // finite but beyond long range also threw under the old ANSI
        // cast — don't let Double.toLong silently saturate
        if (rounded < -9.223372036854776e18 || rounded >= 9.223372036854776e18)
          throw new ArithmeticException(
            s"graft_quantize_vec: $rounded overflows BIGINT")
        out(i) = java.lang.Long.valueOf(rounded.toLong)
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Per-planesPerTable weight matrix `[4 * ppt][Dims]`, derived from
    * the same md5 scheme as the oracle's planes table
    * ([[graft.ann.EmbeddingOps.planeWeight]]) and cached per ppt. */
  private val weightCache =
    new java.util.concurrent.ConcurrentHashMap[Int, Array[Array[Long]]]()
  private def weightsFor(ppt: Int): Array[Array[Long]] =
    weightCache.computeIfAbsent(ppt, { ppt: Int =>
      Array.tabulate(4 * ppt, graft.ann.EmbeddingOps.Dims) { (p, d) =>
        graft.ann.EmbeddingOps.planeWeight(p, d).toLong
      }
    })

  /** Sign-LSH bucket strings for one quantized vector: element t of
    * the result is hash table t's bucket — one char per plane
    * ('1' iff the exact integer projection Σ_d wt(p,d)·qv[d] ≥ 0).
    * Row-local replacement for the long-form
    * join-planes → sum → pivot pipeline: same projections (integer
    * sums are order-free), same SQL-sum null semantics (null elements
    * are skipped; an all-null vector projects to null → bit '0'), and
    * an EMPTY array returns null so the caller's posexplode emits no
    * bucket rows — exactly like the long form, where an empty
    * posexplode produced no projection rows at all. */
  def bucketStrs(qv: ArrayData, ppt: Int): ArrayData = {
    val n = qv.numElements()
    if (n == 0) return null
    val w = weightsFor(ppt)
    val dims = math.min(n, graft.ann.EmbeddingOps.Dims)
    val out = new Array[Any](4)
    val chars = new Array[Char](ppt)
    var t = 0
    while (t < 4) {
      var s = 0
      while (s < ppt) {
        val wp = w(t * ppt + s)
        var proj = 0L
        var anyNonNull = false
        var d = 0
        while (d < dims) {
          if (!qv.isNullAt(d)) {
            // exact ops: fail-loudly overflow parity with the old ANSI
            // SQL sum(wt * q) (intrinsics — free when not overflowing)
            proj = Math.addExact(proj,
              Math.multiplyExact(wp(d), qv.getLong(d)))
            anyNonNull = true
          }
          d += 1
        }
        chars(s) = if (anyNonNull && proj >= 0) '1' else '0'
        s += 1
      }
      out(t) = UTF8String.fromString(new String(chars))
      t += 1
    }
    new GenericArrayData(out)
  }

  /** `dot_q(a, b)` → exact integer dot product (nullable long). */
  def dot_q(a: Column, b: Column): Column =
    staticCall(this, LongType, "dotBoxed", Seq(a, b), returnNullable = true)

  /** `quantize_vec(embedding, scale)` → array<long>. */
  def quantize_vec(c: Column, scale: Double): Column =
    staticCall(this, ArrayType(LongType), "quantize", Seq(c, lit(scale)))

  /** `bucket_strs(qv, ppt)` → array<string> of the 4 table buckets
    * (null for empty input arrays — no bucket rows after posexplode). */
  def bucket_strs(c: Column, planesPerTable: Int): Column =
    staticCall(this, ArrayType(StringType, containsNull = false),
      "bucketStrs", Seq(c, lit(planesPerTable)), returnNullable = true)
}
