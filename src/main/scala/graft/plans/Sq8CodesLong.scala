package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData

/** SQ8 scalar-quantization codes in ONE pass — `Similarity.sq8Codes`:
  *
  *   code_i = CAST(coalesce(ROUND((x_i - lo_i) * 255 / nullif(hi_i - lo_i,
  *            0), 0), 0.0) AS BIGINT)
  *
  * with Spark's ROUND replicated digit-for-digit (the [[QuantizeLong]]
  * discipline: `BigDecimal.valueOf(double).setScale(0, HALF_UP)` — ties
  * away from zero). A constant dimension (hi == lo → division NULL) and a
  * NULL element both collapse to code 0, exactly like the coalesce in the
  * transform this replaces. A NULL `vec`, `lo` or `hi` ARRAY returns NULL:
  * the call is null-propagating, so the kernel never sees it.
  *
  * Why native (round 19): the Column form was an interpreted
  * `transform(vec, (x, i) => ...)` lambda with TWO boxed `element_at`
  * codebook lookups per element, and it runs over every candidate vector
  * of the corpus in the SQ8 encode pass (s7's scan stage) — the same
  * per-element interpreted ROUND cost [[QuantizeLong]] removed from
  * `prepared()`.
  */
object Sq8CodesLong {
  val Name = "graft_sq8_codes"

  /** The per-row kernel behind graft_sq8_codes
    * (`isFloat` is the element type of `vec`).
    * A vector longer than the codebook arrays fails loud — exactly the
    * ANSI element_at(lo, i + 1) INVALID_ARRAY_INDEX abort of the transform
    * form; NULL codebook entries (degenerate all-NULL training input)
    * collapse to code 0 via the coalesce, also as before.
    */
  def compute(vec: ArrayData, lo: ArrayData, hi: ArrayData,
              isFloat: Boolean): ArrayData = {
    val n = vec.numElements()
    val nLo = lo.numElements()
    val nHi = hi.numElements()
    if (n > nLo || n > nHi)
      throw new ArrayIndexOutOfBoundsException(
        s"$Name: vector has $n elements but codebook has " +
          s"lo=$nLo, hi=$nHi (ANSI element_at would abort here)")
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      var code = 0L
      if (!vec.isNullAt(i) && !lo.isNullAt(i) && !hi.isNullAt(i)) {
        val x = if (isFloat) vec.getFloat(i).toDouble else vec.getDouble(i)
        val l = lo.getDouble(i)
        val d = hi.getDouble(i) - l
        if (d != 0.0) {
          val scaled = (x - l) * 255.0 / d
          // fail-loud parity with the transform form: a NaN/Infinite
          // element or a code outside long range aborted there under the
          // ANSI cast (round passes non-finite through; CAST_OVERFLOW) —
          // never silently saturate (review r19)
          if (java.lang.Double.isNaN(scaled) ||
              java.lang.Double.isInfinite(scaled))
            throw new ArithmeticException(
              s"$Name: non-finite code at element $i (x=$x, lo=$l, hi=${l + d})")
          val rounded = java.math.BigDecimal.valueOf(scaled)
            .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue()
          if (rounded < -9.223372036854776E18 || rounded >= 9.223372036854776E18)
            throw new ArithmeticException(
              s"$Name: code overflows BIGINT at element $i (rounded=$rounded)")
          code = rounded.toLong
        }
      }
      out(i) = code
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** SQ8 codes of `vec` against per-dimension [lo, hi] codebook arrays. */
  def sq8Codes(vec: Column, lo: Column, hi: Column): Column =
    GraftFunctions.call(Name, vec, lo, hi)
}
