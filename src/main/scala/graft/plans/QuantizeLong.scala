package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.lit

/** Exact integer quantization of a float/double vector in ONE pass —
  * `Similarity.quantize`: element → CAST(ROUND(x * scale, 0) AS BIGINT),
  * with Spark's ROUND semantics replicated digit-for-digit
  * (`BigDecimal.valueOf(double).setScale(0, HALF_UP)` — decimal-string
  * HALF_UP, ties away from zero, NOT Math.round's toward-positive bias).
  *
  * Why native (round 19): quantize was `transform(v, x => round(...))` —
  * an interpreted lambda + boxed Round eval per ELEMENT, and it runs
  * inside `Similarity.prepared`, i.e. over every vector of the corpus on
  * every similarity/ANN/bitext query (the profiler's residual
  * GenericArrayData frames on the serve paths). Null elements pass
  * through as nulls, exactly like the transform.
  */
object QuantizeLong {
  val Name = "graft_quantize"

  /** The per-row kernel behind graft_quantize
    * (scale is a checked literal >= 1; `isFloat` is the element type). */
  def compute(vec: ArrayData, scale: Int, isFloat: Boolean): GenericArrayData = {
    val n = vec.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      if (!vec.isNullAt(i)) {
        val x = if (isFloat) vec.getFloat(i).toDouble else vec.getDouble(i)
        out(i) = java.lang.Long.valueOf(
          java.math.BigDecimal.valueOf(x * scale)
            .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue().toLong)
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** round(x * scale) per element as bigint, Spark ROUND semantics. */
  def quantize(vec: Column, scale: Int): Column =
    GraftFunctions.call(Name, vec, lit(scale))
}
