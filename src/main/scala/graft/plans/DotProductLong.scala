package graft.plans

import org.apache.spark.sql.catalyst.util.ArrayData

/** Exact integer dot product of two `array<long>` columns — the kernel
  * behind graft_dot_long.
  *
  * Why not `aggregate(zip_with(a, b, _*_), 0L, _+_)`: Spark's higher-order
  * functions evaluate their lambdas interpreted and `zip_with` materializes
  * an intermediate array per row — measured ~50x slower on the pairwise
  * similarity path (2M pairs x 64 dims at sf0.1). This is a tight primitive
  * loop over `ArrayData.getLong`, no allocation, called from whole-stage
  * codegen, which is what the 100 TB path needs.
  */
object DotProductLong {

  // Mismatched lengths throw: a dimension bug must surface as an error, not
  // a plausible-but-wrong truncated dot product — DuckDB's list_dot_product
  // errors on mismatch too, so silently truncating would also let engine
  // and oracle diverge on malformed data.
  def dot(x: ArrayData, y: ArrayData): Long = {
    val n = x.numElements()
    if (n != y.numElements())
      throw new IllegalArgumentException(
        s"${GraftFunctions.DotLongName}: array length mismatch ($n vs ${y.numElements()})")
    var acc = 0L
    var i = 0
    while (i < n) { acc += x.getLong(i) * y.getLong(i); i += 1 }
    acc
  }
}
