package graft.plans

import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData

/** All LSH sign-bucket ids of a quantized vector, over every hyperplane
  * table, in ONE pass: `lsh_buckets(vec, planes, nPlanes)` where `planes`
  * is the flat concatenation of nTables x nPlanes plane vectors (each of
  * the vector's dimension) and the result is `array<long>` with one bucket
  * id per table — bit m of table t's bucket is set iff
  * dot(vec, plane[t][m]) > 0. `nPlanes` is a checked literal in [1, 63].
  *
  * Why native: the higher-order-function form
  * (`transform(planesByTable, tp => aggregate(tp, 0L, ...))`) evaluates its
  * lambdas INTERPRETED, per row x table x plane — measured 2.2x wall-clock
  * regression on the s2_knn_lsh index build at sf0.1, the same trap
  * DotProductLong documents (~50x on raw dots). This is one tight
  * primitive loop over the broadcast-literal plane array: no allocation per
  * plane, no virtual dispatch. The plane array is a single complex-typed
  * literal, which codegen loads as one reference object, so the generated
  * method stays constant-size regardless of nTables x nPlanes x dim.
  */
object LshBucketsLong {

  // A plane-table length that doesn't tile (nPlanes x dim) must surface as
  // an error, not silently mis-bucket — same fail-loud stance as
  // DotProductLong.
  def buckets(v: ArrayData, p: ArrayData, np: Int): ArrayData = {
    val dim = v.numElements()
    val block = np * dim
    if (dim == 0 || p.numElements() % block != 0)
      throw new IllegalArgumentException(
        s"${GraftFunctions.LshBucketsName}: planes length ${p.numElements()} " +
          s"does not tile nPlanes=$np x dim=$dim")
    val nTables = p.numElements() / block
    val out = new Array[Long](nTables)
    var t = 0
    var off = 0
    while (t < nTables) {
      var bucket = 0L
      var m = 0
      while (m < np) {
        var acc = 0L
        var j = 0
        while (j < dim) { acc += v.getLong(j) * p.getLong(off + j); j += 1 }
        if (acc > 0) bucket |= (1L << m)
        off += dim
        m += 1
      }
      out(t) = bucket
      t += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}
