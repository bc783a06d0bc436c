package graft.plans

import org.apache.spark.sql.catalyst.util.ArrayData

/** PQ asymmetric-distance lookup: `sum_m lut[m][codes[m]]` over a
  * candidate's code array and a query's per-subspace distance table — the
  * kernel behind graft_pq_adc.
  *
  * This is the innermost loop of PQ-ADC search — it runs once per
  * (query, candidate) pair, i.e. O(|queries| x corpus) times. The
  * higher-order form `aggregate(zip_with(codes, lut, (c, row) => get(row,
  * c)), 0L, _+_)` evaluates its lambdas interpreted and materializes an
  * intermediate array per pair (the same trap DotProductLong documents);
  * this is m primitive loads and adds with no allocation.
  *
  * Out-of-range codes throw: a corrupted code must surface as an error,
  * not a plausible-but-wrong distance.
  */
object PqAdcLong {
  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(s"${GraftFunctions.PqAdcName}: $msg")

  def adc(codes: ArrayData, lut: ArrayData): Long = {
    val m = codes.numElements()
    if (m != lut.numElements())
      fail(s"subspace count mismatch ($m codes vs ${lut.numElements()} LUT rows)")
    var acc = 0L
    var i = 0
    while (i < m) {
      // upstream plans type these arrays containsNull=true (transform /
      // array_min slots), so nulls can't be rejected at type-check — an
      // ACTUAL null must still fail loud, not read a stale primitive slot
      // (codes) or NPE opaquely (LUT row)
      if (codes.isNullAt(i) || lut.isNullAt(i))
        fail(s"null ${if (codes.isNullAt(i)) "code" else "LUT row"} in subspace $i")
      val row = lut.getArray(i)
      val c = codes.getLong(i)
      if (c < 0 || c >= row.numElements())
        fail(s"code $c out of range [0, ${row.numElements()}) in subspace $i")
      acc += row.getLong(c.toInt)
      i += 1
    }
    acc
  }
}
