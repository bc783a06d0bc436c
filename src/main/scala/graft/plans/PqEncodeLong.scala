package graft.plans

import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData

/** PQ encode: per subspace the argmin-squared-L2 codebook entry (ties ->
  * lowest code), `codes[mm] = argmin_k sum_j (vec[mm*sub+j] - cb[mm][k][j])^2`,
  * returning `array<bigint>` of length m — the kernel behind
  * graft_pq_encode.
  *
  * Encoding runs once per corpus row but scans the whole codebook per row:
  * N x m x k subvector distances (8.2M at N=2000, m=16, k=256). The
  * higher-order form — `transform(sequence(0, m-1), mm => array_min(
  * transform(cb[mm], (c, kk) => struct(subD2(slice(vec, ...), c), kk)))("k")`
  * — pays an interpreted lambda dispatch, a slice allocation, and a struct
  * allocation per (row, subspace, entry); this kernel is a tight triple
  * loop of primitive loads and multiply-adds. Identical exact integers and
  * the same lowest-code tie break (strict less-than while scanning k
  * ascending), so every oracle hash-matches unchanged.
  *
  * Malformed inputs throw (the DotProductLong discipline): dimension
  * mismatches and null slots surface as errors, not plausible-but-wrong
  * codes.
  */
object PqEncodeLong {
  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(s"${GraftFunctions.PqEncodeName}: $msg")

  def encode(vec: ArrayData, cb: ArrayData): ArrayData = {
    val m = cb.numElements()
    val dim = vec.numElements()
    if (m == 0 || dim % m != 0)
      fail(s"shape mismatch (dim=$dim, $m codebook subspaces)")
    val sub = dim / m
    val codes = new Array[Long](m)
    var mm = 0
    while (mm < m) {
      if (cb.isNullAt(mm)) fail(s"null codebook row in subspace $mm")
      val book = cb.getArray(mm)
      val k = book.numElements()
      if (k == 0) fail(s"empty codebook in subspace $mm")
      val base = mm * sub
      var best = 0L
      var bestD2 = Long.MaxValue
      var kk = 0
      while (kk < k) {
        if (book.isNullAt(kk))
          fail(s"null codebook entry $kk in subspace $mm")
        val cv = book.getArray(kk)
        if (cv.numElements() != sub)
          fail(s"codebook subvector length ${cv.numElements()} != $sub in subspace $mm")
        var d2 = 0L
        var j = 0
        while (j < sub) {
          val d = vec.getLong(base + j) - cv.getLong(j)
          d2 += d * d
          j += 1
        }
        if (d2 < bestD2) { bestD2 = d2; best = kk.toLong }
        kk += 1
      }
      codes(mm) = best
      mm += 1
    }
    UnsafeArrayData.fromPrimitiveArray(codes)
  }
}
