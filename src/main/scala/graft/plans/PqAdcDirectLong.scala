package graft.plans

import org.apache.spark.sql.catalyst.util.ArrayData

/** PQ asymmetric distance DIRECTLY from (query vector, candidate codes,
  * codebook): `sum_mm sum_j (qv[mm*sub + j] - cb[mm][codes[mm]][j])^2` —
  * the kernel behind graft_pq_adc_direct.
  *
  * This is the self-search scoring kernel: every corpus row is a query, so
  * the probe side ships its dim-long vector through the per-cell shuffle
  * (not an m x k LUT — see Similarity.pqLut for the exchange-bytes math)
  * and each (query, candidate) pair reconstructs the candidate's subvectors
  * from the BROADCAST codebook. The higher-order form
  * `aggregate(zip_with(codes, seq, (c, mm) => subD2(slice(qv, ...),
  * cb[mm][c])))` evaluates its lambdas interpreted and allocates an
  * intermediate slice + array per pair; at m=16/k=256 over ~1M probe pairs
  * that interpreted traversal was 30x the whole-plan budget (round-10 bench:
  * s9 118.8 s vs 3.7 s baseline). This kernel is m x sub primitive loads,
  * subtracts, and multiply-adds in one loop — identical exact integers
  * (subD2's dot identity a.a + b.b - 2a.b IS sum (a-b)^2), so every oracle
  * hash-matches unchanged.
  *
  * Malformed inputs throw (the DotProductLong discipline): a dimension
  * mismatch, out-of-range code, or null slot must surface as an error, not
  * a plausible-but-wrong distance.
  */
object PqAdcDirectLong {
  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(s"${GraftFunctions.PqAdcDirectName}: $msg")

  def adc(qv: ArrayData, codes: ArrayData, cb: ArrayData): Long = {
    val m = codes.numElements()
    val dim = qv.numElements()
    if (m != cb.numElements() || m == 0 || dim % m != 0)
      fail(s"shape mismatch (dim=$dim, $m codes, ${cb.numElements()} codebook subspaces)")
    val sub = dim / m
    var acc = 0L
    var mm = 0
    while (mm < m) {
      if (codes.isNullAt(mm) || cb.isNullAt(mm))
        fail(s"null ${if (codes.isNullAt(mm)) "code" else "codebook row"} in subspace $mm")
      val book = cb.getArray(mm)
      val code = codes.getLong(mm)
      if (code < 0 || code >= book.numElements())
        fail(s"code $code out of range [0, ${book.numElements()}) in subspace $mm")
      if (book.isNullAt(code.toInt))
        fail(s"null codebook entry $code in subspace $mm")
      val cv = book.getArray(code.toInt)
      if (cv.numElements() != sub)
        fail(s"codebook subvector length ${cv.numElements()} != $sub in subspace $mm")
      var j = 0
      val base = mm * sub
      while (j < sub) {
        val d = qv.getLong(base + j) - cv.getLong(j)
        acc += d * d
        j += 1
      }
      mm += 1
    }
    acc
  }
}
