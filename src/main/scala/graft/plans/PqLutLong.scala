package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** The per-query PQ ADC lookup table as ONE native expression —
  * `Similarity.pqLut`: lut[mm][kk] = exact integer squared L2 between the
  * query's mm-th subvector and codebook entry cb[mm][kk], via the dot
  * identity a·a + b·b − 2a·b. Returns array<array<long>> (m × k).
  *
  * Why native (round 19): the Column form was a NESTED
  * transform(sequence, mm => transform(cb[mm], cc => subD2(slice(...))))
  * — both lambdas interpreted, a fresh slice array per (query, subspace),
  * and three kernel dots dispatched through interpreted glue per entry;
  * it runs on every serve-path query row (searchIvfPq, pqTopKWith, the
  * filtered serve). Here the whole m × k table builds in one codegen'd
  * pass; the query's per-subspace self-dot is computed once per subspace,
  * not once per entry.
  *
  * Exactness: identical integer arithmetic; a codebook entry whose length
  * differs from the query's subvector slice throws the [[DotProductLong]]
  * mismatch error exactly as the composed form did (slice truncation at
  * the vector end included).
  */
object PqLutLong {
  val Name = "graft_pq_lut"

  val OutType: DataType =
    ArrayType(ArrayType(LongType, containsNull = false), containsNull = false)

  /** Plan-time guard on the literal (dim, m) pair: m must divide dim. */
  def checkShape(children: Seq[Expression]): Seq[Any] = {
    val dim = children(2).eval().asInstanceOf[Int]
    val m = children(3).eval().asInstanceOf[Int]
    require(dim >= m && dim % m == 0,
      s"$Name needs m | dim, got (dim=$dim, m=$m)")
    Nil
  }

  /** The per-query kernel behind graft_pq_lut. */
  def compute(vec: ArrayData, cb: ArrayData, dim: Int, m: Int): GenericArrayData = {
    val sub = dim / m
    val vLen = vec.numElements()
    val out = new Array[Any](m)
    var mm = 0
    while (mm < m) {
      val base = mm * sub
      // slice(vec, base+1, sub) truncates at the vector end — reproduce
      val aLen = math.max(0, math.min(sub, vLen - base))
      var aa = 0L
      var j = 0
      while (j < aLen) {
        val x = vec.getLong(base + j); aa += x * x; j += 1
      }
      val entries = cb.getArray(mm)
      val k = entries.numElements()
      val row = new Array[Long](k)
      var kk = 0
      while (kk < k) {
        val cc = entries.getArray(kk)
        if (cc.numElements() != aLen)
          throw new IllegalArgumentException(
            s"graft_dot_long: array length mismatch ($aLen vs ${cc.numElements()})")
        var bb = 0L
        var ab = 0L
        j = 0
        while (j < aLen) {
          val b = cc.getLong(j)
          bb += b * b
          ab += vec.getLong(base + j) * b
          j += 1
        }
        row(kk) = aa + bb - 2L * ab
        kk += 1
      }
      out(mm) = UnsafeArrayData.fromPrimitiveArray(row)
      mm += 1
    }
    new GenericArrayData(out)
  }

  /** m x k ADC lookup table of a quantized query against the codebook. */
  def pqLut(vec: Column, cb: Column, dim: Int, m: Int): Column =
    GraftFunctions.call(Name, vec, cb, lit(dim), lit(m))
}
