package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StructField, StructType}

/** The IVF cell-ranking inner loop as ONE native expression — the
  * `Similarity.rankCells` computation: for a quantized query vector
  * (qv, nrm) against the broadcast packed centroid row
  * (array<struct<cid, cv, cnrm>>), every cell's exact quantized cosine
  * (dot/(nrm·cnrm), the [[DotProductLong]] integer dot; −∞ when either
  * norm is zero — the NULLS LAST stand-in) sorted by (ccos desc, cid asc)
  * as array<struct<ccos, cid>>.
  *
  * Why native (round 19): the Column form was
  * `array_sort(transform(cells, struct(pairCosine(...), cid)), cmp)` —
  * BOTH higher-order functions evaluate interpreted (per-cell boxed
  * struct, per-comparison lambda dispatch), and this expression runs per
  * CORPUS ROW on every cell-assignment pass (writeIvfPq, ivfTopK member
  * side) and per query on every probe — the profiler put the serve paths'
  * dominant frames inside the transform's `ArrayDataIndexedSeq` walk.
  * Here the whole rank is a primitive loop + one index sort inside
  * whole-stage codegen.
  *
  * Exactness: the dot is [[DotProductLong]]'s loop verbatim (length
  * mismatch throws identically); cosine is the same single double
  * division (denominator exactly 0.0 → −∞, matching
  * `coalesce(dot/nullif(nrm·cnrm, 0), -Inf)`); the sort comparator is
  * (ccos desc, cid asc) with no NaN/−0.0 exposure (dots are long-exact,
  * denominators nonnegative).
  */
object RankCellsLong {
  val Name = "graft_rank_cells"

  /** The packed centroid row: array<struct<cid, cv, cnrm>>. */
  val CellsType: DataType = ArrayType(StructType(Seq(
    StructField("cid", LongType),
    StructField("cv", ArrayType(LongType)),
    StructField("cnrm", DoubleType))))

  val OutType: DataType = ArrayType(StructType(Seq(
    StructField("ccos", DoubleType, nullable = false),
    StructField("cid", LongType, nullable = false))),
    containsNull = false)

  /** The per-row kernel behind graft_rank_cells. */
  def compute(qv: ArrayData, nrm: Double, cells: ArrayData): GenericArrayData = {
    val n = cells.numElements()
    val ccos = new Array[Double](n)
    val cids = new Array[Long](n)
    val dim = qv.numElements()
    var i = 0
    while (i < n) {
      val cell = cells.getStruct(i, 3)
      val cv = cell.getArray(1)
      if (cv.numElements() != dim)
        throw new IllegalArgumentException(
          s"graft_dot_long: array length mismatch ($dim vs ${cv.numElements()})")
      var acc = 0L
      var j = 0
      while (j < dim) { acc += qv.getLong(j) * cv.getLong(j); j += 1 }
      val denom = nrm * cell.getDouble(2)
      ccos(i) = if (denom == 0.0) Double.NegativeInfinity else acc.toDouble / denom
      cids(i) = cell.getLong(0)
      i += 1
    }
    val order = Array.tabulate(n)(Integer.valueOf)
    java.util.Arrays.sort(order, (a: Integer, b: Integer) => {
      val c = java.lang.Double.compare(ccos(b), ccos(a)) // desc
      if (c != 0) c else java.lang.Long.compare(cids(a), cids(b)) // cid asc
    })
    val out = new Array[Any](n)
    i = 0
    while (i < n) {
      val k = order(i)
      out(i) = new GenericInternalRow(
        Array[Any](ccos(k), cids(k))): InternalRow
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Sorted (ccos, cid) cell ranking of a quantized vector. */
  def rankCells(qv: Column, nrm: Column, cells: Column): Column =
    GraftFunctions.call(Name, qv, nrm, cells)
}
