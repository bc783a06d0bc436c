package graft.plans

import java.io.{DataInputStream, DataOutputStream}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Elementwise sum of `array<long>` vectors behind `graft_vector_sum`
  * ([[SketchCall]]): the per-group buffer is ONE primitive long array,
  * updated in place per row and merged by vector addition — exactly the
  * shape a centroid update (k-means Lloyd step) or any per-group
  * embedding-sum needs.
  *
  * The relational alternative (posexplode to (group, pos, x) -> groupBy
  * (group, pos) sum -> collect_list + re-sort) shuffles n x dim rows and
  * rebuilds each vector through an array sort; this aggregate shuffles one
  * dim-long buffer per (partition, group) with map-side partial combine —
  * the same reduction, minus the row explosion. Integer sums are exact
  * under any merge order, so the result is oracle-reproducible.
  *
  * All input vectors of a group must share one length; a mismatch throws
  * (fail-loud, same stance as DotProductLong). Empty groups cannot occur
  * (Spark only evaluates groups with rows); all-null groups return null.
  */
case object VectorSumLong extends Sketch[Array[Long]] {
  val Name = "graft_vector_sum"

  def vectorSum(c: Column): Column =
    GraftFunctions.call(Name, c)

  def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  // length-0 sentinel = "no input seen yet" (vectors of length 0 contribute
  // nothing to a sum, so conflating them is harmless)
  def empty: Array[Long] = Array.emptyLongArray

  def add(buf: Array[Long], v: Any): Array[Long] = {
    val vec = v.asInstanceOf[ArrayData]
    val n = vec.numElements()
    val target = if (buf.length == 0) new Array[Long](n) else buf
    checkLength(n, target.length)
    var i = 0
    while (i < n) { target(i) += vec.getLong(i); i += 1 }
    target
  }

  def merge(buf: Array[Long], other: Array[Long]): Array[Long] =
    if (other.length == 0) buf
    else if (buf.length == 0) other
    else {
      checkLength(other.length, buf.length)
      var i = 0
      while (i < buf.length) { buf(i) += other(i); i += 1 }
      buf
    }

  private def checkLength(n: Int, expected: Int): Unit =
    if (n != expected)
      throw new IllegalArgumentException(s"$Name: vector length mismatch ($n vs $expected)")

  def result(buf: Array[Long]): Any = if (buf.length == 0) null else new GenericArrayData(buf)

  def write(buf: Array[Long], out: DataOutputStream): Unit = {
    out.writeInt(buf.length)
    buf.foreach(out.writeLong(_))
  }

  def read(in: DataInputStream): Array[Long] = Array.fill(in.readInt())(in.readLong())
}
