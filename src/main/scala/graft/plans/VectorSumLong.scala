package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Elementwise sum of `array<long>` vectors as a `TypedImperativeAggregate`:
  * the per-group buffer is ONE primitive long array, updated in place per
  * row and merged by vector addition — exactly the shape a centroid update
  * (k-means Lloyd step) or any per-group embedding-sum needs.
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
case class VectorSumLong(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]]
  with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<bigint>, got ${other.simpleString}")
  }

  override def prettyName: String = "graft_vector_sum"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  // length-0 sentinel = "no input seen yet" (vectors of length 0 contribute
  // nothing to a sum, so conflating them is harmless)
  override def createAggregationBuffer(): Array[Long] = Array.emptyLongArray

  private def addInto(buf: Array[Long], v: ArrayData): Array[Long] = {
    val n = v.numElements()
    val target = if (buf.length == 0) new Array[Long](n) else buf
    if (target.length != n)
      throw new IllegalArgumentException(
        s"$prettyName: vector length mismatch ($n vs ${target.length})")
    var i = 0
    while (i < n) { target(i) += v.getLong(i); i += 1 }
    target
  }

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v == null) buf else addInto(buf, v.asInstanceOf[ArrayData])
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    if (other.length == 0) return buf
    if (buf.length == 0) return other
    if (buf.length != other.length)
      throw new IllegalArgumentException(
        s"$prettyName: vector length mismatch (${other.length} vs ${buf.length})")
    var i = 0
    while (i < buf.length) { buf(i) += other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Long]): Any =
    if (buf.length == 0) null else new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 * buf.length)
    bb.asLongBuffer().put(buf)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val out = new Array[Long](bytes.length / 8)
    java.nio.ByteBuffer.wrap(bytes).asLongBuffer().get(out)
    out
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): VectorSumLong =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): VectorSumLong =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): VectorSumLong =
    copy(child = newChild)
}

object VectorSumLong {
  val Name = "graft_vector_sum"

  def vectorSum(c: Column): Column =
    GraftFunctions.call(Name, c)
}
