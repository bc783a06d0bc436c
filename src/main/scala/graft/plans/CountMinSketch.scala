package graft.plans

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Count-min sketch as a `TypedImperativeAggregate` over a flat d x w long
  * counter matrix — the mergeable frequency sketch complementing
  * [[MisraGriesSketch]]: MG bounds UNDERcounts and keeps only candidates,
  * CMS answers a point estimate for EVERY item and only ever OVERcounts
  * (est >= true always; est <= true + 2n/w per row with prob 1 - (2/w)^d
  * over the hash choice — here the hashes are fixed md5 slices, so the
  * bound is a fixture-verifiable property, not a probabilistic one).
  *
  * Unlike MG, the CMS state is a pure SUM per counter — completely
  * insensitive to row and merge order — so the evaluated matrix is
  * bit-deterministic and a SQL oracle rebuilds it exactly (a GROUP BY
  * (row, position) COUNT), making this the rare sketch whose FULL state is
  * hash-checkable, not just contract-checkable.
  *
  * Probe positions are the [[graft.operators.Dedup.hash48]] md5 prefix
  * carved into `d` disjoint 16-bit slices modulo `w` (the Bloom-prefilter
  * discipline, one digest per item): `pos_j = ((h48 >> 16 j) & 0xffff) % w`,
  * which caps d at 3 and w at 65536. The buffer is d*w longs (<= 1.5 MB at
  * the caps, 1.5 KB at the fixture sizes) regardless of input size; partial
  * aggregation keeps one matrix per partition and merges by elementwise
  * addition — no per-key shuffle ever, the heavy-hitters posture at 100 TB.
  */
case class CountMinSketch(
    child: Expression,
    w: Int,
    d: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]]
  with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string column, got ${child.dataType.simpleString}")
    else if (w < 2 || w > 65536)
      TypeCheckResult.TypeCheckFailure(s"$prettyName requires w in [2, 65536], got $w")
    else if (d < 1 || d > 3)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires d in [1, 3] (disjoint 16-bit slices of one 48-bit md5), got $d")
    else TypeCheckResult.TypeCheckSuccess

  override def prettyName: String = "graft_count_min"
  override def dataType: DataType =
    ArrayType(ArrayType(LongType, containsNull = false), containsNull = false)
  override def nullable: Boolean = false

  override def createAggregationBuffer(): Array[Long] = new Array[Long](d * w)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val h = Md5PrefixLong.prefix(v.asInstanceOf[UTF8String].getBytes, 6)
      var j = 0
      while (j < d) {
        buf(j * w + (((h >>> (16 * j)) & 0xffffL) % w).toInt) += 1L
        j += 1
      }
    }
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < buf.length) { buf(i) += other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Long]): Any = {
    val rows = new Array[Any](d)
    var j = 0
    while (j < d) {
      val row = new Array[Any](w)
      var i = 0
      while (i < w) { row(i) = buf(j * w + i); i += 1 }
      rows(j) = new GenericArrayData(row)
      j += 1
    }
    new GenericArrayData(rows)
  }

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.length)
    var i = 0
    while (i < buf.length) { out.writeLong(buf(i)); i += 1 }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = new Array[Long](n)
    var i = 0
    while (i < n) { buf(i) = in.readLong(); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): CountMinSketch =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CountMinSketch =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): CountMinSketch =
    copy(child = newChild)
}

object CountMinSketch {
  val Name = "graft_count_min"

  /** Builder for FunctionRegistry: (column, w literal, d literal). */
  def fromChildren(children: Seq[Expression]): CountMinSketch = {
    (children(1), children(2)) match {
      case (Literal(w: Int, IntegerType), Literal(d: Int, IntegerType)) =>
        CountMinSketch(children.head, w, d)
      case other => throw new IllegalArgumentException(
        s"$Name: (w, d) must be integer literals, got $other")
    }
  }
}
