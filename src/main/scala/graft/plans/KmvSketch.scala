package graft.plans

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** KMV (bottom-k) distinct sketch as a `TypedImperativeAggregate`: maintains
  * the k SMALLEST distinct values of an already-hashed long column in ONE
  * map-side-combinable aggregate — the single-pass form of
  * `ApproxOps.kmvDistinctByKey`'s distinct + rank-window plan, and the form
  * a streaming query can hold per window in the state store (bottom-k
  * buffers merge by insertion, exactly what partial aggregation and
  * state-store merges need).
  *
  * Buffer is a sorted long set bounded at k: insert costs one binary search;
  * a value >= the current k-th smallest is rejected without mutation, so on
  * a 1000-executor run each partition keeps k longs and the merge tree moves
  * k longs per node — never the distinct-value set. The result is the
  * ASCENDING array of kept hashes: callers take its length/last element for
  * the standard (k-1) * 2^48 / h_k estimate (`ApproxOps.kmvEstimate`), or
  * union two arrays and re-bound to merge sketches.
  *
  * Determinism: bottom-k of a set is merge-order-independent, so unlike
  * Misra-Gries candidates the RESULT ARRAY itself is deterministic — which
  * is what lets the ax5 oracle hash-check the aggregate against the same
  * SQL as the window-based plan.
  */
case class KmvSketch(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.TreeSet[Long]]
  with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires an already-hashed long column, got ${child.dataType.simpleString}")
    else if (k <= 1) TypeCheckResult.TypeCheckFailure(s"$prettyName requires k > 1")
    else TypeCheckResult.TypeCheckSuccess

  override def prettyName: String = "graft_kmv"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false

  override def createAggregationBuffer(): java.util.TreeSet[Long] =
    new java.util.TreeSet[Long]()

  private def add(buf: java.util.TreeSet[Long], h: Long): Unit =
    if (buf.size < k) { buf.add(h); () }
    else if (h < buf.last && !buf.contains(h)) {
      buf.pollLast(); buf.add(h); ()
    }

  override def update(buf: java.util.TreeSet[Long],
                      input: InternalRow): java.util.TreeSet[Long] = {
    val v = child.eval(input)
    if (v != null) add(buf, v.asInstanceOf[Long])
    buf
  }

  override def merge(buf: java.util.TreeSet[Long],
                     other: java.util.TreeSet[Long]): java.util.TreeSet[Long] = {
    val it = other.iterator()
    while (it.hasNext) add(buf, it.next())
    buf
  }

  override def eval(buf: java.util.TreeSet[Long]): Any = {
    val out = new Array[Any](buf.size)
    val it = buf.iterator()
    var i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    new GenericArrayData(out)
  }

  override def serialize(buf: java.util.TreeSet[Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    val it = buf.iterator()
    while (it.hasNext) out.writeLong(it.next())
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): java.util.TreeSet[Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = new java.util.TreeSet[Long]()
    var i = 0
    while (i < n) { buf.add(in.readLong()); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): KmvSketch =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KmvSketch =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): KmvSketch =
    copy(child = newChild)
}

object KmvSketch {
  val Name = "graft_kmv"

  /** Builder for FunctionRegistry: (hashed long column, k literal). */
  def fromChildren(children: Seq[Expression]): KmvSketch = {
    val k = children(1) match {
      case Literal(v: Int, IntegerType) => v
      case other => throw new IllegalArgumentException(
        s"graft_kmv: k must be an integer literal, got $other")
    }
    KmvSketch(children.head, k)
  }
}
