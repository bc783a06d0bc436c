package graft.plans

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, MapType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Misra-Gries heavy-hitters sketch as a `TypedImperativeAggregate` over a
  * MUTABLE open-hash buffer (SURVEY.md §2g "north-star" sketches).
  *
  * Guarantee: any item with true frequency > n/(k+1) is IN the candidate
  * set; reported counts undercount by at most n/(k+1). The buffer is a
  * bounded map of k counters regardless of input size, and two buffers merge
  * by counter addition + decrement — exactly the shape Spark's partial
  * aggregation needs: a 1000-executor run keeps k counters per partition and
  * one k-sized merge tree, never a per-key shuffle.
  *
  * Why imperative rather than a typed `Aggregator` over an immutable Map:
  * the Aggregator form allocates a fresh Map per input row and kryo-roundtrips
  * whole buffers across every partial/final boundary. This buffer mutates in
  * place per row (one hash probe, zero allocation on the hot path — keys are
  * cloned only on first insertion, because input UTF8Strings point into
  * reused row buffers) and serializes as a flat length-prefixed byte stream.
  *
  * The candidate SET (not the counts) can depend on merge order — inherent
  * sketch semantics; callers re-count candidates exactly when exact
  * frequencies matter (HeavyHitters.topTerms).
  */
case class MisraGriesSketch(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.HashMap[UTF8String, Long]]
  with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string column, got ${child.dataType.simpleString}")
    else if (k <= 0) TypeCheckResult.TypeCheckFailure(s"$prettyName requires k > 0")
    else TypeCheckResult.TypeCheckSuccess

  override def prettyName: String = "graft_misra_gries"
  override def dataType: DataType = MapType(StringType, LongType, valueContainsNull = false)
  override def nullable: Boolean = false

  override def createAggregationBuffer(): mutable.HashMap[UTF8String, Long] =
    mutable.HashMap.empty

  private def add(buf: mutable.HashMap[UTF8String, Long], item: UTF8String, cnt: Long): Unit =
    buf.get(item) match {
      case Some(c) => buf.update(item, c + cnt) // existing key object is retained
      case None if buf.size < k => buf.update(item.clone(), cnt)
      case None =>
        // decrement-all by the smallest of (cnt, current min); evict zeros
        val dec = math.min(cnt, buf.values.min)
        buf.mapValuesInPlace((_, c) => c - dec)
        buf.filterInPlace((_, c) => c > 0)
        val rest = cnt - dec
        if (rest > 0 && buf.size < k) buf.update(item.clone(), rest)
    }

  override def update(buf: mutable.HashMap[UTF8String, Long],
                      input: InternalRow): mutable.HashMap[UTF8String, Long] = {
    val v = child.eval(input)
    if (v != null) add(buf, v.asInstanceOf[UTF8String], 1L)
    buf
  }

  override def merge(buf: mutable.HashMap[UTF8String, Long],
                     other: mutable.HashMap[UTF8String, Long]): mutable.HashMap[UTF8String, Long] = {
    other.foreach { case (item, cnt) => add(buf, item, cnt) }
    buf
  }

  override def eval(buf: mutable.HashMap[UTF8String, Long]): Any = {
    val ks = new Array[Any](buf.size)
    val vs = new Array[Any](buf.size)
    var i = 0
    buf.foreach { case (item, cnt) => ks(i) = item; vs(i) = cnt; i += 1 }
    new ArrayBasedMapData(new GenericArrayData(ks), new GenericArrayData(vs))
  }

  override def serialize(buf: mutable.HashMap[UTF8String, Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreach { case (item, cnt) =>
      val bytes = item.getBytes
      out.writeInt(bytes.length)
      out.write(bytes)
      out.writeLong(cnt)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.HashMap[UTF8String, Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = mutable.HashMap.empty[UTF8String, Long]
    var i = 0
    while (i < n) {
      val len = in.readInt()
      val b = new Array[Byte](len)
      in.readFully(b)
      buf.update(UTF8String.fromBytes(b), in.readLong())
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MisraGriesSketch =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MisraGriesSketch =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): MisraGriesSketch =
    copy(child = newChild)
}

object MisraGriesSketch {
  /** Builder for FunctionRegistry: (column, k literal). */
  def fromChildren(children: Seq[Expression]): MisraGriesSketch = {
    val k = children(1) match {
      case Literal(v: Int, IntegerType) => v
      case other => throw new IllegalArgumentException(
        s"graft_misra_gries: k must be an integer literal, got $other")
    }
    MisraGriesSketch(children.head, k)
  }
}
