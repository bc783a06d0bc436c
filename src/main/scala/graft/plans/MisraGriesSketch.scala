package graft.plans

import java.io.{DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.types.{DataType, LongType, MapType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Misra-Gries heavy-hitters sketch behind `graft_misra_gries`
  * ([[SketchCall]]) over a MUTABLE open-hash buffer (SURVEY.md §2g
  * "north-star" sketches).
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
case class MisraGries(k: Int) extends Sketch[mutable.HashMap[UTF8String, Long]] {
  type Buf = mutable.HashMap[UTF8String, Long]

  def dataType: DataType = MapType(StringType, LongType, valueContainsNull = false)
  def empty: Buf = mutable.HashMap.empty

  def add(buf: Buf, v: Any): Buf = { count(buf, v.asInstanceOf[UTF8String], 1L); buf }

  private def count(buf: Buf, item: UTF8String, cnt: Long): Unit =
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

  def merge(buf: Buf, other: Buf): Buf = {
    other.foreach { case (item, cnt) => count(buf, item, cnt) }
    buf
  }

  def result(buf: Buf): Any = {
    val (items, counts) = buf.toSeq.unzip
    new ArrayBasedMapData(new GenericArrayData(items), new GenericArrayData(counts))
  }

  def write(buf: Buf, out: DataOutputStream): Unit = {
    out.writeInt(buf.size)
    buf.foreach { case (item, cnt) =>
      val bytes = item.getBytes
      out.writeInt(bytes.length)
      out.write(bytes)
      out.writeLong(cnt)
    }
  }

  def read(in: DataInputStream): Buf = {
    val buf = empty
    (0 until in.readInt()).foreach { _ =>
      val bytes = new Array[Byte](in.readInt())
      in.readFully(bytes)
      buf.update(UTF8String.fromBytes(bytes), in.readLong())
    }
    buf
  }
}
