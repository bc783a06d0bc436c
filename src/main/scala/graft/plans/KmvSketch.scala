package graft.plans

import java.io.{DataInputStream, DataOutputStream}

import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** KMV (bottom-k) distinct sketch behind `graft_kmv` ([[SketchCall]]):
  * maintains the k SMALLEST distinct values of an already-hashed long column
  * in ONE map-side-combinable aggregate — the single-pass form of
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
case class Kmv(k: Int) extends Sketch[java.util.TreeSet[Long]] {
  type Buf = java.util.TreeSet[Long]

  def dataType: DataType = ArrayType(LongType, containsNull = false)
  def empty: Buf = new java.util.TreeSet[Long]()

  def add(buf: Buf, v: Any): Buf = {
    val h = v.asInstanceOf[Long]
    if (buf.size < k) buf.add(h)
    else if (h < buf.last && !buf.contains(h)) { buf.pollLast(); buf.add(h) }
    buf
  }

  def merge(buf: Buf, other: Buf): Buf = {
    val it = other.iterator()
    while (it.hasNext) add(buf, it.next())
    buf
  }

  def result(buf: Buf): Any = new GenericArrayData(buf.toArray)

  def write(buf: Buf, out: DataOutputStream): Unit = {
    out.writeInt(buf.size)
    val it = buf.iterator()
    while (it.hasNext) out.writeLong(it.next())
  }

  def read(in: DataInputStream): Buf = {
    val buf = empty
    (0 until in.readInt()).foreach(_ => buf.add(in.readLong()))
    buf
  }
}

object Kmv {
  val Name = "graft_kmv"
}
