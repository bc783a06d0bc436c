package graft.plans

import java.io.{DataInputStream, DataOutputStream}

import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Count-min sketch behind `graft_count_min` ([[SketchCall]]) over a flat
  * d x w long counter matrix — the mergeable frequency sketch complementing
  * [[MisraGries]]: MG bounds UNDERcounts and keeps only candidates,
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
case class CountMin(w: Int, d: Int) extends Sketch[Array[Long]] {

  def dataType: DataType =
    ArrayType(ArrayType(LongType, containsNull = false), containsNull = false)
  def empty: Array[Long] = new Array[Long](d * w)

  def add(buf: Array[Long], v: Any): Array[Long] = {
    val h = Md5PrefixLong.prefix(v.asInstanceOf[UTF8String].getBytes, 6)
    var j = 0
    while (j < d) {
      buf(j * w + (((h >>> (16 * j)) & 0xffffL) % w).toInt) += 1L
      j += 1
    }
    buf
  }

  def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < buf.length) { buf(i) += other(i); i += 1 }
    buf
  }

  def result(buf: Array[Long]): Any = new GenericArrayData(
    Array.tabulate[Any](d)(j => new GenericArrayData(buf.slice(j * w, (j + 1) * w))))

  def write(buf: Array[Long], out: DataOutputStream): Unit = {
    out.writeInt(buf.length)
    buf.foreach(out.writeLong(_))
  }

  def read(in: DataInputStream): Array[Long] = Array.fill(in.readInt())(in.readLong())
}

object CountMin {
  val Name = "graft_count_min"
}
