package graft.etlbench

import java.math.{BigDecimal => JBigDecimal, MathContext}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters

/** A unit's output fingerprint: row count plus an order-insensitive content
  * hash (the sum of per-row 64-bit hashes, so row order and partitioning
  * cannot change it). Columns are taken in name order, as the engine's
  * oracle compares them; doubles are rounded
  * to 12 significant digits, so a last-bit difference from a reordered
  * floating-point sum is not a mismatch but any real value change is.
  */
final case class Digest(rows: Long, hash: String) {
  def +(o: Digest): Digest =
    Digest(rows + o.rows, java.lang.Long.toHexString(
      java.lang.Long.parseUnsignedLong(hash, 16) + java.lang.Long.parseUnsignedLong(o.hash, 16)))
}

object Digest {
  val empty: Digest = Digest(0, "0")
  private val mc = new MathContext(12)

  /** Collect `df` and fingerprint its rows. */
  def of(df: DataFrame, tag: String = ""): Digest = {
    val order = nameOrder(df)
    var sum = 0L
    val rows = df.collect()
    rows.foreach(r => sum += rowHash(tag, r, order))
    Digest(rows.length, java.lang.Long.toHexString(sum))
  }

  /** Execute the frame's own physical plan once, exactly as
    * `graft.Bench.forceFrame` does, folding each row into the fingerprint
    * where forceFrame only counts it. Comparing the result against an
    * expectation is left to the caller, outside its timed region.
    */
  def force(df: DataFrame): Digest = {
    val order = nameOrder(df)
    val toRow = CatalystTypeConverters.createToScalaConverter(df.schema)
    val (n, sum) = df.queryExecution.toRdd.mapPartitions { it =>
      var n, sum = 0L
      it.foreach { r =>
        sum += rowHash("", toRow(r).asInstanceOf[Row], order)
        n += 1
      }
      Iterator((n, sum))
    }.fold((0L, 0L))((x, y) => (x._1 + y._1, x._2 + y._2))
    Digest(n, java.lang.Long.toHexString(sum))
  }

  private def nameOrder(df: DataFrame): Array[Int] =
    df.columns.zipWithIndex.sortBy(_._1).map(_._2)

  private def rowHash(tag: String, r: Row, order: Array[Int]): Long = {
    val sb = new java.lang.StringBuilder(tag)
    order.foreach { i => render(sb, r.get(i)); sb.append('|') }
    val b = sb.toString.getBytes(UTF_8)
    val h1 = scala.util.hashing.MurmurHash3.bytesHash(b, 0x5eed)
    val h2 = scala.util.hashing.MurmurHash3.bytesHash(b, 0x1eaf)
    (h1.toLong << 32) | (h2.toLong & 0xffffffffL)
  }

  private def render(sb: java.lang.StringBuilder, v: Any): Unit = v match {
    case null => sb.append('∅')
    case d: Double => sb.append(num(d))
    case f: Float => sb.append(num(f.toDouble))
    case r: Row =>
      sb.append('(')
      var i = 0
      while (i < r.length) { render(sb, r.get(i)); sb.append('|'); i += 1 }
      sb.append(')')
    case s: scala.collection.Seq[_] =>
      sb.append('[')
      s.foreach { x => render(sb, x); sb.append(',') }
      sb.append(']')
    case m: scala.collection.Map[_, _] =>
      sb.append('{')
      m.toSeq.map { case (k, x) =>
        val e = new java.lang.StringBuilder
        render(e, k); e.append(':'); render(e, x); e.toString
      }.sorted.foreach(e => sb.append(e).append(','))
      sb.append('}')
    case a: Array[Byte] => sb.append(java.util.Base64.getEncoder.encodeToString(a))
    case other => sb.append(other.toString)
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new JBigDecimal(d).round(mc).stripTrailingZeros.toString
}
