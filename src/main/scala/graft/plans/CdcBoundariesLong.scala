package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.lit
import org.apache.spark.unsafe.types.UTF8String

/** Content-defined chunk boundaries of one document as a NATIVE expression:
  * the 1-based word n-gram positions whose 48-bit md5 is 0 mod `divisor`
  * (`TextOps.cdcChunks`'s boundary rule), computed in one pass over the
  * document's bytes inside whole-stage codegen.
  *
  * Why native (the [[WinnowLong]] rationale): the higher-order-function
  * formulation (`filter(sequence(...), i -> md5(concat(...)) % d = 0)`)
  * evaluates INTERPRETED per gram — measured ~7 s for 265k grams at sf0.1,
  * dominated by per-element lambda binding and expression-tree walking, not
  * the md5 itself. This expression walks the byte array once: a gram's text
  * (tokens i..i+n-1 joined by single spaces) is BYTE-IDENTICAL to the
  * substring of the original document between those token boundaries
  * (split-on-single-space round-trips, empty tokens included), so each
  * digest runs over (bytes, offset, length) with no per-gram copy and the
  * hash equals `graft_md5_prefix_long(gram, 6)` — the SAME value the SQL
  * oracle's `md5(w[i] || ' ' || ...)` mirror computes.
  *
  * Documents with fewer than n tokens return an empty array (one whole-doc
  * chunk downstream).
  */
object CdcBoundariesLong {
  val Name = "graft_cdc_boundaries"

  private val digests = ThreadLocal.withInitial[java.security.MessageDigest](
    () => java.security.MessageDigest.getInstance("MD5"))

  private val Empty = UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)

  /** One pass over one document, behind graft_cdc_boundaries (n >= 2 and
    * divisor >= 2 are checked literals).
    * Token j spans bytes [starts(j), starts(j+1) - 2]; gram g
    * (tokens g..g+n-1, 0-based) spans [starts(g), starts(g+n) - 2] — the
    * single interior spaces are part of the gram text, matching the
    * `w[i] || ' ' || w[i+1] || ...` concatenation byte for byte.
    */
  def compute(text: UTF8String, n: Int, divisor: Int): ArrayData = {
    val bytes = text.getBytes
    val starts = WordWindowsLong.wordStarts(bytes)
    val m = starts.length - 1
    if (m < n) return Empty
    val md = digests.get()
    val buf = new Array[Long](m - n + 1)
    var cnt = 0
    var g = 0
    while (g <= m - n) {
      val off = starts(g)
      val len = starts(g + n) - 1 - off
      md.reset()
      md.update(bytes, off, len)
      val d = md.digest()
      var acc = 0L
      var b = 0
      while (b < 6) { acc = (acc << 8) | (d(b) & 0xffL); b += 1 }
      if (acc % divisor == 0) { buf(cnt) = (g + 1).toLong; cnt += 1 }
      g += 1
    }
    if (cnt == 0) Empty
    else UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(buf, cnt))
  }

  /** 1-based CDC boundary gram positions of `text` as array<bigint>. */
  def cdcBoundaries(text: Column, n: Int, divisor: Int): Column =
    GraftFunctions.call(Name, text, lit(n), lit(divisor))
}
