package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.lit
import org.apache.spark.unsafe.types.UTF8String

/** Winnowing fingerprints (Schleimer, Wilkerson, Aiken, SIGMOD 2003) of one
  * document as a native expression: hash every character k-gram, keep the
  * minimum hash of each sliding window of `w` consecutive k-grams, return the
  * distinct minima sorted ascending.
  *
  * Why native instead of the relational formulation (explode positions ->
  * window-min per doc -> distinct): winnowing is a PER-DOCUMENT computation,
  * yet the relational shape pays one row per character position through a
  * sort-based window shuffle plus a distinct shuffle — at corpus scale that's
  * two full exchanges of |corpus| x |doc length| rows for work a single pass
  * over each document can do. This expression is that single pass: O(n) char
  * offsets, O(n) digests, O(n) sliding minima via a monotonic deque, local
  * distinct + sort — zero shuffles, and it runs inside whole-stage codegen
  * (one static call, like Md5PrefixLong). Higher-order-function formulations
  * were also rejected: Spark HOF lambdas evaluate interpreted, and a
  * slice-per-window min is O(n*w) with an allocation per window.
  *
  * The hash equals `graft_md5_prefix_long(substring(text, pos, k), 6)` —
  * the same value the SQL-oracle mirror computes — because the digest runs
  * over the UTF-8 bytes of the character substring (offsets honor
  * multi-byte chars).
  *
  * Guarantees (paper §2): any shared substring of length >= w+k-1 shares a
  * fingerprint; density is ~2/(w+1) of the k-gram count. Documents shorter
  * than w+k-1 chars have no full window and return an empty array.
  */
object WinnowLong {
  val Name = "graft_winnow_long"

  private val digests = ThreadLocal.withInitial[java.security.MessageDigest](
    () => java.security.MessageDigest.getInstance("MD5"))

  private val Empty = UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)

  /** One pass over one document; see the object Scaladoc. Behind
    * graft_winnow_long (k, w >= 1 are checked literals).
    */
  def compute(s: UTF8String, k: Int, w: Int): ArrayData = {
    val bytes = s.getBytes
    val nBytes = bytes.length
    // Character start offsets (byte positions), so k-grams are CHARACTER
    // grams over the exact UTF-8 bytes — matching substring()+md5 semantics.
    val offsets = new Array[Int](nBytes + 1)
    var nChars = 0
    var off = 0
    while (off < nBytes) {
      offsets(nChars) = off
      nChars += 1
      off += UTF8String.numBytesForFirstByte(bytes(off))
    }
    offsets(nChars) = nBytes

    val npos = nChars - k + 1 // k-gram count
    if (npos < w) return Empty // no full window

    val hashes = new Array[Long](npos)
    val md = digests.get()
    var i = 0
    while (i < npos) {
      md.reset()
      md.update(bytes, offsets(i), offsets(i + k) - offsets(i))
      val d = md.digest()
      // first 6 digest bytes big-endian = graft_md5_prefix_long(_, 6)
      hashes(i) =
        ((d(0) & 0xffL) << 40) | ((d(1) & 0xffL) << 32) | ((d(2) & 0xffL) << 24) |
          ((d(3) & 0xffL) << 16) | ((d(4) & 0xffL) << 8) | (d(5) & 0xffL)
      i += 1
    }

    // Sliding-window minimum with a monotonic deque: O(npos) total.
    val deque = new Array[Int](npos)
    var head = 0
    var tail = 0
    val distinct = new java.util.HashSet[java.lang.Long]()
    var j = 0
    while (j < npos) {
      while (tail > head && hashes(deque(tail - 1)) >= hashes(j)) tail -= 1
      deque(tail) = j
      tail += 1
      if (deque(head) <= j - w) head += 1
      if (j >= w - 1) distinct.add(hashes(deque(head)))
      j += 1
    }

    val out = new Array[Long](distinct.size)
    val it = distinct.iterator()
    var n = 0
    while (it.hasNext) { out(n) = it.next(); n += 1 }
    java.util.Arrays.sort(out)
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Sorted distinct winnowing fingerprints of `text` as array<bigint>. */
  def winnowLong(text: Column, k: Int, w: Int): Column =
    GraftFunctions.call(Name, text, lit(k), lit(w))
}
