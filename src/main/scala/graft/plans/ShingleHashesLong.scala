package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.lit
import org.apache.spark.unsafe.types.UTF8String

/** md5-prefix hashes of a document's DISTINCT word n-grams in ONE per-row
  * pass: exactly `hash48(gram)` over `Dedup.wordShingles` output (split on
  * single spaces, empties kept, windows joined by single spaces,
  * first-occurrence distinct), as array<long> for a narrow `explode`.
  *
  * Why native (round 19 — the MinhashSigLong rationale applied to the
  * DISTINCT-shingle consumers): `wordShingles` builds its gram array with
  * `array_distinct(transform(...))` — higher-order functions are
  * CodegenFallback, so every document paid an interpreted expression walk
  * plus a String allocation per gram (profiled as the dominant frame of
  * g2's edge derivation), and every downstream caller immediately threw
  * the gram string away for `hash48(gram)`. Here the whole pass is
  * codegen'd and ZERO-COPY: a word window joined by single spaces is
  * byte-identical to the contiguous text range from its first word's start
  * to its last word's end, so each gram is digested in place
  * (`Md5PrefixLong.prefix(bytes, off, len, n)`) with no join, no substring,
  * no per-gram String. Distinctness is by gram CONTENT (an open-addressed
  * probe keyed on a cheap 64-bit rolling hash, byte-verified on collision)
  * — never by the md5 prefix itself, so a 48-bit prefix collision between
  * two distinct grams yields two array entries, exactly like the
  * relational form it replaces.
  *
  * Returns empty array for documents with fewer than n words (the
  * `when(size(w) >= n, ...).otherwise(array())` contract).
  */
object ShingleHashesLong {
  val Name = "graft_shingle_hashes"

  private val Empty = UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)

  /** The per-document kernel (n >= 1 and hash bytes in [1, 7] are checked
    * literals). `distinct = false` emits one hash per gram OCCURRENCE in
    * window order (the `wordShinglesAll` multiplicity contract) and skips
    * the dedup table entirely.
    */
  def compute(text: UTF8String, n: Int, nBytes: Int,
              distinct: Boolean): ArrayData = {
    val b = text.getBytes
    val starts = WordWindowsLong.wordStarts(b)
    val nGrams = starts.length - n
    if (nGrams <= 0) return Empty
    if (!distinct) {
      val out = new Array[Long](nGrams)
      var g = 0
      while (g < nGrams) {
        val s = starts(g)
        val e = starts(g + n) - 1
        out(g) = Md5PrefixLong.prefix(b, s, e - s, nBytes)
        g += 1
      }
      return UnsafeArrayData.fromPrimitiveArray(out)
    }
    // first-occurrence distinct by CONTENT: open-addressed table of gram
    // ranges keyed on a 64-bit FNV-1a of the bytes, byte-verified on probe
    val cap = Integer.highestOneBit(math.max(4, nGrams * 2) - 1) << 1
    val keyStart = new Array[Int](cap)
    java.util.Arrays.fill(keyStart, -1)
    val keyEnd = new Array[Int](cap)
    val out = new Array[Long](nGrams)
    var nOut = 0
    var g = 0
    while (g < nGrams) {
      val s = starts(g)
      val e = starts(g + n) - 1
      var h = 0xcbf29ce484222325L
      var j = s
      while (j < e) { h ^= b(j) & 0xffL; h *= 0x100000001b3L; j += 1 }
      var slot = (h.toInt ^ (h >>> 32).toInt) & (cap - 1)
      var fresh = false
      var done = false
      while (!done) {
        val ks = keyStart(slot)
        if (ks < 0) { // empty: first occurrence
          keyStart(slot) = s; keyEnd(slot) = e
          fresh = true; done = true
        } else {
          val ke = keyEnd(slot)
          if (ke - ks == e - s) {
            var p = ks; var q = s
            while (q < e && b(p) == b(q)) { p += 1; q += 1 }
            if (q == e) done = true // duplicate gram
            else slot = (slot + 1) & (cap - 1)
          } else slot = (slot + 1) & (cap - 1)
        }
      }
      if (fresh) {
        out(nOut) = Md5PrefixLong.prefix(b, s, e - s, nBytes)
        nOut += 1
      }
      g += 1
    }
    UnsafeArrayData.fromPrimitiveArray(
      if (nOut == nGrams) out else java.util.Arrays.copyOf(out, nOut))
  }

  val AllName = "graft_shingle_hashes_all"

  /** Distinct word-n-gram md5-prefix hashes of a text column. */
  def shingleHashes(text: Column, n: Int, nBytes: Int): Column =
    GraftFunctions.call(Name, text, lit(n), lit(nBytes))

  /** Word-n-gram md5-prefix hashes WITH multiplicity, in window order. */
  def shingleHashesAll(text: Column, n: Int, nBytes: Int): Column =
    GraftFunctions.call(AllName, text, lit(n), lit(nBytes))
}
