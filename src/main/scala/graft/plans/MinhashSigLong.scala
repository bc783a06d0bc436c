package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.lit
import org.apache.spark.unsafe.types.UTF8String

/** The full 32-wide minhash signature of a document in ONE per-row pass:
  * word n-gram shingles (split on single spaces, empties kept — the exact
  * multiset `Dedup.wordShinglesAll` produces), each hashed to its unsigned
  * 32-bit md5 prefix (Md5PrefixLong semantics), folded through the 32 affine
  * permutations (a_i h + b_i) mod (2^31 - 1) keeping per-permutation minima.
  * Returns array<long>(32), or NULL when the document has fewer than n
  * words (no shingles — mirrors the relational path dropping the doc at the
  * groupBy).
  *
  * Equivalent to the explode -> 32-min-aggregate form and checked against
  * the same SQL oracle CTEs, but with NO row explosion and NO aggregation:
  * the relational form turns each document into |shingles| rows feeding a
  * 32-column min hash-aggregate — at sf0.1 that's ~1M shuffled rows for
  * what is inherently a per-row scalar computation, and it is on the hot
  * path of SIX pipeline queries (candidates, verified pairs, components,
  * corpus dedup, incremental dedup, edit-distance verify). Minima are
  * multiset-invariant, so shingle multiplicity needs no dedup.
  */
object MinhashSigLong {
  import graft.operators.Dedup.{MinhashPrime, NumHashes, hashA, hashB}

  /** The per-document kernel behind graft_minhash_sig (shingle_n is a
    * checked literal >= 1). Returns null when the document has fewer than n
    * words.
    */
  def signature(text: UTF8String, n: Int): GenericArrayData = {
    val words = text.toString.split(" ", -1)
    if (words.length < n) return null
    val mins = Array.fill(NumHashes)(Long.MaxValue)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i <= words.length - n) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(words(i + j))
        j += 1
      }
      val h = Md5PrefixLong.prefix(sb.toString.getBytes("UTF-8"), 4)
      var k = 0
      while (k < NumHashes) {
        val v = (hashA(k) * h + hashB(k)) % MinhashPrime
        if (v < mins(k)) mins(k) = v
        k += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  val Name = "graft_minhash_sig"

  def minhashSig(c: Column, n: Int): Column =
    GraftFunctions.call(Name, c, lit(n))
}
