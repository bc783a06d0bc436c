package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.lit
import org.apache.spark.unsafe.types.UTF8String

/** The complete per-pair WORD n-gram overlap statistic (the BLEU-n /
  * ROUGE-n counting core) in ONE per-row pass — [[ChrfStatsLong]]'s word
  * twin: for a (candidate, reference) pair, every order n = 1..maxOrder
  * where BOTH single-space-split sides hold order-n grams gets a struct
  * (ord, matches, cand_total, ref_total) with clipped matches
  * m = Σ_g min(c_cand(g), c_ref(g)) and totals = nWords − n + 1. Returns
  * array<struct> for `inline()`.
  *
  * Same zero-copy trick as [[ShingleHashesLong]]: a word window joined by
  * single spaces is byte-identical to the contiguous text range between
  * its first and last word, so gram equality is byte-range equality — no
  * gram String is ever built. Per order, candidate windows fill an
  * open-addressed count table (FNV-keyed, byte-verified); each reference
  * window that probes a positive slot decrements it — the probe-success
  * count is exactly Σ min(cc, rc). The relational form this replaces
  * fanned both sides into (id, ord, gram) count rows through four
  * gram-keyed exchanges (~79 MB at sf0.1 across e4+e5) for output that is
  * maxOrder rows per pair.
  */
object WordGramStatsLong {
  val Name = "graft_wordgram_stats"

  /** The per-pair kernel behind graft_wordgram_stats
    * (max_order is a checked literal in [1, 8]). */
  def compute(cand: UTF8String, ref: UTF8String, maxOrder: Int)
      : GenericArrayData = {
    val cb = cand.getBytes
    val rb = ref.getBytes
    val cs = WordWindowsLong.wordStarts(cb)
    val rs = WordWindowsLong.wordStarts(rb)
    val cWords = cs.length - 1
    val rWords = rs.length - 1
    val nOrds = math.min(maxOrder, math.min(cWords, rWords))
    val rows = new Array[Any](math.max(nOrds, 0))
    var ord = 1
    while (ord <= nOrds) {
      val nc = cWords - ord + 1
      val nr = rWords - ord + 1
      // open-addressed candidate-window count table (FNV, byte-verified)
      val cap = Integer.highestOneBit(math.max(4, nc * 2) - 1) << 1
      val keyStart = new Array[Int](cap)
      java.util.Arrays.fill(keyStart, -1)
      val keyEnd = new Array[Int](cap)
      val cnt = new Array[Int](cap)
      var g = 0
      while (g < nc) {
        val s = cs(g)
        val e = cs(g + ord) - 1
        var h = 0xcbf29ce484222325L
        var j = s
        while (j < e) { h ^= cb(j) & 0xffL; h *= 0x100000001b3L; j += 1 }
        var slot = (h.toInt ^ (h >>> 32).toInt) & (cap - 1)
        var done = false
        while (!done) {
          val ks = keyStart(slot)
          if (ks < 0) {
            keyStart(slot) = s; keyEnd(slot) = e; cnt(slot) = 1; done = true
          } else {
            val ke = keyEnd(slot)
            if (ke - ks == e - s) {
              var p = ks; var q = s
              while (q < e && cb(p) == cb(q)) { p += 1; q += 1 }
              if (q == e) { cnt(slot) += 1; done = true }
              else slot = (slot + 1) & (cap - 1)
            } else slot = (slot + 1) & (cap - 1)
          }
        }
        g += 1
      }
      var matches = 0L
      g = 0
      while (g < nr) {
        val s = rs(g)
        val e = rs(g + ord) - 1
        var h = 0xcbf29ce484222325L
        var j = s
        while (j < e) { h ^= rb(j) & 0xffL; h *= 0x100000001b3L; j += 1 }
        var slot = (h.toInt ^ (h >>> 32).toInt) & (cap - 1)
        var done = false
        while (!done) {
          val ks = keyStart(slot)
          if (ks < 0) done = true // gram not on the candidate side
          else {
            val ke = keyEnd(slot)
            if (ke - ks == e - s) {
              var p = ks; var q = s
              while (q < e && cb(p) == rb(q)) { p += 1; q += 1 }
              if (q == e) {
                if (cnt(slot) > 0) { cnt(slot) -= 1; matches += 1L }
                done = true
              } else slot = (slot + 1) & (cap - 1)
            } else slot = (slot + 1) & (cap - 1)
          }
        }
        g += 1
      }
      rows(ord - 1) = new GenericInternalRow(Array[Any](ord.toLong, matches,
        nc.toLong, nr.toLong)): InternalRow
      ord += 1
    }
    new GenericArrayData(rows)
  }

  /** Per-pair word n-gram overlap statistic rows for `inline()`. */
  def wordGramStats(cand: Column, ref: Column, maxOrder: Int): Column =
    GraftFunctions.call(Name, cand, ref, lit(maxOrder))
}
