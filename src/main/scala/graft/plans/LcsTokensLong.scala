package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.unsafe.types.UTF8String

/** Token-level LONGEST COMMON SUBSEQUENCE length of two texts as a NATIVE
  * expression — the counting core of ROUGE-L (Lin 2004 §3.2): tokens split
  * on single spaces (the house `words()` / DuckDB `string_split` contract,
  * empty tokens included so the two engines agree on degenerate inputs),
  * then the classic two-row O(|c|·|r|) DP.
  *
  * Why native (the [[CdcBoundariesLong]] rationale): LCS is a sequential
  * per-row recurrence — no SQL/HOF formulation avoids materializing the DP
  * as per-element lambda calls, and the interpreted tree walk dominates
  * the integer max() work by orders of magnitude. Here the row stays
  * inside whole-stage codegen: one static call, two int arrays, no
  * allocation beyond them. Reference tokens are interned to dense ints
  * first so the O(c·r) inner loop compares ints, never strings — candidate
  * tokens absent from the reference map to -1 and can never match.
  *
  * Cost is per-PAIR row work (quadratic in the two documents' token
  * counts, like any exact edit kernel — the d13 discipline), embarrassingly
  * parallel across pairs; nothing about the corpus enters.
  */
object LcsTokensLong {
  val Name = "graft_lcs_tokens"

  /** LCS length over space-split tokens. */
  def compute(a: UTF8String, b: UTF8String): Long = {
    val aw = a.toString.split(" ", -1)
    val bw = b.toString.split(" ", -1)
    val dict = new java.util.HashMap[String, Integer](bw.length * 2)
    val bi = new Array[Int](bw.length)
    var next = 0
    var j = 0
    while (j < bw.length) {
      var idv = dict.get(bw(j))
      if (idv == null) {
        idv = Integer.valueOf(next); dict.put(bw(j), idv); next += 1
      }
      bi(j) = idv.intValue()
      j += 1
    }
    val ai = new Array[Int](aw.length)
    var i = 0
    while (i < aw.length) {
      val idv = dict.get(aw(i))
      ai(i) = if (idv == null) -1 else idv.intValue()
      i += 1
    }
    var prev = new Array[Int](bi.length + 1)
    var cur = new Array[Int](bi.length + 1)
    i = 0
    while (i < ai.length) {
      var jj = 0
      while (jj < bi.length) {
        var m = prev(jj + 1)
        if (cur(jj) > m) m = cur(jj)
        if (ai(i) == bi(jj) && prev(jj) + 1 > m) m = prev(jj) + 1
        cur(jj + 1) = m
        jj += 1
      }
      val t = prev; prev = cur; cur = t
      i += 1
    }
    prev(bi.length).toLong
  }

  /** Token-level LCS length of two text columns as bigint. */
  def lcsTokens(cand: Column, ref: Column): Column =
    GraftFunctions.call(Name, cand, ref)
}
