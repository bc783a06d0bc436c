package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.typedlit
import org.apache.spark.unsafe.types.UTF8String

/** Native BPE merge APPLICATION: segment one word into its pieces by
  * applying a trained merge table (graft.operators.TextOps.bpeMerges, in
  * rank order) — the inference step of a GPT-2/SentencePiece-style
  * tokenizer, as ONE kernel call regardless of merge-table size.
  *
  * This retires `TextOps.bpeSegmentCol`'s expression-size limit: the
  * declarative form folds one `aggregate(...)` layer PER MERGE into the
  * plan, so a production 30k-merge vocabulary explodes the expression tree
  * (and codegen) long before data size matters. Here the merge table rides
  * as the call's [[Matcher]] (the SubwordCount posture — dimension-sized,
  * like a broadcast dim), and the per-row cost is independent of how many
  * merges never fire.
  *
  * Semantics are EXACTLY the fold's (spec-asserted against it): each merge
  * is one greedy left-to-right pass in rank order — in "aaa", (a,a) merges
  * positions 1-2, not 2-3 — and a pair formed by a LATER merge does NOT
  * reactivate an earlier rank (one pass per rank, not the GPT-2
  * min-rank-loop, whose results differ when a later merge re-creates an
  * earlier pair). The implementation skips absent ranks in O(1) per
  * adjacent pair: scan the current symbols' adjacent pairs for the
  * smallest rank >= cursor, run that single pass, advance the cursor past
  * it — sound because a pass for an absent pair is a no-op and a pass
  * cannot re-create its own pair (l+r == l is impossible), so per-word
  * work is O(applied_merges x word_len), never O(vocab x word_len).
  *
  * The empty word returns a single empty piece — `split(word, "")`
  * parity, so the fold and the kernel agree on every string.
  */
object BpeSegment {

  /** Rank-ordered greedy merge passes over one word; see the doc above for
    * the fold-equivalence argument.
    */
  final case class Applier(merges: Seq[(String, String)]) extends Matcher {
    @transient private lazy val lefts: Array[String] = merges.map(_._1).toArray
    @transient private lazy val rights: Array[String] = merges.map(_._2).toArray
    // ranks per (l, r) pair, ascending — the same pair CAN train at several
    // ranks (it may re-form after later merges), so keep them all
    @transient private lazy val ranks: java.util.HashMap[String, Array[Int]] = {
      val tmp = new java.util.LinkedHashMap[String,
        scala.collection.mutable.ArrayBuffer[Int]]()
      var i = 0
      while (i < lefts.length) {
        tmp.computeIfAbsent(pairKey(lefts(i), rights(i)),
          _ => scala.collection.mutable.ArrayBuffer.empty[Int]) += i
        i += 1
      }
      val m = new java.util.HashMap[String, Array[Int]](tmp.size())
      tmp.forEach((k, v) => m.put(k, v.toArray)) // appended in rank order
      m
    }

    // NUL separator: symbols cannot contain it, so (l, r) keys never
    // collide across different splits of the same concatenation
    private def pairKey(l: String, r: String): String = l + "\u0000" + r

    def segment(word: String): ArrayData = {
      if (word.isEmpty) // split(word, "") parity: one empty piece
        return new GenericArrayData(Array[Any](UTF8String.fromString("")))
      var syms = new java.util.ArrayList[String](word.length)
      var i = 0
      while (i < word.length) {
        syms.add(String.valueOf(word.charAt(i))); i += 1
      }
      var cursor = 0
      var continue = ranks.size() > 0
      while (continue && syms.size > 1) {
        // smallest rank >= cursor among the current adjacent pairs
        var best = Int.MaxValue
        var j = 0
        while (j < syms.size - 1) {
          val rs = ranks.get(pairKey(syms.get(j), syms.get(j + 1)))
          if (rs != null) {
            var a = 0
            while (a < rs.length && rs(a) < cursor) a += 1
            if (a < rs.length && rs(a) < best) best = rs(a)
          }
          j += 1
        }
        if (best == Int.MaxValue) continue = false
        else {
          // one greedy left-to-right pass for this rank (the fold's pass)
          val l = lefts(best); val r = rights(best); val m = l + r
          val out = new java.util.ArrayList[String](syms.size)
          var t = 0
          while (t < syms.size) {
            val x = syms.get(t)
            if (!out.isEmpty && out.get(out.size - 1) == l && x == r)
              out.set(out.size - 1, m)
            else out.add(x)
            t += 1
          }
          syms = out
          cursor = best + 1
        }
      }
      val arr = new Array[Any](syms.size)
      var t = 0
      while (t < syms.size) {
        arr(t) = UTF8String.fromString(syms.get(t)); t += 1
      }
      new GenericArrayData(arr)
    }
  }

  val Name = "graft_bpe_segment"

  /** The row's matcher, from the flattened literal merge table. */
  def matcher(children: Seq[Expression]): Seq[Any] = {
    val flat = Builders.litStrings(Name, "merges argument", children(1))
    require(flat.length % 2 == 0,
      s"$Name merges must be (lft, rgt) pairs flattened; got ${flat.length} strings")
    Seq(Applier(flat.grouped(2).map(a => (a(0), a(1))).toSeq))
  }

  /** Column API. `merges` ride the plan flattened [l1, r1, l2, r2, ...]
    * in RANK ORDER (a per-query constant, the SubwordCount posture).
    */
  def bpeSegment(word: Column, merges: Seq[(String, String)]): Column =
    GraftFunctions.call(Name, word,
      typedlit(merges.flatMap(t => Seq(t._1, t._2))))
}
