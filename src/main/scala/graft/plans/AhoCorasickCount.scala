package graft.plans

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.typedlit

/** Multi-pattern substring counting via Aho-Corasick (goto/fail automaton):
  * per input string, the occurrence count of EVERY pattern — overlapping
  * occurrences included — as one array<long> aligned with the pattern list.
  * The blocklist/phrase-filter primitive of a curation pipeline: flagging N
  * banned phrases with N `regexp_count` passes rescans the text N times
  * (and regex engines count non-overlapping only); the automaton reads each
  * character ONCE, O(len + matches) regardless of pattern count.
  *
  * The pattern list is a plan-time literal (the SubwordCount convention), so
  * the automaton is the call's [[Matcher]], built once, and the match runs
  * per-row inside the scan — no shuffle, no join, no broadcast. Output
  * lists are pre-merged along fail links at build time (standard BFS
  * construction), so the hot loop is: one goto step, one output-array walk.
  *
  * Semantics an oracle can mirror exactly: count of every position i where
  * text[i .. i+|p|) == p — deterministic, overlap-inclusive, byte-equal
  * across engines.
  */
object AhoCorasickCount {

  /** Goto/fail automaton with outputs pre-merged along fail links. */
  final case class Automaton(patterns: Seq[String]) extends Matcher {
    // (goto, outs, fail) per state
    @transient private lazy val trie = {
      val goto = mutable.ArrayBuffer(mutable.HashMap.empty[Char, Int])
      val outs = mutable.ArrayBuffer[Array[Int]](Array.empty)
      val fail = mutable.ArrayBuffer(0)
      patterns.zipWithIndex.foreach { case (p, id) =>
        var s = 0
        p.foreach { ch =>
          s = goto(s).getOrElseUpdate(ch, {
            goto += mutable.HashMap.empty[Char, Int]
            outs += Array.empty
            fail += 0
            goto.size - 1
          })
        }
        outs(s) = outs(s) :+ id
      }
      // BFS fail links; merge output lists so matching never chains
      val q = mutable.Queue.empty[Int]
      goto(0).values.foreach { v => fail(v) = 0; q.enqueue(v) }
      while (q.nonEmpty) {
        val u = q.dequeue()
        goto(u).foreach { case (ch, v) =>
          // follow u's fail chain to the deepest proper suffix extending ch;
          // goto(f)(ch) sits strictly shallower than v, so no self-link
          var f = fail(u)
          while (f != 0 && !goto(f).contains(ch)) f = fail(f)
          fail(v) = goto(f).getOrElse(ch, 0)
          outs(v) = outs(v) ++ outs(fail(v))
          q.enqueue(v)
        }
      }
      (goto, outs, fail)
    }

    def counts(text: String): Array[Long] = {
      val c = new Array[Long](patterns.size)
      val goto = trie._1
      val outs = trie._2
      val fail = trie._3
      var s = 0
      var i = 0
      while (i < text.length) {
        val ch = text.charAt(i)
        while (s != 0 && !goto(s).contains(ch)) s = fail(s)
        s = goto(s).getOrElse(ch, 0)
        val o = outs(s)
        var j = 0
        while (j < o.length) { c(o(j)) += 1; j += 1 }
        i += 1
      }
      c
    }

    /** The kernel entry: counts as Catalyst array data. */
    def countsArray(text: String): ArrayData =
      UnsafeArrayData.fromPrimitiveArray(counts(text))
  }

  val Name = "graft_aho_corasick"

  /** The row's matcher; empty patterns would match everywhere. */
  def matcher(children: Seq[Expression]): Seq[Any] = {
    val pats = Builders.litStrings(Name, "patterns argument", children(1))
    require(pats.nonEmpty && pats.forall(_.nonEmpty),
      s"$Name requires a non-empty list of non-empty patterns")
    Seq(Automaton(pats))
  }

  /** Column API. `patterns` is embedded in the plan (a per-query constant). */
  def multiMatchCounts(text: Column, patterns: Seq[String]): Column =
    GraftFunctions.call(Name, text, typedlit(patterns))
}
