package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.lit
import org.apache.spark.unsafe.types.UTF8String

/** Viterbi segmentation of one word under a unigram-LM piece vocabulary —
  * the E-step kernel of [[graft.operators.TextOps.unigramLmVocab]] (Kudo
  * 2018's unigram tokenizer, hard-EM variant). The model rides the plan as
  * two literal arrays (pieces + integer micro-nat scores, the BpeSegment
  * posture) that build the call's [[Model]], so segmenting a 100 TB corpus
  * is one per-row kernel call inside a codegen'd scan, with zero joins.
  *
  * DP contract (the oracle unrolls the identical recurrence in SQL, so
  * every choice below is bit-checked): dp[0] = 0; dp[i] maximizes
  * dp[i-j] + score(word[i-j, i)) over j = 1..min(maxPieceLen, i) with the
  * piece present in the vocabulary; ties prefer the LONGER last piece
  * (larger j). Scores are EXACT integer micro-nats (LnFp), so "max" is
  * integer comparison — no float drift, any engine agrees. Positions with
  * no parse are carried as unreachable sentinels (a multi-char-only
  * vocabulary like {"ab"} segments "abab" fine); only a word the WHOLE
  * vocabulary cannot cover fails loud (the trainer always seeds every
  * corpus character, so reaching that error means the caller passed a
  * foreign vocabulary).
  */
object UnigramSegment {

  /** The piece table: scores by piece and the longest piece length. */
  final case class Model(pieces: Seq[(String, Long)]) extends Matcher {
    @transient private lazy val scores: java.util.HashMap[String, java.lang.Long] = {
      val m = new java.util.HashMap[String, java.lang.Long](pieces.size * 2)
      pieces.foreach { case (p, s) => m.put(p, java.lang.Long.valueOf(s)) }
      m
    }
    @transient private lazy val maxLen: Int =
      if (pieces.isEmpty) 0 else pieces.iterator.map(_._1.length).max

    def segment(w: String): ArrayData = UnigramSegment.segment(w, scores, maxLen)
  }

  /** The per-word Viterbi kernel. */
  def segment(w: String, scores: java.util.HashMap[String, java.lang.Long],
              maxLen: Int): ArrayData = {
    val n = w.length
    if (n == 0) return new GenericArrayData(Array[Any](UTF8String.fromString("")))
    val total = new Array[Long](n + 1)
    val back = new Array[Int](n + 1) // chosen j at position i (0 = unreachable)
    var i = 1
    while (i <= n) {
      var bestTotal = Long.MinValue
      var bestJ = 0
      var j = 1
      val jMax = math.min(maxLen, i)
      while (j <= jMax) {
        if (i - j == 0 || back(i - j) > 0) { // predecessor reachable
          val sc = scores.get(w.substring(i - j, i))
          if (sc != null) {
            val t = total(i - j) + sc.longValue()
            // scan j ascending; accept equal totals at larger j so ties
            // prefer the LONGER last piece (the oracle's ORDER BY j DESC)
            if (bestJ == 0 || t > bestTotal || (t == bestTotal && j > bestJ)) {
              bestTotal = t; bestJ = j
            }
          }
        }
        j += 1
      }
      // bestJ == 0 marks position i unreachable — NOT an error yet: a
      // vocabulary of multi-char pieces only (no "a"/"b" next to "ab")
      // can still segment the full word even though some prefix lengths
      // have no parse (ADVICE r15). Only dp[n] unreachable fails.
      total(i) = bestTotal
      back(i) = bestJ
      i += 1
    }
    require(back(n) > 0,
      s"unigram vocabulary cannot segment '$w' — no combination of pieces " +
        "covers it (the in-repo trainer always seeds every corpus " +
        "character, so this word carries a character or sequence absent " +
        "from the supplied piece table)")
    // backtrace
    val buf = scala.collection.mutable.ArrayBuffer.empty[Any]
    var p = n
    while (p > 0) {
      buf.prepend(UTF8String.fromString(w.substring(p - back(p), p)))
      p -= back(p)
    }
    new GenericArrayData(buf.toArray)
  }

  val Name = "graft_unigram_segment"

  /** The row's matcher, from the two aligned literal arrays. */
  def matcher(children: Seq[Expression]): Seq[Any] = {
    val ps = Builders.litStrings(Name, "pieces argument", children(1))
    val ss = Builders.litValue(Name, "scores argument", children(2))
      .asInstanceOf[ArrayData].toLongArray()
    require(ps.length == ss.length,
      s"$Name pieces (${ps.length}) and scores (${ss.length}) must align")
    Seq(Model(ps.zip(ss.toSeq)))
  }

  /** Column API: `model` rides the plan as two aligned literal arrays. */
  def unigramSegment(word: Column, model: Seq[(String, Long)]): Column =
    GraftFunctions.call(Name, word,
      lit(model.map(_._1).toArray), lit(model.map(_._2).toArray))
}
