package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions.typedlit

/** Greedy longest-match subword segmentation count (the wordpiece/BPE
  * inference step): split on single spaces, then segment each word greedily
  * against a FIXED vocabulary — at every position consume the longest vocab
  * piece that prefixes the remainder — and return the total piece count for
  * the document.
  *
  * The vocabulary is a plan-time constant (corpus-trained by
  * TextOps.subwordVocab — dimension-sized, like a broadcast dim or IVF
  * centroid set), so the kernel runs per-row inside the scan with no
  * shuffle and no lookup join: exactly where tokenization belongs in a
  * 100 TB pre-training pipeline (count tokens while the text is in cache,
  * not in a later pass).
  *
  * Matching structure: pieces grouped by length, probed longest-first — each
  * position costs O(maxPieceLen) hash probes, independent of vocab size.
  * A character absent from the vocab consumes one position and counts one
  * piece (the [UNK] convention); with a corpus-trained vocab this never
  * fires on the training corpus itself (all its characters are pieces).
  */
object SubwordCount {

  /** Longest-first greedy matcher over pieces grouped by length. */
  final case class Vocab(vocab: Seq[String]) extends Matcher {
    @transient private lazy val byLen: Array[java.util.HashSet[String]] = {
      val maxLen = vocab.map(_.length).max
      val a = Array.fill(maxLen + 1)(new java.util.HashSet[String]())
      vocab.foreach(p => if (p.nonEmpty) a(p.length).add(p))
      a
    }

    def countWord(w: String): Long = {
      val byLen = this.byLen
      var pos = 0
      var n = 0L
      while (pos < w.length) {
        var len = math.min(byLen.length - 1, w.length - pos)
        var matched = 1 // [UNK] fallback: consume one char, count one piece
        while (len >= 1) {
          if (byLen(len).contains(w.substring(pos, pos + len))) {
            matched = len
            len = 0
          } else len -= 1
        }
        pos += matched
        n += 1
      }
      n
    }

    def countDocument(text: String): Long = {
      var n = 0L
      var start = 0
      var i = 0
      while (i <= text.length) {
        if (i == text.length || text.charAt(i) == ' ') {
          if (i > start) n += countWord(text.substring(start, i))
          start = i + 1
        }
        i += 1
      }
      n
    }
  }

  val Name = "graft_subword_count"

  /** The row's matcher, from the literal vocab. */
  def matcher(children: Seq[Expression]): Seq[Any] = {
    val vocab = Builders.litStrings(Name, "vocab argument", children(1))
    require(vocab.nonEmpty, s"$Name needs a non-empty vocab")
    Seq(Vocab(vocab))
  }

  /** Column API. `vocab` is embedded in the plan (a per-query constant). */
  def subwordCount(text: Column, vocab: Seq[String]): Column =
    GraftFunctions.call(Name, text, typedlit(vocab))
}
