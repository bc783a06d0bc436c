package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions.typedlit
import org.apache.spark.unsafe.types.UTF8String

/** Marker-set language ID in ONE byte pass — EXACTLY the argmax CASE over
  * per-set [[WordSetCountLong]] counts that `TextOps.langId` used to build
  * from five separate kernels:
  *
  *   scores(i) = count of single-space tokens of `text` in `sets(i)`
  *   result    = labels(first index of the maximum score)
  *
  * (first-index-of-max ≡ the `when(en >= de && en >= es && ...)` chain:
  * the first occurrence of the global maximum is the first label that is
  * >= every LATER label's score, and any earlier label is beaten by that
  * maximum.) NULL text yields NULL — `TextOps.langId` coalesces to the
  * last label, replicating the old chain's `otherwise` exactly.
  *
  * Why native (round 19, second pass): the five-kernel `when`-chain
  * referenced each score up to four times. Whole-stage codegen inlines
  * the condition tree — after CollapseProject substitutes a synthesized
  * text expression into every reference (the corpus_app shape: a ~200-arg
  * concat), the fused stage's generated `processNext()` blew janino's
  * 64 KB method limit and the WHOLE stage (scan + synth + langId + filter)
  * silently fell back to INTERPRETED execution — at 100 TB that is a full
  * corpus pass paying boxed per-element eval. One kernel call keeps the
  * stage compiled, and the token walk runs ONCE instead of five times
  * (every token probes all five sets via one shared length-bucketed
  * image table).
  *
  * Token semantics match `split(text, " ")` precisely; a token in several
  * sets (e.g. "la" in both es and fr) increments each containing set's
  * score, exactly as the five separate counts did.
  */
object LangIdLong {

  /** All sets' token byte-images in one length-bucketed table, each image
    * carrying the bitmask of the sets that contain it — one linear probe
    * per token answers membership for EVERY set at once (sets here are
    * 5-10 words each; a hash is slower than the memcmp). The one token
    * walk of both graft_lang_id and graft_word_set_count (one set, no
    * labels).
    */
  final case class MultiMatcher(sets: Seq[Seq[String]],
                                labels: Seq[String] = Nil) extends Matcher {
    require(sets.length <= 64,
      s"${LangIdLong.Name} takes at most 64 word sets (one bitmask bit each); " +
        s"got ${sets.length}")

    @transient private lazy val out: Array[UTF8String] =
      labels.map(UTF8String.fromString).toArray
    // distinct images across all sets in first-seen order (a token stops
    // at its first equal candidate), mask bit i set iff sets(i) has it
    @transient private lazy val images: Array[(Array[Byte], Long)] = {
      val m = scala.collection.mutable.LinkedHashMap.empty[String, Long]
      sets.zipWithIndex.foreach { case (ws, i) =>
        ws.foreach { w => m(w) = m.getOrElse(w, 0L) | (1L << i) }
      }
      m.toArray.map { case (w, mask) =>
        (w.getBytes(java.nio.charset.StandardCharsets.UTF_8), mask)
      }
    }
    // bucketed by byte length, so a token only meets same-length candidates
    @transient private lazy val byLenImg: Array[Array[Array[Byte]]] =
      Array.tabulate(maxLen + 1)(l => images.collect {
        case (b, _) if b.length == l => b
      })
    @transient private lazy val byLenMask: Array[Array[Long]] =
      Array.tabulate(maxLen + 1)(l => images.collect {
        case (b, m) if b.length == l => m
      })
    @transient private lazy val maxLen =
      if (images.isEmpty) -1 else images.map(_._1.length).max

    /** scores(i) = single-space tokens of `text` in sets(i). */
    def scores(text: UTF8String): Array[Long] = {
      val b = text.getBytes
      val counts = new Array[Long](sets.length)
      val img = byLenImg
      val masks = byLenMask
      val maxLen = img.length - 1
      var start = 0
      var i = 0
      while (i <= b.length) {
        if (i == b.length || b(i) == ' '.toByte) {
          val len = i - start
          if (len <= maxLen) {
            val cands = img(len)
            var k = 0
            var mask = 0L
            while (k < cands.length && mask == 0L) {
              val c = cands(k)
              var j = 0
              while (j < len && c(j) == b(start + j)) j += 1
              if (j == len) mask = masks(len)(k)
              k += 1
            }
            while (mask != 0L) {
              val s = java.lang.Long.numberOfTrailingZeros(mask)
              counts(s) += 1L
              mask &= mask - 1L
            }
          }
          start = i + 1
        }
        i += 1
      }
      counts
    }

    /** The label of the first set with the maximum score. */
    def pick(text: UTF8String): UTF8String = {
      val counts = scores(text)
      var best = 0
      var s = 1
      while (s < counts.length) {
        if (counts(s) > counts(best)) best = s
        s += 1
      }
      out(best)
    }
  }

  val Name = "graft_lang_id"

  /** The row's matcher, from the literal labels and word sets. */
  def matcher(children: Seq[Expression]): Seq[Any] = {
    val labels = Builders.litStrings(Name, "labels argument", children(1))
    val sets = Builders.litStringLists(Name, "sets argument", children(2))
    require(labels.nonEmpty && labels.length == sets.length,
      s"$Name needs one word set per label " +
        s"(got ${labels.length} labels, ${sets.length} sets)")
    Seq(MultiMatcher(sets, labels))
  }

  /** Column API. `labeled` is (label, words) in priority order — baked
    * into the plan as constants (per-query language inventory).
    */
  def langId(text: Column, labeled: Seq[(String, Seq[String])]): Column =
    GraftFunctions.call(Name, text, typedlit(labeled.map(_._1)),
      typedlit(labeled.map(_._2)))
}
