package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.functions.typedlit
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Count of single-space-split tokens that are members of a literal word
  * set — EXACTLY `size(filter(split(text, " "), w => w.isin(words)))`, the
  * stopword-density / language-marker primitive of the quality and lang-id
  * gates (t2/t6/t11 and every composed app built on them).
  *
  * Why native (round 19): `filter(...)` is a higher-order function, and
  * HOFs are CodegenFallback — the lambda evaluates INTERPRETED per array
  * element with a boxed allocation, plus the `split` materializes the whole
  * token array per call; `qualityScore` + `langId` together ran SIX such
  * filters per row (five of them each with their own split), and the
  * interpreted eval dominated corpus_app's lang/quality stages in the
  * profiler. Here the row stays inside whole-stage codegen: one pass over
  * the UTF-8 BYTES (0x20 never occurs inside a multi-byte sequence, so
  * byte-level space splitting is exact), each token compared against the
  * set's byte images bucketed by length — no split array, no boxing, no
  * regex.
  *
  * Token semantics match `split(text, " ")` precisely: empty tokens between
  * consecutive spaces (and at the ends) are tokens; they count only if the
  * set contains the empty string.
  */
case class WordSetCountLong(child: Expression, words: Seq[String])
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs string input, got ${other.simpleString}")
    }

  override def dataType: DataType = LongType
  override def prettyName: String = WordSetCountLong.Name

  @transient private lazy val matcher = new WordSetCountLong.Matcher(words)

  override def nullSafeEval(input: Any): Any =
    matcher.count(input.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("matcher", matcher,
      classOf[WordSetCountLong.Matcher].getName)
    defineCodeGen(ctx, ev, c => s"$ref.count($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WordSetCountLong {

  /** Byte-image word set bucketed by token length; one linear probe per
    * token (sets here are 5-10 words — a hash is slower than the memcmp).
    */
  final class Matcher(words: Seq[String]) extends Serializable {
    private val images: Array[Array[Byte]] =
      words.distinct.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .toArray
    private val maxLen = if (images.isEmpty) -1 else images.map(_.length).max
    // byLen(L) = the images of length L, so a token only ever compares
    // against same-length candidates
    private val byLen: Array[Array[Array[Byte]]] =
      Array.tabulate(maxLen + 1)(l => images.filter(_.length == l))

    def count(text: UTF8String): Long = {
      val b = text.getBytes
      var total = 0L
      var start = 0
      var i = 0
      while (i <= b.length) {
        if (i == b.length || b(i) == ' '.toByte) {
          val len = i - start
          if (len <= maxLen) {
            val cands = byLen(len)
            var k = 0
            var matched = false
            while (k < cands.length && !matched) {
              val c = cands(k)
              var j = 0
              while (j < len && c(j) == b(start + j)) j += 1
              matched = j == len
              k += 1
            }
            if (matched) total += 1L
          }
          start = i + 1
        }
        i += 1
      }
      total
    }
  }

  val Name = "graft_word_set_count"

  def fromChildren(children: Seq[Expression]): WordSetCountLong = {
    val ws = Builders.litStrings(Name, "words argument", children(1))
    WordSetCountLong(children.head, ws)
  }

  /** Column API. `words` is embedded in the plan (a per-query constant). */
  def wordSetCount(text: Column, words: Seq[String]): Column =
    GraftFunctions.call(Name, text, typedlit(words))
}
