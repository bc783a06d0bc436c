package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions.typedlit

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
  * regex. The walk is [[LangIdLong.MultiMatcher]]'s, over one set.
  *
  * Token semantics match `split(text, " ")` precisely: empty tokens between
  * consecutive spaces (and at the ends) are tokens; they count only if the
  * set contains the empty string.
  */
object WordSetCountLong {
  val Name = "graft_word_set_count"

  /** The row's matcher: the one-set case of graft_lang_id's. */
  def matcher(children: Seq[Expression]): Seq[Any] =
    Seq(LangIdLong.MultiMatcher(
      Seq(Builders.litStrings(Name, "words argument", children(1)))))

  /** Column API. `words` is embedded in the plan (a per-query constant). */
  def wordSetCount(text: Column, words: Seq[String]): Column =
    GraftFunctions.call(Name, text, typedlit(words))
}
