package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Every word window of EXACTLY order `n` as a string, WITH multiplicity,
  * in one per-row codegen pass — the occurrence fan-out of the LM scoring
  * paths ([[graft.operators.TextOps]] `bigramRows` / `trigramRows`):
  * window = the n consecutive single-space-split tokens joined by single
  * spaces, which is byte-identical to the contiguous source range, so each
  * window is a zero-copy UTF8String slice over the row's own byte copy
  * (the [[NgramRowsLong]] discipline — `getBytes` hands this expression a
  * private array).
  *
  * Why native (round 20): the relational form was
  * `explode(when(size(w) >= n, transform(sequence(1, size(w)-n+1), i =>
  * struct(element_at(w, i), ...))))` — a CodegenFallback transform whose
  * lambda evaluates INTERPRETED per window with n boxed element_at calls,
  * executed over every SCORED document in lm4/lm6/lm7/lm8/lm9 (the score
  * side is the whole corpus — the big side of every LM serve). Emitting
  * the window as ONE string also lets the per-doc type aggregate group on
  * a single key; a fixed-position split recovers (w1..wn) losslessly per
  * DISTINCT type (single-space tokens never contain spaces), so the model
  * join chain is unchanged and runs once per type, never per occurrence.
  *
  * Contract: text NULL → NULL (explode drops it); fewer than n tokens →
  * empty array — exactly the `when(...).otherwise(empty)` of the retired
  * form (PropertySpec pins the equivalence).
  */
object WordWindowsLong {
  val Name = "graft_word_windows"

  val OutType: DataType = ArrayType(StringType, containsNull = false)

  private val Empty = new GenericArrayData(new Array[Any](0))

  /** Where each word of `b` starts under `split(text, " ")` (empty words
    * kept), plus a sentinel `b.length + 1`: word w spans
    * [starts(w), starts(w + 1) - 1), so a window of n words from w ends at
    * starts(w + n) - 1 and there are `starts.length - 1` words. The one
    * word-start walk of the window, n-gram, shingle, word-gram-stats and
    * CDC kernels.
    */
  def wordStarts(b: Array[Byte]): Array[Int] = {
    var nWords = 1
    var i = 0
    while (i < b.length) { if (b(i) == ' '.toByte) nWords += 1; i += 1 }
    val starts = new Array[Int](nWords + 1)
    var w = 1
    i = 0
    while (i < b.length) {
      if (b(i) == ' '.toByte) { starts(w) = i + 1; w += 1 }
      i += 1
    }
    starts(nWords) = b.length + 1
    starts
  }

  /** The per-document kernel behind graft_word_windows
    * (n is a checked literal in [1, 8]). */
  def compute(text: UTF8String, n: Int): GenericArrayData = {
    // getBytes copies unless the string spans its whole base array, and a
    // spanning base array is owned by this string alone — either way `b`
    // is private and immutable, so the window slices below can wrap it
    val b = text.getBytes
    val starts = wordStarts(b)
    val nGrams = starts.length - n
    if (nGrams <= 0) return Empty
    val out = new Array[Any](nGrams)
    var g = 0
    while (g < nGrams) {
      val s = starts(g)
      out(g) = UTF8String.fromBytes(b, s, starts(g + n) - 1 - s)
      g += 1
    }
    new GenericArrayData(out)
  }

  /** All order-`n` word windows of `text`, with multiplicity. */
  def wordWindows(text: Column, n: Int): Column =
    GraftFunctions.call(Name, text, lit(n))
}
