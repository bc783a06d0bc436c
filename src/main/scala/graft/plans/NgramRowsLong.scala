package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Every word n-gram of orders 1..maxOrder as (ord, gram, prev) structs in
  * ONE per-row pass — the LM-counting fan-out ([[graft.operators.TextOps]]
  * `ngramRows`): gram = the window joined by single spaces, prev = the
  * single word left of the window (null at document start, the Kneser–Ney
  * continuation-evidence contract). Unlike the dedup-side
  * [[ShingleHashesLong]], gram TEXT survives — the count table is the
  * product — so grams are emitted as UTF8String slices over the row's own
  * byte copy (a window joined by single spaces is byte-identical to the
  * contiguous source range; `getBytes` hands this expression a private
  * array, so the slices are zero-copy AND safe).
  *
  * Why native (round 19): the relational form was a flatten over NESTED
  * transform/filter higher-order functions — CodegenFallback, interpreted
  * per element, one boxed struct + a concat_ws String per gram — profiled
  * across the whole lm family (lm1/lm3–lm9, lm5's ingest). Here the pass
  * stays inside whole-stage codegen and allocates only the output structs.
  */
object NgramRowsLong {
  val Name = "graft_ngram_rows"

  val OutType: DataType = ArrayType(StructType(Seq(
    StructField("ord", LongType, nullable = false),
    StructField("gram", StringType, nullable = false),
    StructField("prev", StringType, nullable = true))),
    containsNull = false)

  /** The per-document kernel behind graft_ngram_rows
    * (max_order is a checked literal in [1, 8]). */
  def compute(text: UTF8String, maxOrder: Int): GenericArrayData = {
    // getBytes copies unless the string spans its whole base array, and a
    // spanning base array is owned by this string alone — either way `b`
    // is private and immutable, so the gram slices below can wrap it
    val b = text.getBytes
    val starts = WordWindowsLong.wordStarts(b)
    val nWords = starts.length - 1
    val ords = math.min(maxOrder, nWords)
    var total = 0
    var n = 1
    while (n <= ords) { total += nWords - n + 1; n += 1 }
    val out = new Array[Any](total)
    var k = 0
    n = 1
    while (n <= ords) {
      var g = 0
      val nGrams = nWords - n + 1
      while (g < nGrams) {
        val s = starts(g)
        val e = starts(g + n) - 1
        val gram = UTF8String.fromBytes(b, s, e - s)
        val prev =
          if (g == 0) null
          else UTF8String.fromBytes(b, starts(g - 1), starts(g) - 1 - starts(g - 1))
        out(k) = new GenericInternalRow(
          Array[Any](n.toLong, gram, prev)): InternalRow
        k += 1
        g += 1
      }
      n += 1
    }
    new GenericArrayData(out)
  }

  /** (ord, gram, prev) rows of orders 1..maxOrder for `inline()`. */
  def ngramRows(text: Column, maxOrder: Int): Column =
    GraftFunctions.call(Name, text, lit(maxOrder))
}
