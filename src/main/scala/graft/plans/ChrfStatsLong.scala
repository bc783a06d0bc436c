package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The complete per-pair chrF sufficient statistic (Popović 2015) in ONE
  * per-row pass: for a (candidate, reference) text pair, every order
  * n = 1..maxOrder where BOTH whitespace-stripped sides hold order-n grams
  * gets a struct (ord, matches, cand_total, ref_total) — clipped matches
  * m = Σ_g min(c_cand(g), c_ref(g)) with multiplicity, and the two
  * occurrence totals (= len − n + 1). Returns
  * array<struct<ord,matches,cand_total,ref_total>> for `inline()`, or an
  * empty array when either side is too short at every order.
  *
  * Why native (the [[MinhashSigLong]] rationale, §2.3/§8 of the
  * optimization guide — shuffle metadata, not payloads): the relational
  * form fans each SIDE out into (id, ord, gram) rows — maxOrder × every
  * character — then pays a gram-keyed count aggregate per side, a
  * (id, ord, gram) clip JOIN, and two total aggregates: four exchanges
  * whose keys are the gram strings themselves (~295 MB shuffled at sf0.1,
  * the suite's largest exchange, for a query whose OUTPUT is 6 rows per
  * pair). But every gram is pair-local — nothing about the corpus enters
  * the statistic — so the whole computation is a per-row kernel once the
  * two texts sit in one row: one id-keyed join of the texts (the only
  * exchange, carrying bytes proportional to the corpus, not its gram
  * fan-out) and zero gram shuffles. Counting uses one hash map per order
  * with candidate counts decremented by reference probes — exactly
  * Σ min(cc, rc).
  *
  * Exactness: grams are CODE-POINT substrings (`String(int[], off, len)`)
  * — Spark `substr`/`length` and DuckDB `substr`/`length` both count code
  * points, so a supplementary-plane character is one gram position on
  * every path. Stripping removes exactly space/tab/LF/CR (the enumerated
  * class the relational form used — NOT `\s`).
  */
object ChrfStatsLong {
  val Name = "graft_chrf_stats"

  val OutType: DataType = ArrayType(StructType(Seq(
    StructField("ord", LongType, nullable = false),
    StructField("matches", LongType, nullable = false),
    StructField("cand_total", LongType, nullable = false),
    StructField("ref_total", LongType, nullable = false))),
    containsNull = false)

  /** Whitespace-stripped code points: exactly space/tab/LF/CR removed. */
  private def stripCps(s: String): Array[Int] = {
    val out = new Array[Int](s.length)
    var i = 0
    var n = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      if (cp != ' ' && cp != '\t' && cp != '\n' && cp != '\r') {
        out(n) = cp; n += 1
      }
      i += Character.charCount(cp)
    }
    java.util.Arrays.copyOf(out, n)
  }

  /** The per-pair kernel behind graft_chrf_stats
    * (max_order is a checked literal in [1, 8]). */
  def compute(cand: UTF8String, ref: UTF8String, maxOrder: Int)
      : GenericArrayData = {
    val c = stripCps(cand.toString)
    val r = stripCps(ref.toString)
    val nOrds = math.min(maxOrder, math.min(c.length, r.length))
    val rows = new Array[Any](math.max(nOrds, 0))
    var ord = 1
    while (ord <= nOrds) {
      // candidate gram counts, then reference probes decrement: the count
      // of successful probes is exactly Σ_g min(cc, rc)
      val counts = new java.util.HashMap[String, Array[Int]](
        (c.length - ord + 1) * 2)
      var i = 0
      while (i <= c.length - ord) {
        val k = new String(c, i, ord)
        val slot = counts.get(k)
        if (slot == null) counts.put(k, Array(1)) else slot(0) += 1
        i += 1
      }
      var matches = 0L
      var j = 0
      while (j <= r.length - ord) {
        val slot = counts.get(new String(r, j, ord))
        if (slot != null && slot(0) > 0) { slot(0) -= 1; matches += 1L }
        j += 1
      }
      rows(ord - 1) = new GenericInternalRow(Array[Any](ord.toLong, matches,
        (c.length - ord + 1).toLong,
        (r.length - ord + 1).toLong)): InternalRow
      ord += 1
    }
    new GenericArrayData(rows)
  }

  /** Per-pair chrF statistic rows for `inline()`. */
  def chrfStats(cand: Column, ref: Column, maxOrder: Int): Column =
    GraftFunctions.call(Name, cand, ref, lit(maxOrder))
}
