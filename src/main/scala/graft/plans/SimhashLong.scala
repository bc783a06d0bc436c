package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.unsafe.types.UTF8String

/** 48-bit simhash of a document in ONE per-row pass: split on single spaces
  * (empty tokens kept — the exact semantics of `split(text, ' ')` /
  * DuckDB `string_split(text, ' ')`), hash each token to its 48-bit md5
  * prefix (Md5PrefixLong semantics), accumulate signed per-bit counts, pack
  * bits where the count is positive.
  *
  * Equivalent to the relational form in Dedup.simhash (token explode ->
  * 48 conditional SUM aggregates -> pack), and hash-verified against the
  * same SQL oracle — but with NO row explosion and NO aggregation: the
  * relational form turns every document into |tokens| shuffled rows and
  * feeds a 48-column hash aggregate; at corpus scale that is millions of
  * rows and a wide hash-map per partition for what is inherently a per-row
  * scalar. Here the whole signature is a tight JVM loop per document —
  * the map-side-only shape a 100 TB corpus scan needs.
  */
object SimhashLong {
  val Bits = 48

  /** The per-document kernel behind graft_simhash_long. */
  def simhash(text: UTF8String): Long = {
    // UTF8String.split keeps empty tokens (limit -1), matching
    // `split(text, ' ')` in both engines; a single space is a literal under
    // Java regex, so String.split over the decoded text is identical.
    val toks = text.toString.split(" ", -1)
    val counts = new Array[Int](Bits)
    var i = 0
    while (i < toks.length) {
      val h = Md5PrefixLong.prefix(toks(i).getBytes("UTF-8"), 6)
      var b = 0
      while (b < Bits) {
        if (((h >> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
      i += 1
    }
    var acc = 0L
    var b = 0
    while (b < Bits) { if (counts(b) > 0) acc |= (1L << b); b += 1 }
    acc
  }

  val Name = "graft_simhash_long"

  def simhashLong(c: Column): Column =
    GraftFunctions.call(Name, c)
}
