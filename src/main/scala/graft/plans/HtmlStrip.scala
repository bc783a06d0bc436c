package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.unsafe.types.UTF8String

/** HTML tag strip + entity decode in ONE per-row kernel — the text a
  * crawl-corpus operator should see (every TextOps scorer assumes clean
  * text; real crawls are markup). Semantics are EXACTLY the relational
  * form the oracle runs, in this order:
  *
  *   1. remove every `<[^>]*>` span (a `<` with no later `>` is literal
  *      text — the regex can't match it either);
  *   2. over the CONCATENATED remains, decode entities in ONE
  *      left-to-right pass that never rescans its own output (so a
  *      decoded `&` can never re-trigger an entity: `&amp;lt;` decodes to
  *      the literal text `&lt;` and `&#38;lt;` likewise — the
  *      HTML-correct reading). Recognized at a `&`:
  *        - the five named entities `&lt;` `&gt;` `&quot;` `&amp;` and
  *          `&nbsp;` (to a PLAIN space — the established contract; the
  *          numeric `&#160;` decodes to chr(160) instead);
  *        - numeric character references `&#NNN;` (1–7 decimal digits)
  *          and `&#xHH;`/`&#XHH;` (1–6 hex digits) whose value is 9, 10,
  *          13 or 32–255 (the ASCII/Latin-1 range real crawls carry as
  *          `&#39;`/`&#x27;` variants; leading zeros fine). Out-of-range
  *          values, over-long digit runs and malformed refs pass through
  *          untouched, as does any other `&`.
  *      The single pass generalizes the previous sequential-replace chain
  *      (`&amp;` last): on named-only input the two are provably
  *      identical, since no decoded character can extend or start a
  *      pattern without a rescan.
  *
  * Decoding AFTER the strip (not interleaved) matters for exactness: a
  * tag can split an entity (`a&l<b>t;` strips to `a&lt;` which then
  * decodes to `a<`), and the oracle's tokenize-then-transform expression
  * sees exactly that splice. The strip phase is the one that runs over
  * raw markup (bytes-heavy at 100 TB) and it is a single indexOf-driven
  * scan; the decode pass runs over the already-shrunken visible text.
  * Codegen'd via a static kernel call (the SimhashLong pattern), so the
  * scan stays inside whole-stage codegen.
  */
object HtmlStrip {

  /** The per-row kernel behind graft_html_strip. */
  def strip(html: UTF8String): UTF8String = {
    val s = html.toString
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '<') {
        val close = s.indexOf('>', i + 1)
        if (close < 0) { sb.append(s, i, s.length); i = s.length }
        else i = close + 1
      } else {
        sb.append(c); i += 1
      }
    }
    UTF8String.fromString(decodeEntities(sb.toString))
  }

  /** One left-to-right entity-decode pass; decoded output is NEVER
    * rescanned. Mirrors the oracle's tokenizer exactly, including the
    * digit-run bounds: a run longer than 7 decimal / 6 hex digits is not
    * an entity at all (the regex `{1,7};` can't end on a digit either).
    */
  def decodeEntities(s: String): String = {
    val n = s.length
    val sb = new java.lang.StringBuilder(n)
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      if (c != '&') { sb.append(c); i += 1 }
      else if (s.startsWith("&lt;", i)) { sb.append('<'); i += 4 }
      else if (s.startsWith("&gt;", i)) { sb.append('>'); i += 4 }
      else if (s.startsWith("&quot;", i)) { sb.append('"'); i += 6 }
      else if (s.startsWith("&nbsp;", i)) { sb.append(' '); i += 6 }
      else if (s.startsWith("&amp;", i)) { sb.append('&'); i += 5 }
      else {
        val end = numericRef(s, i, sb)
        if (end > i) i = end
        else { sb.append('&'); i += 1 }
      }
    }
    sb.toString
  }

  /** Try a numeric character reference at `i` (s(i) == '&'). On a
    * well-formed, in-range ref: append the char, return the index past the
    * ';'. On a well-formed but OUT-OF-RANGE ref: append the raw token
    * (pass-through), return past the ';'. Otherwise return `i` untouched.
    */
  private def numericRef(s: String, i: Int, sb: java.lang.StringBuilder): Int = {
    val n = s.length
    if (i + 1 >= n || s.charAt(i + 1) != '#') return i
    val hex = i + 2 < n && (s.charAt(i + 2) == 'x' || s.charAt(i + 2) == 'X')
    val d0 = if (hex) i + 3 else i + 2
    val maxDigits = if (hex) 6 else 7
    var j = d0
    var v = 0L
    while (j < n && j - d0 < maxDigits + 1 && digitVal(s.charAt(j), hex) >= 0) {
      v = v * (if (hex) 16 else 10) + digitVal(s.charAt(j), hex)
      j += 1
    }
    val k = j - d0
    if (k < 1 || k > maxDigits || j >= n || s.charAt(j) != ';') return i
    if (v == 9 || v == 10 || v == 13 || (v >= 32 && v <= 255)) sb.append(v.toChar)
    else sb.append(s, i, j + 1)
    j + 1
  }

  private def digitVal(c: Char, hex: Boolean): Int =
    if (c >= '0' && c <= '9') c - '0'
    else if (hex && c >= 'a' && c <= 'f') c - 'a' + 10
    else if (hex && c >= 'A' && c <= 'F') c - 'A' + 10
    else -1

  val Name = "graft_html_strip"

  def htmlStrip(c: Column): Column =
    GraftFunctions.call(Name, c)
}
