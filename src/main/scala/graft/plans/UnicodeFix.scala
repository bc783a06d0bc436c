package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.unsafe.types.UTF8String

/** Stage-0 text hygiene in ONE per-row kernel (VERDICT r17 ask #2): every
  * downstream text operator (t1 tokens, t11 Gopher, t22 classifier)
  * silently assumes sane UTF-8, but real crawl data carries NFC/NFKC
  * variants, UTF-8 double-encoding ("Ã©" where "é" was meant — the ftfy
  * bread-and-butter) and stray control bytes. Semantics, in this order:
  *
  *   1. MOJIBAKE REPAIR, to fixpoint (≤ 4 rounds — real crawls double-
  *      encode at most twice; the bound only guards pathological input):
  *      re-encode the WHOLE string to bytes under "sloppy cp1252" (chars
  *      ≤ U+00FF map to their own byte value — the latin-1 misdecode
  *      inverse, C1 controls included; the 27 cp1252 specials € ‚ ƒ „ … †
  *      ‡ ˆ ‰ Š ‹ Œ Ž ' ' " " • – — ˜ ™ š › œ ž Ÿ map to 0x80–0x9F).
  *      If every char is encodable, the byte string is STRICTLY valid
  *      UTF-8 (overlongs/surrogates rejected) and decoding consumes at
  *      least one multi-byte sequence, the decode replaces the string and
  *      the round repeats; otherwise the string is already sane and passes
  *      through untouched. Whole-string validity is the guard that makes
  *      the repair safe: a genuine "é" followed by ASCII is NOT valid
  *      UTF-8 when re-encoded, so clean Latin-1-range text never decays —
  *      which is also what makes the kernel IDEMPOTENT (the fixpoint loop
  *      runs inside one call).
  *   2. NFC NORMALIZATION (java.text.Normalizer): "e" + U+0301 becomes
  *      "é", so equality/dedup/fingerprint operators see one spelling.
  *   3. CONTROL-CHAR POLICY: C0 controls except \t \n \r, DEL (0x7F) and
  *      the C1 block (0x80–0x9F) are removed. C1 removal runs AFTER repair
  *      on purpose: a C1 char that was really a misdecoded UTF-8
  *      continuation byte has already been repaired into text by step 1;
  *      what remains is genuine junk.
  *
  * Scale posture: per-row map work fused into the scan via a static kernel
  * call (the HtmlStrip/SimhashLong codegen pattern) — zero shuffle, zero
  * driver state, linear in bytes.
  */
object UnicodeFix {

  /** cp1252 specials: char -> byte for the 27 codepoints outside U+00FF
    * that a cp1252 misdecode of UTF-8 bytes 0x80–0x9F produces.
    */
  private val Cp1252Inv: Map[Char, Byte] = Map(
    '€' -> 0x80, '‚' -> 0x82, 'ƒ' -> 0x83, '„' -> 0x84,
    '…' -> 0x85, '†' -> 0x86, '‡' -> 0x87, 'ˆ' -> 0x88,
    '‰' -> 0x89, 'Š' -> 0x8A, '‹' -> 0x8B, 'Œ' -> 0x8C,
    'Ž' -> 0x8E, '‘' -> 0x91, '’' -> 0x92, '“' -> 0x93,
    '”' -> 0x94, '•' -> 0x95, '–' -> 0x96, '—' -> 0x97,
    '˜' -> 0x98, '™' -> 0x99, 'š' -> 0x9A, '›' -> 0x9B,
    'œ' -> 0x9C, 'ž' -> 0x9E, 'Ÿ' -> 0x9F
  ).map { case (c, b) => c -> b.toByte }

  /** The per-row kernel behind graft_unicode_fix. */
  def fix(input: UTF8String): UTF8String = {
    var s = input.toString
    var rounds = 0
    var changed = true
    while (changed && rounds < 4) {
      val repaired = repairOnce(s)
      changed = repaired ne s
      s = repaired
      rounds += 1
    }
    val nfc =
      if (java.text.Normalizer.isNormalized(s, java.text.Normalizer.Form.NFC)) s
      else java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC)
    UTF8String.fromString(stripControls(nfc))
  }

  /** One repair round: returns the decoded string, or `s` ITSELF (reference
    * equality — the fixpoint test) when no repair applies.
    */
  private def repairOnce(s: String): String = {
    val n = s.length
    if (n == 0) return s
    val bytes = new Array[Byte](n)
    var i = 0
    var multiByte = false
    while (i < n) {
      val c = s.charAt(i)
      if (c <= '\u00ff') bytes(i) = c.toByte
      else Cp1252Inv.get(c) match {
        case Some(b) => bytes(i) = b
        case None => return s // a char no misdecode produces: already sane
      }
      if ((bytes(i) & 0x80) != 0) multiByte = true
      i += 1
    }
    if (!multiByte) return s // pure ASCII: decode would be the identity
    decodeStrictUtf8(bytes) match {
      case Some(decoded) if decoded.length < n => decoded
      case _ => s
    }
  }

  /** Strict UTF-8 decode: None unless every byte participates in a
    * well-formed sequence (CharsetDecoder REPORTs overlongs, stray
    * continuations and surrogate encodings).
    */
  private def decodeStrictUtf8(bytes: Array[Byte]): Option[String] = {
    val dec = java.nio.charset.StandardCharsets.UTF_8.newDecoder()
      .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
      .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPORT)
    try Some(dec.decode(java.nio.ByteBuffer.wrap(bytes)).toString)
    catch { case _: java.nio.charset.CharacterCodingException => None }
  }

  private def stripControls(s: String): String = {
    val n = s.length
    var i = 0
    var dirty = false
    while (i < n && !dirty) { if (isJunk(s.charAt(i))) dirty = true; i += 1 }
    if (!dirty) return s
    val sb = new java.lang.StringBuilder(n)
    i = 0
    while (i < n) {
      val c = s.charAt(i)
      if (!isJunk(c)) sb.append(c)
      i += 1
    }
    sb.toString
  }

  private def isJunk(c: Char): Boolean =
    (c < ' ' && c != '\t' && c != '\n' && c != '\r') ||
      c == '\u007f' || (c >= '\u0080' && c <= '\u009f')

  val Name = "graft_unicode_fix"

  def unicodeFix(c: Column): Column =
    GraftFunctions.call(Name, c)
}
