package graft.plans

import java.math.BigInteger

import org.apache.spark.sql.Column

/** Deterministic INTEGER fixed-point natural log — ln with zero libm
  * dependence, so Spark and any SQL oracle engine agree BIT-FOR-BIT on every
  * rounded value by construction.
  *
  * Why: round(ln(x) * 1e6) is only cross-engine stable if both engines' `ln`
  * agree to within the distance of the value from its rounding boundary.
  * Empirically (round-10 gate) a host DuckDB build flipped one of
  * sm9_importance_resample's 564 boundary-nearest roundings (margin 1.7e-4)
  * while the JVM did not — and no data-independent margin can be
  * guaranteed, because boundary distances are uniform draws. The fix is to
  * take libm out of the contract: both sides run the SAME integer
  * shift-and-square algorithm, so the fixed-point result is a pure function
  * of (p, q) with no float in sight. t12/t17-style single-ln roundings keep
  * the float form (coarse-rational margins measured safe); sm9's
  * double-ln composition uses this.
  *
  * Algorithm (classic binary-log shift-and-square, 128-bit intermediates):
  *   log2(p/q): normalize the 120-bit scaled quotient to a 51-bit mantissa
  *   m in [2^50, 2^51); 50 iterations of m := m^2 >> 50 emit one fraction
  *   bit each (>= 2^51 means the log doubled past 1). L = e*2^50 + fb is an
  *   EXACT integer function of (p, q). ln values derive from L by integer
  *   multiplication with fixed ln(2) constants and half-away rounding —
  *   accuracy vs true ln is < 1 micro-nat across the domain (PropertySpec
  *   asserts it), and the low bits, though not "true", are identical on
  *   every engine that implements the same integer recurrence (the DuckDB
  *   twin is a recursive CTE over HUGEINT — see CorpusQueries.sqlLog2Fp).
  *
  * Gumbel composition: -ln(-ln u) for u = (2h+1)/2^33 needs ~50 mantissa
  * bits because -ln u spans [1.16e-10, 22.9]; the inner value is carried in
  * Q40 fixed point (-ln u = 33*ln2 - ln(2h+1), exact integers), then the
  * outer ln runs over the exact rational v/2^40. The extreme tail
  * (h within ~100 of 2^32) deviates from the float Gumbel by up to ~0.05
  * nats — a deterministic, engine-identical definition choice.
  *
  * Scale note: per-row cost is ~50 BigInteger mul/shr of <= 102-bit values
  * (micro-seconds). The importance-resample call sites evaluate it once per
  * (bucket, side) and once per kept doc — never per pair — so this is not a
  * hot kernel; a two-long 128-bit reimplementation is the upgrade path if a
  * future operator puts it on a per-pair path.
  */
object LnFp {

  /** round(ln2 * 2^40) — Q40 ln(2). */
  val Ln2Q40: Long = 762123384786L
  /** round(ln2 * 1e6 * 2^20) — micro-nats per log2 unit, Q20. */
  val Ln2MicroQ20: Long = 726817498003L
  /** round(ln2 * 2^45) — Q45 ln(2) (Q50 log2 -> Q40 ln scaling). */
  val Ln2Q45: Long = 24387948313146L

  private val F = 50
  private val One = BigInteger.ONE
  private val TwoPow50 = One.shiftLeft(50)
  private val TwoPow51 = One.shiftLeft(51)

  /** EXACT integer Q50 log2(p/q): e*2^50 + fb with fb the 50 shift-and-
    * square fraction bits. Total error vs true log2 < 2^-45. Requires
    * 1 <= p,q < 2^62.
    */
  def log2fp50(p: Long, q: Long): Long = {
    require(p >= 1 && q >= 1, s"log2fp50 requires positive p, q; got ($p, $q)")
    val blp = 64 - java.lang.Long.numberOfLeadingZeros(p)
    val a = BigInteger.valueOf(p).shiftLeft(120 - blp)
    val bq = a.divide(BigInteger.valueOf(q))
    val blq = bq.bitLength()
    var x = bq.shiftRight(blq - 51)
    val eTot = (blq - 1) - 120 + blp
    var fb = 0L
    var i = 0
    while (i < F) {
      x = x.multiply(x).shiftRight(50)
      if (x.compareTo(TwoPow51) >= 0) {
        x = x.shiftRight(1)
        fb = (fb << 1) | 1L
      } else fb = fb << 1
      i += 1
    }
    eTot * (1L << 50) + fb
  }

  /** Half-away-from-zero division of a BigInteger by 2^shift. */
  private def rdiv(n: BigInteger, shift: Int): Long = {
    val half = One.shiftLeft(shift - 1)
    val r =
      if (n.signum() >= 0) n.add(half).shiftRight(shift)
      else n.negate().add(half).shiftRight(shift).negate()
    r.longValueExact()
  }

  /** Deterministic micro-nats of ln(p/q): rdiv(L * ln2microQ20, 2^70). */
  def lnMicro(p: Long, q: Long): Long =
    rdiv(BigInteger.valueOf(log2fp50(p, q))
      .multiply(BigInteger.valueOf(Ln2MicroQ20)), 70)

  /** Deterministic Q40 ln(n) for a positive integer n. */
  def lnQ40(n: Long): Long =
    rdiv(BigInteger.valueOf(log2fp50(n, 1))
      .multiply(BigInteger.valueOf(Ln2Q45)), 55)

  /** Deterministic micro-nat Gumbel noise -ln(-ln u), u = (2h+1)/2^33, for
    * a 32-bit hash h — the derandomized Gumbel-max draw of
    * Sampling.importanceResample. All integers: the inner -ln u is
    * 33*Ln2Q40 - lnQ40(2h+1) (>= 128 > 0 for every h < 2^32), the outer ln
    * runs over the exact rational v/2^40.
    */
  def gumbelMicro(h: Long): Long = {
    require(h >= 0 && h < (1L << 32), s"gumbelMicro requires a 32-bit hash; got $h")
    val v = 33L * Ln2Q40 - lnQ40(2 * h + 1)
    -lnMicro(v, 1L << 40)
  }
}

/** Column API of the two LnFp kernels (rows of [[GraftFunctions.all]]). */
object LnFpFunctions {
  val LnMicroName = "graft_ln_micro"
  val GumbelMicroName = "graft_gumbel_micro"

  /** Column API: integer fixed-point micro-nats of ln(p/q). */
  def lnMicro(p: Column, q: Column): Column =
    GraftFunctions.call(LnMicroName, p, q)

  /** Column API: integer micro-nat Gumbel noise for a 32-bit hash. */
  def gumbelMicro(h: Column): Column = GraftFunctions.call(GumbelMicroName, h)
}
