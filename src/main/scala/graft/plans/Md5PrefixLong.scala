package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.lit

/** First `nBytes` of md5(input) as an unsigned big-endian long — the
  * engine-portable string hash used by minhash/simhash (equals
  * `conv(substr(md5(x), 1, 2*nBytes), 16, 10)` and DuckDB's
  * `CAST('0x' || substr(md5(x), 1, 2*nBytes) AS BIGINT)`).
  *
  * Native instead of composed because the composed form hex-encodes the full
  * digest, substrings it, and string-parses the result PER ROW — on the
  * shingle-explode path that's hundreds of millions of avoidable string ops
  * at sf0.1 and beyond. Here: one digest, one big-endian fold, no strings.
  * A string or binary input works; `n_bytes` is a literal in [1, 7] so the
  * value stays positive in a long.
  */
object Md5PrefixLong {
  private val digests = ThreadLocal.withInitial[java.security.MessageDigest](
    () => java.security.MessageDigest.getInstance("MD5"))

  /** Big-endian unsigned value of the first n digest bytes. */
  def prefix(bytes: Array[Byte], n: Int): Long =
    prefix(bytes, 0, bytes.length, n)

  /** Range variant — digest `len` bytes from `off` without copying (the
    * ShingleHashesLong zero-copy gram path). */
  def prefix(bytes: Array[Byte], off: Int, len: Int, n: Int): Long = {
    val md = digests.get()
    md.reset()
    md.update(bytes, off, len)
    val d = md.digest()
    var acc = 0L
    var i = 0
    while (i < n) { acc = (acc << 8) | (d(i) & 0xffL); i += 1 }
    acc
  }

  val Name = "graft_md5_prefix_long"

  def md5PrefixLong(c: Column, nBytes: Int): Column =
    GraftFunctions.call(Name, c, lit(nBytes))
}
