package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Every loop kernel's malformed-input error is the same whether the call
  * runs in whole-stage generated code or interpreted. Each case reads
  * from `spark.range`, so the kernel really executes inside the generated
  * stage (a `LocalRelation` would be evaluated interpreted at planning).
  * The error must name the function and its cause.
  */
class FailLoudParitySpec extends SparkSpec {

  private val id = col("id")
  private def longs(xs: Long*): Column = array(xs.map(lit): _*)
  private val nullLong = lit(null).cast("bigint")

  // (function, cause the message must state, the failing call)
  private val cases: Seq[(String, String, Column)] = Seq(
    (GraftFunctions.DotLongName, "array length mismatch (1 vs 2)",
      GraftFunctions.dotLong(array(id), array(id, id))),
    (GraftFunctions.PqAdcName, "subspace count mismatch (1 codes vs 2 LUT rows)",
      GraftFunctions.pqAdc(array(id), array(longs(1, 2), longs(3, 4)))),
    (GraftFunctions.PqAdcName, "null code in subspace 1",
      GraftFunctions.pqAdc(array(id, nullLong), array(longs(1, 2), longs(3, 4)))),
    (GraftFunctions.PqAdcName, "code 5 out of range [0, 2) in subspace 0",
      GraftFunctions.pqAdc(array(id + 5), array(longs(1, 2)))),
    (GraftFunctions.PqAdcDirectName, "null code in subspace 0",
      GraftFunctions.pqAdcDirect(array(id, id), array(nullLong),
        array(array(longs(1, 2))))),
    (GraftFunctions.PqAdcDirectName, "code 7 out of range [0, 1) in subspace 0",
      GraftFunctions.pqAdcDirect(array(id, id), array(id + 7),
        array(array(longs(1, 2))))),
    (GraftFunctions.PqEncodeName, "shape mismatch (dim=3, 2 codebook subspaces)",
      GraftFunctions.pqEncode(array(id, id, id),
        array(array(longs(1)), array(longs(2))))),
    (GraftFunctions.LshBucketsName, "planes length 3 does not tile nPlanes=1 x dim=2",
      GraftFunctions.lshBuckets(array(id, lit(1L)), longs(1, 2, 3), 1)))

  /** The kernel's own error message, from the first row's failure. */
  private def kernelError(call: Column): String = {
    val df = spark.range(0, 1, 1, 1).select(call)
    val t = intercept[Throwable](df.collect())
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .collectFirst { case e: IllegalArgumentException => e.getMessage }
      .getOrElse(fail(s"no IllegalArgumentException in the chain of $t"))
  }

  private def interpreted[T](body: => T): T = {
    val confs = Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    val before = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("loop kernels fail loud with one message in generated and interpreted code") {
    cases.foreach { case (name, cause, call) =>
      val generated = kernelError(call)
      val plain = interpreted(kernelError(call))
      assert(generated == plain, s"$name: generated and interpreted differ")
      assert(generated == s"$name: $cause", generated)
    }
  }
}
