package graft.plans

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Exact integer dot product of two `array<long>` columns as a native
  * Catalyst expression with whole-stage codegen.
  *
  * Why not `aggregate(zip_with(a, b, _*_), 0L, _+_)`: Spark's higher-order
  * functions evaluate their lambdas interpreted and `zip_with` materializes
  * an intermediate array per row — measured ~50x slower on the pairwise
  * similarity path (2M pairs x 64 dims at sf0.1). This expression compiles
  * to a tight primitive loop over `ArrayData.getLong`, no allocation, and
  * participates in whole-stage codegen, which is what the 100 TB path needs.
  */
case class DotProductLong(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<bigint> arguments, " +
        s"got (${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_dot_long"

  // Mismatched lengths throw (in both eval paths): a dimension bug must
  // surface as an error, not a plausible-but-wrong truncated dot product —
  // DuckDB's list_dot_product errors on mismatch too, so silently truncating
  // would also let engine and oracle diverge on malformed data.
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements())
      throw new IllegalArgumentException(
        s"$prettyName: array length mismatch ($n vs ${y.numElements()})")
    var acc = 0L
    var i = 0
    while (i < n) { acc += x.getLong(i) * y.getLong(i); i += 1 }
    acc
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  throw new IllegalArgumentException(
         |    "graft_dot_long: array length mismatch (" + $n + " vs " + $b.numElements() + ")");
         |}
         |long $acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $a.getLong($i) * $b.getLong($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
