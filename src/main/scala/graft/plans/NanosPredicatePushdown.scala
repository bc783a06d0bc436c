package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{LongType, TimestampType}

/** Custom optimizer rule: rewrite timestamp comparisons THROUGH the
  * nanos-as-long conversion so they reach the parquet scan.
  *
  * The `events` table stores TIMESTAMP(NANOS), which Spark can only read as
  * a raw long (Tables.events converts with `timestamp_micros(ts div 1000)`).
  * That projection is opaque to Catalyst's pushdown: a cutoff like
  * `ts < '2024-01-15'` would otherwise evaluate post-scan, reading 100% of
  * rows — at 100 TB that is the difference between a partition-pruned scan
  * and a full-table scan.
  *
  * Rewrite (for non-negative nanos and literal L in microseconds):
  *   timestamp_micros(x div 1000) <  L  <=>  x <  L*1000
  *   timestamp_micros(x div 1000) <= L  <=>  x <  (L+1)*1000
  *   timestamp_micros(x div 1000) >  L  <=>  x >= (L+1)*1000
  *   timestamp_micros(x div 1000) >= L  <=>  x >= L*1000
  *   timestamp_micros(x div 1000) =  L  <=>  x >= L*1000 AND x < (L+1)*1000
  * (floor-division algebra; overflow-guarded, skips the rewrite on overflow).
  */
object NanosPredicatePushdown extends Rule[LogicalPlan] {

  private object NanosToTs {
    /** Matches timestamp_micros(x div 1000) and yields x (the nanos long). */
    def unapply(e: Expression): Option[Expression] = e match {
      case MicrosToTimestamp(IntegralDivide(x, Literal(1000L, LongType), _))
          if x.dataType == LongType => Some(x)
      case _ => None
    }
  }

  private def nanos(l: Long, plusOne: Boolean): Option[Literal] =
    try Some(Literal(Math.multiplyExact(if (plusOne) Math.addExact(l, 1L) else l, 1000L), LongType))
    catch { case _: ArithmeticException => None }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case orig @ LessThan(NanosToTs(x), Literal(l: Long, TimestampType)) =>
      nanos(l, plusOne = false).map(LessThan(x, _)).getOrElse(orig)
    case orig @ LessThanOrEqual(NanosToTs(x), Literal(l: Long, TimestampType)) =>
      nanos(l, plusOne = true).map(LessThan(x, _)).getOrElse(orig)
    case orig @ GreaterThan(NanosToTs(x), Literal(l: Long, TimestampType)) =>
      nanos(l, plusOne = true).map(GreaterThanOrEqual(x, _)).getOrElse(orig)
    case orig @ GreaterThanOrEqual(NanosToTs(x), Literal(l: Long, TimestampType)) =>
      nanos(l, plusOne = false).map(GreaterThanOrEqual(x, _)).getOrElse(orig)
    case orig @ EqualTo(NanosToTs(x), Literal(l: Long, TimestampType)) =>
      (nanos(l, plusOne = false), nanos(l, plusOne = true)) match {
        case (Some(lo), Some(hi)) => And(GreaterThanOrEqual(x, lo), LessThan(x, hi))
        case _ => orig
      }
    // literal-on-the-left mirrors (L op ts  <=>  ts flipped-op L)
    case orig @ LessThan(Literal(l: Long, TimestampType), NanosToTs(x)) =>
      nanos(l, plusOne = true).map(GreaterThanOrEqual(x, _)).getOrElse(orig)
    case orig @ LessThanOrEqual(Literal(l: Long, TimestampType), NanosToTs(x)) =>
      nanos(l, plusOne = false).map(GreaterThanOrEqual(x, _)).getOrElse(orig)
    case orig @ GreaterThan(Literal(l: Long, TimestampType), NanosToTs(x)) =>
      nanos(l, plusOne = false).map(LessThan(x, _)).getOrElse(orig)
    case orig @ GreaterThanOrEqual(Literal(l: Long, TimestampType), NanosToTs(x)) =>
      nanos(l, plusOne = true).map(LessThan(x, _)).getOrElse(orig)
    case orig @ EqualTo(Literal(l: Long, TimestampType), NanosToTs(x)) =>
      (nanos(l, plusOne = false), nanos(l, plusOne = true)) match {
        case (Some(lo), Some(hi)) => And(GreaterThanOrEqual(x, lo), LessThan(x, hi))
        case _ => orig
      }
  }
}
