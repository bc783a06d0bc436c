package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Ordered-sequence (funnel) analysis over an event log: how many users
  * reach step k of a prescribed event-type sequence, where step k counts
  * only when it happens STRICTLY AFTER the user's step k−1 (the chained
  * first-occurrence semantics every product-analytics funnel uses —
  * a purchase logged before the first view does not convert that view).
  *
  * Scale shape: the whole computation is ONE hash partitioning on the user
  * key. Each step is a `min(when(...)) over (partition by user)` window —
  * per-user step times are constants of the partition, so Catalyst stacks
  * the N window passes and the final per-user aggregate on the same
  * exchange (user cardinality grows with the data, so parallelism does
  * too; per-task memory is one user's events). The step summary is a
  * single-row global aggregate exploded to n_steps rows — driver-bounded
  * output, map-side-combinable counts.
  */
object Funnel {

  /** Per-user chained first-occurrence step times: one row per user with
    * `t0..t{n-1}` timestamps, `ti` = earliest event of `steps(i)` strictly
    * after `t{i-1}` (NULL propagates — a user who never views can never
    * click-convert, whatever they clicked).
    */
  def userSteps(events: DataFrame, userCol: String, tsCol: String,
                typeCol: String, steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val priorSchema = org.apache.spark.sql.types.StructType(
      events.schema(userCol) +: steps.indices.map(i =>
        org.apache.spark.sql.types.StructField(s"t$i",
          events.schema(tsCol).dataType)))
    val emptyPriors = events.sparkSession.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), priorSchema)
    advance(events, emptyPriors, userCol, tsCol, typeCol, steps)
  }

  /** INCREMENTAL chain advance — [[userSteps]] resumed from prior state:
    * `priors` carries each user's already-achieved chain (`userCol`,
    * `t0..t{n-1}`, NULL beyond the reached step); the result is the
    * updated chain for USERS PRESENT IN `events` (untouched users keep
    * their prior rows wherever they are stored). Exact against the
    * full-history chain when event time does not regress across calls
    * (the replay posture of EventStreams.funnelIngestBatch): an unset
    * prior `ti` proves no qualifying event existed in earlier
    * batches, so coalesce(prior, this-batch minimum) IS the global
    * chained minimum. ONE user-keyed exchange, same as the from-scratch
    * path (`userSteps` itself delegates here with an empty prior).
    */
  def advance(events: DataFrame, priors: DataFrame, userCol: String,
              tsCol: String, typeCol: String, steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val w = Window.partitionBy(col(userCol))
    val base = events.select(col(userCol), col(tsCol).as("__ts"),
      col(typeCol).as("__t"))
      .join(priors.select(col(userCol) +:
        steps.indices.map(i => col(s"t$i").as(s"__p$i")): _*),
        Seq(userCol), "left")
    val staged = steps.zipWithIndex.foldLeft(base) { case (df, (step, i)) =>
      val cond =
        if (i == 0) col("__t") === lit(step)
        else col("__t") === lit(step) && col("__ts") > col(s"t${i - 1}")
      df.withColumn(s"t$i",
        coalesce(col(s"__p$i"), min(when(cond, col("__ts"))).over(w)))
    }
    staged.groupBy(col(userCol))
      .agg(min(col("t0")).as("t0"),
        steps.indices.drop(1).map(i => min(col(s"t$i")).as(s"t$i")): _*)
  }

  /** The funnel table: one row per step with the user count that reached
    * it, the conversion from step 1 and from the previous step (IEEE
    * division of exact longs; NULL when the denominator is zero, and
    * step 1 has no previous step).
    */
  def steps(events: DataFrame, userCol: String, tsCol: String,
            typeCol: String, stepTypes: Seq[String]): DataFrame = {
    val per = userSteps(events, userCol, tsCol, typeCol, stepTypes)
    val counts = per.agg(
      count(col("t0")).as("n0"),
      stepTypes.indices.drop(1).map(i => count(col(s"t$i")).as(s"n$i")): _*)
    val rows = stepTypes.zipWithIndex.map { case (st, i) =>
      val pctFirst = when(col("n0") > 0L,
        col(s"n$i").cast("double") / col("n0").cast("double"))
      val pctPrev =
        if (i == 0) lit(null).cast("double")
        else when(col(s"n${i - 1}") > 0L,
          col(s"n$i").cast("double") / col(s"n${i - 1}").cast("double"))
      struct(lit((i + 1).toLong).as("step"), lit(st).as("event_type"),
        col(s"n$i").as("n_users"), pctFirst.as("pct_of_first"),
        pctPrev.as("pct_of_prev"))
    }
    counts.select(inline(array(rows: _*)))
  }

  /** TIME-TO-CONVERT distribution: over users whose chain completed (last
    * step reached), exact order statistics of `t_last − t0` in epoch
    * MICROS — the "median time from first view to purchase" product
    * metric. One row: n_converted, min/median/p90/max (median = ascending
    * rank ⌈n/2⌉, p90 = ⌈9n/10⌉ — data elements, no interpolation); EMPTY
    * when no user converted (there is no median of nothing — the
    * skewReport empty-log posture).
    *
    * Scale shape: [[userSteps]]' one user-keyed exchange, then the
    * percentiles ride [[ApproxOps.exactGroupQuantiles]]' two-level bucket
    * walk over the per-user latency table — never a global sort (the sk3
    * posture); min/max/count are one map-side-combinable aggregate, and
    * the one-row quantile frames attach by broadcast (scalar-attach).
    */
  def conversionLatency(events: DataFrame, userCol: String, tsCol: String,
                        typeCol: String, stepTypes: Seq[String]): DataFrame = {
    require(stepTypes.size >= 2, "latency needs at least two funnel steps")
    val last = s"t${stepTypes.size - 1}"
    val lat = userSteps(events, userCol, tsCol, typeCol, stepTypes)
      .filter(col(last).isNotNull)
      .select((unix_micros(col(last)) - unix_micros(col("t0")))
        .as("latency_us"))
    val qs = ApproxOps.exactGroupQuantiles(
      lat.withColumn("__g", lit(0)), "__g", "latency_us",
      Seq((1L, 2L), (9L, 10L)))
    val med = qs.filter(col("q_num") === 1L).select(col("val").as("median_us"))
    val p90 = qs.filter(col("q_num") === 9L).select(col("val").as("p90_us"))
    lat.agg(count(lit(1)).as("n_converted"), min(col("latency_us")).as("min_us"),
        max(col("latency_us")).as("max_us"))
      .crossJoin(broadcast(med)).crossJoin(broadcast(p90))
      .select(col("n_converted"), col("min_us"), col("median_us"),
        col("p90_us"), col("max_us"))
  }
}
