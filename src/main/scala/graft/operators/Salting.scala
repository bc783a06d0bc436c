package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew mitigation for hot keys at cluster scale.
  *
  * AQE's skew-join splitting handles most cases at runtime; these operators
  * cover the two places AQE can't: aggregation skew (one key owning a
  * partition's worth of rows makes one reducer the straggler) and
  * broadcast-infeasible skewed joins. Both use deterministic salts so
  * results are reproducible.
  */
object Salting {

  /** Two-phase aggregation: rows are pre-aggregated on (key, salt) — spread
    * across `buckets` reducers — then the partials combine per key. With
    * decimal-exact or algebraic aggregates the result is identical to the
    * one-phase plan; wall-clock is bounded by total/buckets instead of the
    * hottest key. Salt is a hash of all columns, not rand(): deterministic
    * under retries.
    */
  def saltedSumCount(df: DataFrame, keys: Seq[String], valueCol: String,
                     buckets: Int): DataFrame = {
    val salted = df.withColumn("__salt",
      pmod(hash(df.columns.toIndexedSeq.map(col): _*), lit(buckets)))
    val partial = salted
      .groupBy((keys.map(col) :+ col("__salt")): _*)
      .agg(ExactAgg.sumExact(col(valueCol)).as("__psum"),
        count(lit(1)).as("__pcnt"))
    // the final combine must stay decimal-exact too, or shuffle-arrival
    // order re-introduces last-ulp nondeterminism the first phase removed
    partial
      .groupBy(keys.map(col): _*)
      .agg(ExactAgg.sumExact(col("__psum")).as(s"sum_$valueCol"),
        sum(col("__pcnt")).as("n"))
  }

  /** LEFT-OUTER salted join — the skewed ENRICHMENT join: the build side is
    * replicated `buckets` times and the probe side salted, so a hot key's
    * rows land on `buckets` reducers instead of one (the build side must be
    * the smaller input; it is multiplied by `buckets`). Every probe row
    * survives, and a probe
    * row with no build match null-extends exactly once. Correctness under
    * salting: each probe row carries exactly ONE salt value, and the build
    * replication materializes EVERY (buildKey, salt) pair — so a probe row
    * matches precisely the build rows of its key (same row set as the
    * unsalted join), and when its key is absent from the build side, the
    * left-outer join emits it exactly once with NULL build columns. (The
    * same argument does NOT extend to right/full outer: an unmatched build
    * row exists `buckets` times and would null-extend per replica.)
    */
  def saltedJoinOuter(probe: DataFrame, build: DataFrame, probeKey: String,
                      buildKey: String, buckets: Int): DataFrame = {
    val saltedProbe = probe.withColumn("__salt",
      pmod(hash(probe.columns.toIndexedSeq.map(col): _*), lit(buckets)))
    val replicatedBuild = build.withColumn("__salt",
      explode(sequence(lit(0), lit(buckets - 1))))
    saltedProbe.join(replicatedBuild,
      col(probeKey) === col(buildKey) && saltedProbe("__salt") === replicatedBuild("__salt"),
      "left_outer")
      .drop("__salt")
  }

  /** SKEW DIAGNOSIS report — the measurement that decides whether the two
    * operators above (or AQE alone) are needed, shipped as one row: total
    * rows, distinct keys, the hottest key and its count, the exact lower
    * median and p99 per-key counts, skew ratio (max/median, ×100 integer)
    * and a suggested salt factor ceil(max/p99) — the shard count that
    * makes the hottest key's slices look like a p99 key. All integers
    * (exact order statistics via the two-level bucket walk, never a
    * global sort of the count table); hot key ties break to the smallest
    * key. Run it BEFORE a 100 TB join, not after the straggler.
    * EMPTY input yields an EMPTY frame (a zero-key log has no median to
    * report) — callers treat no-row as "nothing to diagnose".
    */
  def skewReport(df: DataFrame, keyCol: String): DataFrame = {
    val counts = graft.core.Storage.cut(
      df.groupBy(col(keyCol).as("__k")).agg(count(lit(1)).as("__n")),
      eager = true)
    val qs = ApproxOps.exactGroupQuantiles(
      counts.withColumn("__g", lit(0)), "__g", "__n",
      Seq((1L, 2L), (99L, 100L)))
    val med = qs.filter(col("q_num") === 1L)
      .select(col("val").as("median_count"))
    val p99 = qs.filter(col("q_num") === 99L)
      .select(col("val").as("p99_count"))
    counts
      .agg(sum(col("__n")).as("n_rows"), count(lit(1)).as("n_keys"),
        max(col("__n")).as("max_count"),
        min_by(col("__k"), struct((col("__n") * -1L).as("nn"), col("__k")))
          .as("hot_key"))
      .crossJoin(broadcast(med)).crossJoin(broadcast(p99))
      .select(col("n_rows"), col("n_keys"), col("hot_key"), col("max_count"),
        col("median_count"), col("p99_count"),
        expr("CAST((max_count * 100) DIV median_count AS BIGINT)")
          .as("skew_x100"),
        expr("CAST((max_count + p99_count - 1) DIV p99_count AS BIGINT)")
          .as("salt_factor"))
  }
}
