package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SaltingSpec extends SparkSpec {
  import spark.implicits._

  test("saltedSumCount equals the unsalted aggregate (exact decimals commute)") {
    val li = graft.core.Tables.lineitem(spark, sf)
    val plain = li.groupBy($"l_returnflag")
      .agg(ExactAgg.sumExact($"l_quantity").as("sum_l_quantity"), count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    val salted = Salting.saltedSumCount(li, Seq("l_returnflag"), "l_quantity", 8)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    assert(salted == plain)
  }

  test("saltedSumCount spreads a hot key across salt buckets") {
    val skewed = Seq.tabulate(1000)(i => ("hot", i.toDouble)) :+ (("cold", 1.0))
    val df = skewed.toDF("k", "v")
    val partialGroups = df.withColumn("__salt",
      pmod(hash(df.columns.map(col): _*), lit(8)))
      .groupBy($"k", $"__salt").count()
      .filter($"k" === "hot").count()
    assert(partialGroups > 1, "hot key must occupy multiple salt buckets")
    val out = Salting.saltedSumCount(df, Seq("k"), "v", 8)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(out("hot") == (0 until 1000).sum.toDouble)
    assert(out("cold") == 1.0)
  }

  test("AQE skew-join split fires on a hot key (the claim Salting's Scaladoc defers to)") {
    // one key owning ~95% of the probe side; thresholds lowered to make the
    // fixture's hot partition count as skewed at test scale
    val conf = Map(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16384",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8192",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1024")
    val prev = conf.keys.map(k => k -> spark.conf.getOption(k)).toMap
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val probe = (Seq.tabulate(60000)(i => (1L, s"payload_$i")) ++
        Seq.tabulate(3000)(i => (2L + i % 50, s"p_$i"))).toDF("k", "v")
      val build = Seq.tabulate(52)(i => (1L + i, s"dim_$i")).toDF("bk", "attr")
      val joined = probe.join(build, $"k" === $"bk")
      // collect() on THIS dataset: count() would execute a cloned plan and
      // leave joined's own AQE plan un-finalized
      assert(joined.collect().length == 63000)
      val plan = joined.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert(plan.contains("skew=true"),
        s"AQE must mark the skewed join split:\n$plan")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("saltedJoinOuter: hot key at 10^4x median spreads over buckets, rows match unsalted") {
    // probe: one key owning 10,000 rows vs a median of 1, plus keys with NO
    // build match (the enrichment-join reality salting must not break)
    val probe = (Seq.tabulate(10000)(i => (1L, i.toLong)) ++
      Seq.tabulate(50)(i => (100L + i.toLong, i.toLong))).toDF("k", "payload")
    val build = Seq((1L, "hot-dim"), (100L, "cold-dim"), (999L, "unprobed"))
      .toDF("bk", "attr")

    val buckets = 8
    val salted = Salting.saltedJoinOuter(probe, build, "k", "bk", buckets)
    val plain = probe.join(build, $"k" === $"bk", "left_outer")
    // exact row parity (multiset: count per row signature)
    def sig(df: org.apache.spark.sql.DataFrame) = df
      .select($"k", $"payload", $"bk", $"attr")
      .collect().map(_.toString).groupBy(identity).view.mapValues(_.length).toMap
    assert(sig(salted) == sig(plain))
    // unmatched probe keys null-extend exactly once each
    assert(salted.filter($"bk".isNull).count() == 49L)

    // balance: the hot key's probe rows occupy every salt bucket, so no
    // single reducer owns the 10^4x key
    val occupancy = probe
      .withColumn("__salt", pmod(hash(probe.columns.map(col): _*), lit(buckets)))
      .filter($"k" === 1L).select($"__salt").distinct().count()
    assert(occupancy == buckets.toLong,
      s"hot key must spread across all $buckets buckets, hit $occupancy")
  }

  test("skewReport: planted hot key measured exactly, integer salt advice") {
    val rows = (1L to 100L).map(k => (k, "x")) ++
      (1 to 1000).map(_ => (777L, "x"))
    val r = Salting.skewReport(rows.toDF("k", "v"), "k").collect().head
    assert(r.getAs[Long]("n_rows") == 1100 && r.getAs[Long]("n_keys") == 101)
    assert(r.getAs[Long]("hot_key") == 777 && r.getAs[Long]("max_count") == 1000)
    assert(r.getAs[Long]("median_count") == 1 && r.getAs[Long]("p99_count") == 1)
    assert(r.getAs[Long]("skew_x100") == 100000)
    assert(r.getAs[Long]("salt_factor") == 1000)
  }
}
