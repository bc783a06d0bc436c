package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

class BucketingSpec extends SparkSpec {

  test("aggregation on the bucket key also avoids the shuffle") {
    // ensureCleanTable also sweeps warehouse files a crashed earlier run
    // left behind (CREATE TABLE refuses to reuse the location)
    Bucketing.ensureCleanTable(spark, "b_lineitem")
    Bucketing.writeBucketed(
      graft.core.Tables.lineitem(spark, sf), "b_lineitem", "l_orderkey", 4)
    val agg = spark.table("b_lineitem").groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity")).as("q"))
    agg.collect()
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"), plan)
  }
}
