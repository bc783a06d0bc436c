package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SinksSpec extends SparkSpec {
  import spark.implicits._

  test("S11/S12: DDL bootstrap + catalog ops against the session catalog") {
    spark.sql("DROP DATABASE IF EXISTS graft_test CASCADE") // stale warehouse state
    Sinks.createTable(spark, "graft_test", "eia930_energy_sources")
    Sinks.createTable(spark, "graft_test", "eia930_hourly_statistics_by_response_type")
    assert(Sinks.listTables(spark, "graft_test") == Seq(
      "eia930_energy_sources", "eia930_hourly_statistics_by_response_type"))
    spark.sql("INSERT INTO graft_test.eia930_energy_sources VALUES ('SUN','Solar'),('WND','Wind')")
    assert(Sinks.peek(spark, "graft_test", "eia930_energy_sources", 1).count() == 1)
    Sinks.truncateTable(spark, "graft_test", "eia930_energy_sources")
    assert(spark.table("graft_test.eia930_energy_sources").count() == 0)
    // the confirm-guard is the reference's y/N prompt in library form:
    // a mismatched confirmation must refuse before touching the catalog
    intercept[IllegalArgumentException](
      Sinks.dropAllTables(spark, "graft_test", confirmDb = "graft_tets"))
    assert(Sinks.listTables(spark, "graft_test").nonEmpty)
    Sinks.dropAllTables(spark, "graft_test", confirmDb = "graft_test")
    assert(Sinks.listTables(spark, "graft_test").isEmpty)
  }

  test("idempotent sink: dynamic partition overwrite replaces, never duplicates") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sink").toString
    val day1 = Seq(("2026-08-10", 1), ("2026-08-10", 2)).toDF("run_date", "v")
    val day2 = Seq(("2026-08-11", 3)).toDF("run_date", "v")
    Sinks.overwriteRunPartition(day1, dir, "run_date")
    Sinks.overwriteRunPartition(day2, dir, "run_date")
    // re-run day1 (the retry case that duplicates rows in the reference's
    // blind-append sink, EIA930PipelineHourlyData.py:158-180)
    Sinks.overwriteRunPartition(day1, dir, "run_date")
    val out = spark.read.parquet(dir)
    assert(out.count() == 3)
    assert(out.filter($"run_date" === "2026-08-10").count() == 2)
  }

  test("partitioned table reads prune by partition: one day's filter scans one directory") {
    val dir = java.nio.file.Files.createTempDirectory("graft_prune").toString
    val days = Seq(("2026-08-10", 1), ("2026-08-11", 2), ("2026-08-12", 3))
      .toDF("run_date", "v")
    Sinks.overwriteRunPartition(days, dir, "run_date")
    val q = spark.read.parquet(dir).filter($"run_date" === "2026-08-11")
    val scan = q.queryExecution.executedPlan.collectLeaves().head.toString
    // the filter must land in PartitionFilters (directory-level pruning at
    // the 100 TB scan, not a post-read row filter)
    assert(scan.contains("PartitionFilters") &&
      """PartitionFilters: \[[^\]]*run_date[^\]]*\]""".r.findFirstIn(scan).nonEmpty, scan)
    val filesRead = q.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.selectedPartitions.partitionCount
    }
    assert(filesRead.contains(1), s"expected 1 pruned partition, got $filesRead")
    assert(q.count() == 1)
  }
}
