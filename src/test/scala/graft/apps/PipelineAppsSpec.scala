package graft.apps

import graft.SparkSpec

class PipelineAppsSpec extends SparkSpec {

  private def fixtureRoot: String =
    getClass.getResource("/fixtures").getPath

  test("eia814 app: end-to-end to partitioned parquet, idempotent on re-run") {
    val out = java.nio.file.Files.createTempDirectory("graft_app").toString
    val args = PipelineApps.Args(fixtureRoot, out, java.time.LocalDate.parse("2026-08-12"))
    PipelineApps.runEia814(spark, args)
    PipelineApps.runEia814(spark, args) // re-run must replace, not duplicate
    val t = spark.read.parquet(s"$out/eia814_cleaned_monthly_crude_oil_imports")
    assert(t.count() == 2)
    assert(t.columns.contains("run_date"))
  }

  test("eia930 app: run-date parameter drives the cutoff") {
    val out = java.nio.file.Files.createTempDirectory("graft_app").toString
    // run date 2026-08-12 -> cutoff 2026-08-10T00 -> NOTHING survives the
    // fixture's 2026-08-10T00..07 hours except... nothing (all >= cutoff)
    PipelineApps.runEia930(spark,
      PipelineApps.Args(fixtureRoot, out, java.time.LocalDate.parse("2026-08-12")))
    // zero survivors -> no run_date partition directory materializes
    val aggDir = java.nio.file.Paths.get(s"$out/eia930_hourly_net_generation_by_energy_source")
    val partDirs = if (java.nio.file.Files.exists(aggDir))
      java.nio.file.Files.list(aggDir).toArray.map(_.toString).count(_.contains("run_date="))
    else 0
    assert(partDirs == 0)
    // run date 2026-08-12+2 -> cutoff 2026-08-12T00 -> all 8 hours survive
    val out2 = java.nio.file.Files.createTempDirectory("graft_app").toString
    PipelineApps.runEia930(spark,
      PipelineApps.Args(fixtureRoot, out2, java.time.LocalDate.parse("2026-08-14")))
    val all = spark.read.parquet(s"$out2/eia930_hourly_net_generation_by_energy_source")
    assert(all.count() == 24) // 8 hours x 3 fueltypes
  }

  test("openmeteo app: full weather flow to 3 sinks") {
    val out = java.nio.file.Files.createTempDirectory("graft_app").toString
    PipelineApps.runOpenMeteo(spark,
      PipelineApps.Args(fixtureRoot, out, java.time.LocalDate.parse("2026-08-12")))
    assert(spark.read.parquet(s"$out/openmeteo_cleaned_weather").count() == 132)
    assert(spark.read.parquet(s"$out/openmeteo_weather_means_per_hour").count() == 48)
    assert(spark.read.parquet(s"$out/openmeteo_weather_deviations_per_hour").count() == 48)
  }

  test("app flags: a misspelt flag fails the run instead of defaulting the run date") {
    val e = intercept[IllegalArgumentException](
      PipelineApps.parseArgs(Array("--run_date", "2024-01-01")))
    assert(e.getMessage.contains("--run_date") && e.getMessage.contains("--run-date"),
      e.getMessage)
  }

  test("app flags: a trailing flag with no value fails the run") {
    val e = intercept[IllegalArgumentException](
      PipelineApps.parseArgs(Array("--out", "/tmp/graft_out", "--run-date")))
    assert(e.getMessage.contains("--run-date") && e.getMessage.contains("missing value"),
      e.getMessage)
  }

  test("app flags: an unparseable run date names its flag") {
    val e = intercept[IllegalArgumentException](
      PipelineApps.parseArgs(Array("--run-date", "2024-13-01")))
    assert(e.getMessage.contains("--run-date"), e.getMessage)
    assert(PipelineApps.parseArgs(Array("--run-date", "2024-01-01"))._1.runDate ==
      java.time.LocalDate.parse("2024-01-01"))
  }

  test("corpus app flags: --html-input true turns on HTML extraction") {
    assert(CorpusApp.parseArgs(Array("--html-input", "true"))._2)
    assert(!CorpusApp.parseArgs(Array("--src", "docs"))._2)
    intercept[IllegalArgumentException](CorpusApp.parseArgs(Array("--html-input", "yes")))
  }
}
