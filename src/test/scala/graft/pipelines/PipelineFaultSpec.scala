package graft.pipelines

import graft.SparkSpec
import graft.apps.PipelineApps
import graft.orchestration.TaskGraph
import graft.orchestration.TaskGraph.{RetryPolicy, Succeeded, Task}
import graft.sources.{CsvSources, EnvelopeJson, OpenMeteoSource, Schemas}
import graft.sources.EnvelopeJson.{FixturePages, PageSource}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Fault injection through the orchestrator: each pipeline as an extract
  * >> transform >> load TaskGraph whose source fails once (mid-pagination,
  * or on the first read of the response files) and whose load fails once
  * after a partial write. Retries must converge on exactly the tables a
  * clean run lands: run-date partition overwrite makes the re-run replace,
  * never duplicate.
  */
class PipelineFaultSpec extends SparkSpec {

  private def fixtureRoot: String = getClass.getResource("/fixtures").getPath

  /** Throws on the first fetch of page 1, then serves pages as `inner` does. */
  private final class FailOnceAtPage1(inner: PageSource, pageSize: Int) extends PageSource {
    var failures = 0
    override def fetch(offset: Int): Option[String] = {
      if (offset / pageSize == 1 && failures == 0) {
        failures += 1
        throw new java.io.IOException("injected: page 1 fetch failed")
      }
      inner.fetch(offset)
    }
  }

  test("eia930 DAG: a failed page fetch and a partial load retry to a clean run's tables") {
    // touch the shared session on the test thread first: tasks run on pool
    // threads, and a session first created there is active only there
    val session = spark
    val runDate = java.time.LocalDate.parse("2026-08-14")
    val cutoff = java.sql.Timestamp.valueOf(runDate.minusDays(2).atStartOfDay())
    val stop = runDate.minusDays(2).toString + "T00"
    val src = s"$fixtureRoot/eia930"
    val fuelPages = new FailOnceAtPage1(new FixturePages(s"$src/fuel", 12), 12)
    val out = java.nio.file.Files.createTempDirectory("graft_fault").toString
    val policy = RetryPolicy(retries = 2, delayMs = 1)

    var pages: Seq[Seq[String]] = Nil
    var outputs: Map[String, DataFrame] = Map.empty
    var loadAttempts = 0
    val results = TaskGraph.run(Seq(
      Task("extract", policy = policy)(() => pages = Seq(
        EnvelopeJson.fetchUntilPeriod(fuelPages, 12, stop),
        EnvelopeJson.fetchUntilPeriod(new FixturePages(s"$src/region", 40), 40, stop),
        EnvelopeJson.fetchUntilPeriod(new FixturePages(s"$src/interchange", 16), 16, stop))),
      Task("transform", Seq("extract"), policy)(() => outputs = Eia930Pipeline.transform(
        EnvelopeJson.parsePages(session, pages(0), Schemas.fuelTypeDataRow),
        EnvelopeJson.parsePages(session, pages(1), Schemas.regionDataRow),
        EnvelopeJson.parsePages(session, pages(2), Schemas.interchangeDataRow),
        CsvSources.balancingAuthorities(session, s"$src/ba.csv"),
        CsvSources.energySources(session, s"$src/energy.csv"),
        cutoff)),
      Task("load", Seq("transform"), policy)(() => {
        loadAttempts += 1
        if (loadAttempts == 1) {
          PipelineApps.load(Map(outputs.toSeq.minBy(_._1)), out, runDate)
          throw new java.io.IOException("injected: sink failed after a partial write")
        }
        PipelineApps.load(outputs, out, runDate)
      })),
      sleep = _ => ())

    assert(results.values.forall(_ == Succeeded), results.toString)
    assert(fuelPages.failures == 1 && loadAttempts == 2, "both faults fired once")

    val clean = java.nio.file.Files.createTempDirectory("graft_fault_clean").toString
    PipelineApps.runEia930(spark, PipelineApps.Args(fixtureRoot, clean, runDate))
    assert(outputs.size == 8)
    outputs.keys.toSeq.sorted.foreach { table =>
      def partition(root: String) = spark.read.parquet(s"$root/$table")
        .filter(col("run_date") === runDate.toString)
      val (got, want) = (partition(out), partition(clean))
      assert(want.count() > 0, s"$table: the clean run landed nothing")
      assert(got.count() == want.count(), s"$table: row counts differ")
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        s"$table: rows differ from the clean run")
    }
  }

  /** Runs `extract` >> `transform` >> load as a TaskGraph whose first load
    * writes the alphabetically first table and then throws. Every task must
    * succeed with the load run twice, both runs must land the same tables,
    * and every table's run-date partition must equal the clean run's.
    */
  private def assertRetriesMatchClean(runDate: java.time.LocalDate,
      runClean: (SparkSession, PipelineApps.Args) => Unit)(
      extract: () => Unit, transform: () => Map[String, DataFrame]): Unit = {
    val out = java.nio.file.Files.createTempDirectory("graft_fault").toString
    val policy = RetryPolicy(retries = 2, delayMs = 1)
    var outputs: Map[String, DataFrame] = Map.empty
    var loadAttempts = 0
    val results = TaskGraph.run(Seq(
      Task("extract", policy = policy)(extract),
      Task("transform", Seq("extract"), policy)(() => outputs = transform()),
      Task("load", Seq("transform"), policy)(() => {
        loadAttempts += 1
        if (loadAttempts == 1) {
          PipelineApps.load(Map(outputs.toSeq.minBy(_._1)), out, runDate)
          throw new java.io.IOException("injected: sink failed after a partial write")
        }
        PipelineApps.load(outputs, out, runDate)
      })),
      sleep = _ => ())

    assert(results.values.forall(_ == Succeeded), results.toString)
    assert(loadAttempts == 2, "the load fault fired once")

    val clean = java.nio.file.Files.createTempDirectory("graft_fault_clean").toString
    runClean(spark, PipelineApps.Args(fixtureRoot, clean, runDate))
    def tables(root: String) = new java.io.File(root).list().toSet
    assert(outputs.nonEmpty && tables(clean) == outputs.keySet &&
      tables(out) == outputs.keySet, s"${tables(out)} vs ${tables(clean)}")
    outputs.keys.toSeq.sorted.foreach { table =>
      def partition(root: String) = spark.read.parquet(s"$root/$table")
        .filter(col("run_date") === runDate.toString)
      val (got, want) = (partition(out), partition(clean))
      assert(want.count() > 0, s"$table: the clean run landed nothing")
      assert(got.count() == want.count(), s"$table: row counts differ")
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        s"$table: rows differ from the clean run")
    }
  }

  test("eia7a DAG: a failed page fetch and a partial load retry to a clean run's tables") {
    val runDate = java.time.LocalDate.parse("2026-08-14")
    val quarter = Eia7aPipeline.quarterLabelFor(runDate, monthsAgo = 6)
    val src = s"$fixtureRoot/eia7a"
    val customs = new FailOnceAtPage1(new FixturePages(s"$src/customs", 4), 4)
    var pages: Seq[Seq[String]] = Nil
    assertRetriesMatchClean(runDate, PipelineApps.runEia7a)(
      () => pages = Seq(
        EnvelopeJson.fetchWhilePeriodEquals(customs, 4, quarter),
        EnvelopeJson.fetchWhilePeriodEquals(new FixturePages(s"$src/mine", 1), 1, quarter)),
      () => Eia7aPipeline.transform(
        EnvelopeJson.parsePages(spark, pages(0), Schemas.coalImportsExportsRow),
        EnvelopeJson.parsePages(spark, pages(1), Schemas.coalShipmentReceiptsRow),
        quarter))
    assert(customs.failures == 1, "the fetch fault fired once")
  }

  test("eia814 DAG: a failed page fetch and a partial load retry to a clean run's tables") {
    val imports = new FailOnceAtPage1(new FixturePages(s"$fixtureRoot/eia814", 1), 1)
    var pages: Seq[String] = Nil
    assertRetriesMatchClean(java.time.LocalDate.parse("2026-08-14"), PipelineApps.runEia814)(
      () => pages = EnvelopeJson.fetchUntilEmpty(imports, 1),
      () => Eia814Pipeline.transform(
        EnvelopeJson.parsePages(spark, pages, Schemas.crudeOilImportsRow)))
    assert(imports.failures == 1, "the fetch fault fired once")
  }

  test("openmeteo DAG: a failed response read and a partial load retry to a clean run's tables") {
    val src = s"$fixtureRoot/openmeteo"
    var readFailures = 0
    var bodies: Seq[String] = Nil
    assertRetriesMatchClean(java.time.LocalDate.parse("2026-08-14"), PipelineApps.runOpenMeteo)(
      () => {
        if (readFailures == 0) {
          readFailures += 1
          throw new java.io.IOException("injected: response read failed")
        }
        bodies = new java.io.File(src).listFiles.map(_.getPath)
          .filter(_.endsWith(".json")).sorted.toSeq
          .map(p => java.nio.file.Files.readString(java.nio.file.Paths.get(p)))
      },
      () => OpenMeteoPipeline.transform(
        OpenMeteoSource.parseResponses(spark, bodies),
        CsvSources.coordinates(spark, s"$src/coords.csv")))
    assert(readFailures == 1, "the read fault fired once")
  }
}
