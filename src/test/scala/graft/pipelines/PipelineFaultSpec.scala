package graft.pipelines

import graft.SparkSpec
import graft.apps.PipelineApps
import graft.orchestration.TaskGraph
import graft.orchestration.TaskGraph.{RetryPolicy, Succeeded, Task}
import graft.sources.{CsvSources, EnvelopeJson, Schemas}
import graft.sources.EnvelopeJson.{FixturePages, PageSource}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fault injection through the orchestrator: eia930 as an extract >>
  * transform >> load TaskGraph whose source fails once mid-pagination and
  * whose load fails once after a partial write. Retries must converge on
  * exactly the tables a clean run lands: run-date partition overwrite makes
  * the re-run replace, never duplicate.
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
}
