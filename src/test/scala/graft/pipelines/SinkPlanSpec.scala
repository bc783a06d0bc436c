package graft.pipelines

import graft.SparkSpec
import graft.apps.PipelineApps
import graft.sources.{EnvelopeJson, OpenMeteoSource, Schemas}
import graft.sources.EnvelopeJson.FixturePages
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, SinglePartition}
import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** The write path's exchange diet: the driver-built sources are one
  * partition, so the pipelines' sink frames plan no shuffle at all, each
  * table lands one file per run date, and that file holds its rows in the
  * reference's sort-key order.
  */
class SinkPlanSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def fixtureRoot: String = getClass.getResource("/fixtures").getPath
  private val runDate = java.time.LocalDate.parse("2026-08-14")

  /** The aggregate sink tables and the keys each sorts its files by. */
  private val sortKeys = Map(
    "eia930_hourly_net_generation_by_energy_source" -> Seq("date", "fueltype"),
    "eia930_hourly_respondents_producing_and_generating" -> Seq("date", "respondent"),
    "eia930_hourly_statistics_by_response_type" -> Seq("date"),
    "openmeteo_weather_means_per_hour" -> Seq("date", "state"),
    "openmeteo_weather_deviations_per_hour" -> Seq("date", "state"))

  test("parsed sources: every driver-built page and response frame is one partition") {
    val pageDirs = Seq(
      "eia930/fuel" -> Schemas.fuelTypeDataRow,
      "eia930/region" -> Schemas.regionDataRow,
      "eia930/interchange" -> Schemas.interchangeDataRow,
      "eia7a/customs" -> Schemas.coalImportsExportsRow,
      "eia7a/mine" -> Schemas.coalShipmentReceiptsRow,
      "eia814" -> Schemas.crudeOilImportsRow)
    val pages = pageDirs.map { case (dir, _) =>
      EnvelopeJson.fetchUntilEmpty(new FixturePages(s"$fixtureRoot/$dir", 1), 1)
    }
    assert(pages.map(_.size).max > 1, "one page per source shows nothing")
    val parsed = pageDirs.zip(pages).map { case ((dir, row), p) =>
      dir -> EnvelopeJson.parsePages(spark, p, row)
    }
    val bodies = new java.io.File(s"$fixtureRoot/openmeteo").listFiles()
      .map(_.getPath).filter(_.endsWith(".json")).sorted.toSeq
      .map(p => java.nio.file.Files.readString(java.nio.file.Paths.get(p)))
    assert(bodies.size > 1)
    (parsed :+ ("openmeteo" -> OpenMeteoSource.parseResponses(spark, bodies))).foreach {
      case (source, df) =>
        val plan = stripAQEPlan(df.queryExecution.executedPlan)
        assert(plan.outputPartitioning == SinglePartition, s"$source:\n$plan")
    }
  }

  test("sink frames: no shuffle exchange of any kind and no global sort") {
    val frames = PipelineApps.sinkFrames(spark, PipelineApps.Args(fixtureRoot, "", runDate))
    assert(frames.size == 14 && sortKeys.keySet.subsetOf(frames.map(_._1).toSet),
      frames.map(_._1))
    frames.foreach { case (table, df) =>
      val plan = df.queryExecution.executedPlan
      val shuffles = collectWithSubqueries(plan) { case e: ShuffleExchangeExec => e.outputPartitioning }
      assert(!shuffles.exists(_.isInstanceOf[RangePartitioning]), s"$table:\n$plan")
      assert(collectWithSubqueries(plan) { case s: SortExec if s.global => s }.isEmpty,
        s"$table:\n$plan")
      assert(shuffles.isEmpty, s"$table:\n$plan")
    }
  }

  /** The four apps' tables over the fixtures, landed once for the file tests. */
  private lazy val landed: String = {
    val out = java.nio.file.Files.createTempDirectory("graft_order").toString
    val args = PipelineApps.Args(fixtureRoot, out, runDate)
    PipelineApps.runEia930(spark, args)
    PipelineApps.runEia7a(spark, args)
    PipelineApps.runEia814(spark, args)
    PipelineApps.runOpenMeteo(spark, args)
    out
  }

  private def landedFiles(table: String): Seq[String] =
    Option(new java.io.File(s"$landed/$table/run_date=$runDate").listFiles())
      .getOrElse(Array.empty[java.io.File])
      .map(_.getPath).filter(_.endsWith(".parquet")).sorted.toSeq

  test("landed files: each of the 14 tables lands exactly one file per run date") {
    val tables = PipelineApps.sinkFrames(spark, PipelineApps.Args(fixtureRoot, "", runDate))
      .map(_._1)
    assert(tables.size == 14, tables)
    val counts = tables.map(t => t -> landedFiles(t).size)
    assert(counts.forall(_._2 == 1), counts.filter(_._2 != 1))
  }

  /** Ascending, nulls first: the order `sortWithinPartitions` writes. */
  private def compareKeys(a: Row, b: Row): Int =
    (0 until a.length).iterator.map { i =>
      (a.get(i), b.get(i)) match {
        case (null, null) => 0
        case (null, _) => -1
        case (_, null) => 1
        case (x: Comparable[Any @unchecked], y) => x.compareTo(y)
        case (x, _) => fail(s"not comparable: $x")
      }
    }.find(_ != 0).getOrElse(0)

  test("landed files: every aggregate and cleaned-weather file reads back in sort-key order") {
    val checked = sortKeys + ("openmeteo_cleaned_weather" -> Seq("date", "latitude", "longitude"))
    checked.foreach { case (table, keys) =>
      val files = landedFiles(table)
      assert(files.nonEmpty, s"$table landed no files")
      files.foreach { f =>
        val rows = spark.read.parquet(f).select(keys.head, keys.tail: _*).collect().toSeq
        assert(rows.nonEmpty, f)
        val unordered = rows.sliding(2).collectFirst {
          case Seq(a, b) if compareKeys(a, b) > 0 => s"$a before $b"
        }
        assert(unordered.isEmpty, s"$table: $f: $unordered")
      }
    }
  }
}
