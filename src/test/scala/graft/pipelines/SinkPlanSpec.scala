package graft.pipelines

import graft.SparkSpec
import graft.apps.PipelineApps
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RangePartitioning}
import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** The write path's exchange diet: the pipelines' sink frames carry only the
  * shuffles their aggregates need, and the files a run lands still hold
  * their rows in the reference's sort-key order.
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

  test("sink frames: no range exchange or global sort; each aggregate shuffles once, by hash") {
    val frames = PipelineApps.sinkFrames(spark, PipelineApps.Args(fixtureRoot, "", runDate))
    assert(frames.size == 14 && sortKeys.keySet.subsetOf(frames.map(_._1).toSet),
      frames.map(_._1))
    frames.foreach { case (table, df) =>
      val plan = df.queryExecution.executedPlan
      val shuffles = collectWithSubqueries(plan) { case e: ShuffleExchangeExec => e.outputPartitioning }
      assert(!shuffles.exists(_.isInstanceOf[RangePartitioning]), s"$table:\n$plan")
      assert(collectWithSubqueries(plan) { case s: SortExec if s.global => s }.isEmpty,
        s"$table:\n$plan")
      if (sortKeys.contains(table))
        assert(shuffles.size == 1 && shuffles.head.isInstanceOf[HashPartitioning],
          s"$table:\n$plan")
    }
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
    val out = java.nio.file.Files.createTempDirectory("graft_order").toString
    val args = PipelineApps.Args(fixtureRoot, out, runDate)
    PipelineApps.runEia930(spark, args)
    PipelineApps.runOpenMeteo(spark, args)
    val checked = sortKeys + ("openmeteo_cleaned_weather" -> Seq("date", "latitude", "longitude"))
    checked.foreach { case (table, keys) =>
      val files = new java.io.File(s"$out/$table/run_date=$runDate").listFiles()
        .map(_.getPath).filter(_.endsWith(".parquet")).sorted
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
