package graft.apps

import graft.core.Sessions
import graft.orchestration.TaskGraph
import graft.orchestration.TaskGraph.{RetryPolicy, Task}
import graft.pipelines._
import graft.sources._
import graft.sources.EnvelopeJson.FixturePages
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Runnable pipeline applications (SURVEY.md §2h D1/D2): one Spark app per
  * reference DAG, composed as extract >> transform >> load inside a
  * TaskGraph with the reference's retry policy. External cron triggers these
  * mains on the reference's schedules (daily 01:00 / monthly / quarterly).
  *
  * Sources come from a directory of canned payloads (`--src`), standing in
  * for the HTTP fetchers — the PageSource seam is where a production HTTP
  * client plugs in. Sinks are parquet tables under `--out`, written with
  * dynamic partition overwrite on the run date so re-runs are idempotent
  * (unlike the reference's blind JDBC appends).
  */
object PipelineApps {

  final case class Args(src: String, out: String, runDate: java.time.LocalDate)

  /** The one flag parser of the app mains. `argv` is `--flag value` pairs,
    * each flag one of `accepted`; the result holds the flags given, and
    * each caller applies its own defaults. An unknown flag or a flag with
    * no value throws an IllegalArgumentException that names it and lists
    * the accepted flags: a misspelt `--run-date` must fail the run, not
    * fall back to today and overwrite today's run-date partition.
    */
  private[apps] def parseFlags(argv: Array[String],
                               accepted: String*): Map[String, String] = {
    def fail(flag: String, why: String): Nothing =
      throw new IllegalArgumentException(
        s"$flag: $why; accepted flags: ${accepted.mkString(" ")}")
    @scala.annotation.tailrec
    def pairs(rest: List[String], given: Map[String, String]): Map[String, String] =
      rest match {
        case Nil => given
        case k :: _ if !accepted.contains(k) => fail(k, "unknown flag")
        case k :: v :: more if !v.startsWith("--") => pairs(more, given + (k -> v))
        case k :: _ => fail(k, "missing value")
      }
    pairs(argv.toList, Map.empty)
  }

  /** Flag `name` of `flags` through `parse`, if it was given. A value
    * `parse` rejects throws an IllegalArgumentException naming the flag.
    */
  private[apps] def parsed[T](flags: Map[String, String], name: String,
                              parse: String => T): Option[T] =
    flags.get(name).map { v =>
      try parse(v)
      catch {
        case scala.util.control.NonFatal(e) =>
          throw new IllegalArgumentException(s"$name: cannot parse '$v'", e)
      }
    }

  /** `--src`, `--out` and `--run-date` (yyyy-mm-dd, default today), plus
    * the `extra` flags the caller reads from the returned map.
    */
  def parseArgs(argv: Array[String],
                extra: String*): (Args, Map[String, String]) = {
    val m = parseFlags(argv, Seq("--src", "--out", "--run-date") ++ extra: _*)
    (Args(
      src = m.getOrElse("--src", "src/test/resources/fixtures"),
      out = m.getOrElse("--out", "/tmp/graft_out"),
      runDate = parsed(m, "--run-date", java.time.LocalDate.parse)
        .getOrElse(java.time.LocalDate.now())), m)
  }

  /** Load stage shared by all apps: each output frame becomes a partitioned
    * parquet table keyed by the run date.
    */
  def load(outputs: Map[String, DataFrame], outDir: String,
           runDate: java.time.LocalDate): Unit =
    outputs.foreach { case (table, df) =>
      Sinks.overwriteRunPartition(
        df.withColumn("run_date", org.apache.spark.sql.functions.lit(runDate.toString)),
        s"$outDir/$table", "run_date")
    }

  private def app(name: String)(body: (SparkSession, Args) => Unit): Array[String] => Unit =
    argv => {
      val (args, _) = parseArgs(argv)
      val spark = Sessions.local(name)
      try {
        val results = TaskGraph.run(Seq(
          Task("run", policy = RetryPolicy(retries = 2, delayMs = 1000))(
            () => body(spark, args))))
        results.values.collectFirst {
          case TaskGraph.FailedAfterRetries(_, e) => throw e
        }
      } finally spark.stop()
    }

  /** EIA-930 daily: cutoff = run date minus 2 days at hour 00 (:48,:98). */
  def runEia930(spark: SparkSession, a: Args): Unit = {
    val cutoff = java.sql.Timestamp.valueOf(a.runDate.minusDays(2).atStartOfDay())
    val stop = a.runDate.minusDays(2).toString + "T00"
    def pages(sub: String, row: org.apache.spark.sql.types.StructType, pageSize: Int) =
      EnvelopeJson.parsePages(spark,
        EnvelopeJson.fetchUntilPeriod(new FixturePages(s"${a.src}/eia930/$sub", pageSize), pageSize, stop),
        row)
    load(Eia930Pipeline.transform(
      pages("fuel", Schemas.fuelTypeDataRow, 12),
      pages("region", Schemas.regionDataRow, 40),
      pages("interchange", Schemas.interchangeDataRow, 16),
      CsvSources.balancingAuthorities(spark, s"${a.src}/eia930/ba.csv"),
      CsvSources.energySources(spark, s"${a.src}/eia930/energy.csv"),
      cutoff), a.out, a.runDate)
  }

  /** EIA-7A quarterly: target quarter = run date minus 6 months (:51,:76). */
  def runEia7a(spark: SparkSession, a: Args): Unit = {
    val quarter = Eia7aPipeline.quarterLabelFor(a.runDate, monthsAgo = 6)
    def pages(sub: String, row: org.apache.spark.sql.types.StructType, pageSize: Int) =
      EnvelopeJson.parsePages(spark,
        EnvelopeJson.fetchWhilePeriodEquals(new FixturePages(s"${a.src}/eia7a/$sub", pageSize), pageSize, quarter),
        row)
    load(Eia7aPipeline.transform(
      pages("customs", Schemas.coalImportsExportsRow, 4),
      pages("mine", Schemas.coalShipmentReceiptsRow, 1),
      quarter), a.out, a.runDate)
  }

  /** EIA-814 monthly: fetch until the API runs dry (:52-54). */
  def runEia814(spark: SparkSession, a: Args): Unit =
    load(Eia814Pipeline.transform(
      EnvelopeJson.parsePages(spark,
        EnvelopeJson.fetchUntilEmpty(new FixturePages(s"${a.src}/eia814", 1), 1),
        Schemas.crudeOilImportsRow)), a.out, a.runDate)

  /** Open-Meteo daily: one response document per curated coordinate. */
  def runOpenMeteo(spark: SparkSession, a: Args): Unit = {
    val dir = java.nio.file.Paths.get(s"${a.src}/openmeteo")
    val stream = java.nio.file.Files.list(dir)
    val files = try stream.toArray.map(_.toString) finally stream.close()
    val bodies = files.filter(_.endsWith(".json")).sorted.toSeq
      .map(p => java.nio.file.Files.readString(java.nio.file.Paths.get(p)))
    load(OpenMeteoPipeline.transform(
      OpenMeteoSource.parseResponses(spark, bodies),
      CsvSources.coordinates(spark, s"${a.src}/openmeteo/coords.csv")),
      a.out, a.runDate)
  }

  private[apps] def runApp(name: String, body: (SparkSession, Args) => Unit,
                           argv: Array[String]): Unit = app(name)(body)(argv)
}

// Top-level objects: nested objects get no static main forwarder, so
// `sbt "runMain graft.apps.Eia930App"` needs these at package level.
object Eia930App {
  def main(argv: Array[String]): Unit =
    PipelineApps.runApp("eia930", PipelineApps.runEia930, argv)
}
object Eia7aApp {
  def main(argv: Array[String]): Unit =
    PipelineApps.runApp("eia7a", PipelineApps.runEia7a, argv)
}
object Eia814App {
  def main(argv: Array[String]): Unit =
    PipelineApps.runApp("eia814", PipelineApps.runEia814, argv)
}
object OpenMeteoApp {
  def main(argv: Array[String]): Unit =
    PipelineApps.runApp("openmeteo", PipelineApps.runOpenMeteo, argv)
}
