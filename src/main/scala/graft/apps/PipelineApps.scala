package graft.apps

import java.util.concurrent.{ExecutionException, ExecutorCompletionService, Executors}

import graft.core.Sessions
import graft.orchestration.TaskGraph
import graft.orchestration.TaskGraph.{RetryPolicy, Task}
import graft.pipelines._
import graft.sources._
import graft.sources.EnvelopeJson.FixturePages
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

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
    * parquet table keyed by the run date, written with dynamic partition
    * overwrite. The write adds no sort of its own: `run_date` is one value
    * per call, so each file keeps the order its frame sorted its rows in
    * (within partitions, see `Eia930Pipeline`). It adds no exchange either:
    * a frame lands at most one file per partition. The apps' sources are
    * rows decoded on the driver into one partition (`EnvelopeJson.parsePages`,
    * `OpenMeteoSource.parseResponses`), so they land one file per table and
    * run date; a partitioned frame keeps its parallelism.
    *
    * The tables are independent jobs, so they are written side by side on a
    * pool made for this call, of min(#outputs, `defaultParallelism`)
    * threads. The calling thread starts those threads (one per submitted
    * write until the pool is full), so they inherit its Spark local
    * properties: every write job carries the caller's job group and job
    * tags. The writers never enter `Storage.freeingIntermediates`, so a
    * caller inside it does not deadlock them.
    *
    * `load` returns only when every write has ended. When writes fail it
    * then throws the first failure, with the later ones added as
    * suppressed; the tables whose writes succeeded have landed. No writer
    * outlives the call, so a retry of the load never races a leftover
    * write on the same table path, and the retry's overwrite replaces each
    * run-date partition exactly once. (To stop a load early, cancel its
    * jobs by tag: the writes then fail and `load` throws. An interrupt of
    * the calling thread would end the wait with the writers still running.)
    */
  def load(outputs: Map[String, DataFrame], outDir: String,
           runDate: java.time.LocalDate): Unit = if (outputs.nonEmpty) {
    val sc = outputs.head._2.sparkSession.sparkContext
    val pool = Executors.newFixedThreadPool(math.min(outputs.size, sc.defaultParallelism))
    try {
      val writes = new ExecutorCompletionService[Unit](pool)
      outputs.foreach { case (table, df) =>
        writes.submit(() =>
          Sinks.overwriteRunPartition(stamped(df, runDate), s"$outDir/$table", "run_date"))
      }
      val failures = Seq.fill(outputs.size)(writes.take()).flatMap { f =>
        try { f.get(); None }
        catch { case e: ExecutionException => Some(e.getCause) }
      }
      failures match {
        case first +: rest => rest.foreach(first.addSuppressed); throw first
        case _ =>
      }
    } finally pool.shutdown()
  }

  /** `df` with the `run_date` column [[load]] partitions its table by. */
  def stamped(df: DataFrame, runDate: java.time.LocalDate): DataFrame =
    df.withColumn("run_date", org.apache.spark.sql.functions.lit(runDate.toString))

  /** EIA-930 daily: cutoff = run date minus 2 days at hour 00 (:48,:98). */
  def runEia930(spark: SparkSession, a: Args): Unit =
    load(eia930Outputs(spark, a), a.out, a.runDate)

  /** EIA-7A quarterly: target quarter = run date minus 6 months (:51,:76). */
  def runEia7a(spark: SparkSession, a: Args): Unit =
    load(eia7aOutputs(spark, a), a.out, a.runDate)

  /** EIA-814 monthly: fetch until the API runs dry (:52-54). */
  def runEia814(spark: SparkSession, a: Args): Unit =
    load(eia814Outputs(spark, a), a.out, a.runDate)

  /** Open-Meteo daily: one response document per curated coordinate. */
  def runOpenMeteo(spark: SparkSession, a: Args): Unit =
    load(openMeteoOutputs(spark, a), a.out, a.runDate)

  /** The sink frames of all four pipelines over the sources under `a.src`,
    * by table, each stamped as [[load]] stamps it: what the apps write.
    */
  def sinkFrames(spark: SparkSession, a: Args): Seq[(String, DataFrame)] =
    Seq(eia930Outputs _, eia7aOutputs _, eia814Outputs _, openMeteoOutputs _)
      .flatMap(_(spark, a)).sortBy(_._1)
      .map { case (table, df) => table -> stamped(df, a.runDate) }

  /** The `row`-shaped frame of the fixture pages under `dir`, `pageSize`
    * rows a page, as `fetch` (an `EnvelopeJson.fetch*` loop) pulls them. */
  private def pages(spark: SparkSession, dir: String, row: StructType, pageSize: Int)(
      fetch: (EnvelopeJson.PageSource, Int) => Seq[String]): DataFrame =
    EnvelopeJson.parsePages(spark, fetch(new FixturePages(dir, pageSize), pageSize), row)

  /** The extract >> transform of each app above: its sink frames by table. */
  private def eia930Outputs(spark: SparkSession, a: Args): Map[String, DataFrame] = {
    val cutoff = java.sql.Timestamp.valueOf(a.runDate.minusDays(2).atStartOfDay())
    val untilCutoff: (EnvelopeJson.PageSource, Int) => Seq[String] =
      EnvelopeJson.fetchUntilPeriod(_, _, a.runDate.minusDays(2).toString + "T00")
    Eia930Pipeline.transform(
      pages(spark, s"${a.src}/eia930/fuel", Schemas.fuelTypeDataRow, 12)(untilCutoff),
      pages(spark, s"${a.src}/eia930/region", Schemas.regionDataRow, 40)(untilCutoff),
      pages(spark, s"${a.src}/eia930/interchange", Schemas.interchangeDataRow, 16)(untilCutoff),
      CsvSources.balancingAuthorities(spark, s"${a.src}/eia930/ba.csv"),
      CsvSources.energySources(spark, s"${a.src}/eia930/energy.csv"),
      cutoff)
  }

  private def eia7aOutputs(spark: SparkSession, a: Args): Map[String, DataFrame] = {
    val quarter = Eia7aPipeline.quarterLabelFor(a.runDate, monthsAgo = 6)
    val inQuarter: (EnvelopeJson.PageSource, Int) => Seq[String] =
      EnvelopeJson.fetchWhilePeriodEquals(_, _, quarter)
    Eia7aPipeline.transform(
      pages(spark, s"${a.src}/eia7a/customs", Schemas.coalImportsExportsRow, 4)(inQuarter),
      pages(spark, s"${a.src}/eia7a/mine", Schemas.coalShipmentReceiptsRow, 1)(inQuarter),
      quarter)
  }

  private def eia814Outputs(spark: SparkSession, a: Args): Map[String, DataFrame] =
    Eia814Pipeline.transform(
      pages(spark, s"${a.src}/eia814", Schemas.crudeOilImportsRow, 1)(EnvelopeJson.fetchUntilEmpty))

  private def openMeteoOutputs(spark: SparkSession, a: Args): Map[String, DataFrame] = {
    val dir = java.nio.file.Paths.get(s"${a.src}/openmeteo")
    val stream = java.nio.file.Files.list(dir)
    val files = try stream.toArray.map(_.toString) finally stream.close()
    val bodies = files.filter(_.endsWith(".json")).sorted.toSeq
      .map(p => java.nio.file.Files.readString(java.nio.file.Paths.get(p)))
    OpenMeteoPipeline.transform(
      OpenMeteoSource.parseResponses(spark, bodies),
      CsvSources.coordinates(spark, s"${a.src}/openmeteo/coords.csv"))
  }

  /** One app main: `body` over `argv`'s [[Args]] in a fresh session, as one
    * TaskGraph task with the reference's retry policy; its last failure rethrows.
    */
  private[apps] def runApp(name: String, body: (SparkSession, Args) => Unit,
                           argv: Array[String]): Unit = {
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
