package graft.etlbench

import java.time.LocalDate
import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.util.chaining._

import graft.apps.PipelineApps
import graft.orchestration.TaskGraph
import graft.orchestration.TaskGraph.{RetryPolicy, Task}
import graft.pipelines._
import graft.sources._
import graft.sources.EnvelopeJson.FixturePages
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One execution of a unit: its timed window and its checked output (None
  * when it threw).
  */
final case class UnitRun(unit: String, t0: Long, t1: Long, digest: Option[Digest]) {
  def seconds: Double = (t1 - t0) / 1e9
}

/** A workload: what set-up opens, what one pass runs. `pass` times its units
  * through [[Harness.timed]] and fingerprints their outputs outside it.
  */
trait Workload {
  /** Open the workload's inputs (part of set-up). */
  def open(): Unit
  def pass(h: Harness, rng: scala.util.Random): Seq[UnitRun]
  /** Where the workload's sinks land. */
  def sinkDirs: Seq[String]
  /** Per-layer figures of the last pass that only this workload can see. */
  def layerFigures: Map[String, Double] = Map.empty
}

// ------------------------------------------------------------------ etl_daily

/** The four reference pipelines over consecutive run dates, one run date per
  * pass. Each run date is one `TaskGraph.runParallel` DAG of extract >>
  * transform >> load chains, one chain per pipeline, handing frames
  * downstream the way Airflow hands XComs. A unit is one pipeline on one run
  * date.
  */
final class EtlDaily(spark: SparkSession, inputs: String, sinkRoot: String,
                     dates: Seq[LocalDate], cores: Int) extends Workload {
  def sinkDirs: Seq[String] = Seq(sinkRoot)
  val pipelines: Seq[String] = Seq("eia930", "eia7a", "eia814", "openmeteo")
  private val pageRows = 5000

  private val pages, attempts = new AtomicLong
  /** (task id, start, end, upstream id) of the last pass's DAG tasks. */
  private var lastTasks = Seq.empty[(String, Long, Long, Option[String])]

  def open(): Unit = dates.foreach { d =>
    val src = s"$inputs/$d"
    CsvSources.balancingAuthorities(spark, s"$src/eia930/ba.csv").schema
    CsvSources.coordinates(spark, s"$src/openmeteo/coords.csv").schema
  }

  /** Extract: page fetch + envelope parse + reference CSVs, as the apps do. */
  private def extract(p: String, d: LocalDate, unit: String): Seq[DataFrame] = {
    val src = s"$inputs/$d"
    def fetched(bodies: => Seq[String]): Seq[String] = {
      val b = Trace.span("sources", "fetch", unit)(bodies)
      pages.addAndGet(b.size)
      b
    }
    def parse(bodies: Seq[String], row: org.apache.spark.sql.types.StructType) =
      Trace.span("sources", "parse_build", unit)(EnvelopeJson.parsePages(spark, bodies, row))
    p match {
      case "eia930" =>
        val stop = d.minusDays(2).toString + "T00"
        def endpoint(sub: String, row: org.apache.spark.sql.types.StructType) =
          parse(fetched(EnvelopeJson.fetchUntilPeriod(
            new FixturePages(s"$src/eia930/$sub", pageRows), pageRows, stop)), row)
        Seq(endpoint("fuel", Schemas.fuelTypeDataRow),
          endpoint("region", Schemas.regionDataRow),
          endpoint("interchange", Schemas.interchangeDataRow),
          Trace.span("sources", "parse_build", unit)(
            CsvSources.balancingAuthorities(spark, s"$src/eia930/ba.csv")),
          Trace.span("sources", "parse_build", unit)(
            CsvSources.energySources(spark, s"$src/eia930/energy.csv")))
      case "eia7a" =>
        val quarter = Eia7aPipeline.quarterLabelFor(d, monthsAgo = 6)
        def endpoint(sub: String, row: org.apache.spark.sql.types.StructType) =
          parse(fetched(EnvelopeJson.fetchWhilePeriodEquals(
            new FixturePages(s"$src/eia7a/$sub", pageRows), pageRows, quarter)), row)
        Seq(endpoint("customs", Schemas.coalImportsExportsRow),
          endpoint("mine", Schemas.coalShipmentReceiptsRow))
      case "eia814" =>
        Seq(parse(fetched(EnvelopeJson.fetchUntilEmpty(
          new FixturePages(s"$src/eia814", 1), 1)), Schemas.crudeOilImportsRow))
      case "openmeteo" =>
        val bodies = fetched {
          val dir = java.nio.file.Paths.get(s"$src/openmeteo")
          val s = java.nio.file.Files.list(dir)
          val files = try s.toArray.map(_.toString) finally s.close()
          files.filter(_.endsWith(".json")).sorted.toSeq
            .map(f => java.nio.file.Files.readString(java.nio.file.Paths.get(f)))
        }
        Seq(Trace.span("sources", "parse_build", unit)(
            OpenMeteoSource.parseResponses(spark, bodies)),
          Trace.span("sources", "parse_build", unit)(
            CsvSources.coordinates(spark, s"$src/openmeteo/coords.csv")))
    }
  }

  private def transform(p: String, d: LocalDate, in: Seq[DataFrame]): Map[String, DataFrame] =
    p match {
      case "eia930" => Eia930Pipeline.transform(in(0), in(1), in(2), in(3), in(4),
        java.sql.Timestamp.valueOf(d.minusDays(2).atStartOfDay()))
      case "eia7a" => Eia7aPipeline.transform(in(0), in(1),
        Eia7aPipeline.quarterLabelFor(d, monthsAgo = 6))
      case "eia814" => Eia814Pipeline.transform(in(0))
      case "openmeteo" => OpenMeteoPipeline.transform(in(0), in(1))
    }

  /** The run-date DAG: per pipeline, extract >> transform >> load. */
  private def dag(d: LocalDate, order: Seq[String],
                  log: java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Long, Option[String])])
      : Seq[Task] = {
    val handoff = TrieMap.empty[String, Any]
    def task(id: String, up: Option[String])(body: => Unit): Task =
      Task(id, up.toSeq, RetryPolicy(retries = 2, delayMs = 1000)) { () =>
        attempts.incrementAndGet()
        val unit = id.takeWhile(_ != '.') + "@" + d
        val t0 = System.nanoTime()
        Trace.tagged(spark, unit)(Trace.span("orchestration", "task", unit)(body))
        log.add((id, t0, System.nanoTime(), up))
      }
    order.flatMap { p =>
      val unit = s"$p@$d"
      Seq(
        task(s"$p.extract", None) { handoff(s"$p.in") = extract(p, d, unit) },
        task(s"$p.transform", Some(s"$p.extract")) {
          val in = handoff(s"$p.in").asInstanceOf[Seq[DataFrame]]
          handoff(s"$p.out") = Trace.span("pipelines", "transform_build", unit)(transform(p, d, in))
        },
        task(s"$p.load", Some(s"$p.transform")) {
          val out = handoff(s"$p.out").asInstanceOf[Map[String, DataFrame]]
          Trace.span("sinks", "load", unit)(PipelineApps.load(out, sinkRoot, d))
        })
    }
  }

  private var passes = 0
  private var lastDate: LocalDate = _

  /** One daily batch: the next run date's DAG (passes walk the run dates). */
  def pass(h: Harness, rng: scala.util.Random): Seq[UnitRun] = {
    val d = dates(passes % dates.size)
    passes += 1
    lastDate = d
    pages.set(0)
    attempts.set(0)
    val log = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Long, Option[String])]
    val tasks = dag(d, rng.shuffle(pipelines), log)
    // earlier passes landed the same partitions; a unit whose partition
    // still holds one of these files did not replace it
    val before = dataFiles(sinkRoot)
    val results = h.timed {
      Trace.span("orchestration", "makespan", s"dag@$d")(
        TaskGraph.runParallel(tasks, parallelism = cores))
    }
    lastTasks = log.toArray.toSeq.map(_.asInstanceOf[(String, Long, Long, Option[String])])
    // outside the timed region: read back what each unit landed
    inParallel(pipelines) { p =>
      val mine = lastTasks.filter(_._1.startsWith(p + "."))
      val ok = results.filter(_._1.startsWith(p + ".")).values.forall(_ == TaskGraph.Succeeded)
      UnitRun(s"$p@$d", if (mine.isEmpty) 0L else mine.map(_._2).min,
        if (mine.isEmpty) 0L else mine.map(_._3).max,
        if (ok) landed(sinkRoot, p, d, before) else None)
    }
  }

  /** (unit, upstream end, task start) of every task in the last pass's DAG. */
  def readyGaps: Seq[(String, Long, Long)] = {
    val end = lastTasks.map(t => t._1 -> t._3).toMap
    lastTasks.collect { case (id, t0, _, Some(up)) if end.contains(up) =>
      (id.takeWhile(_ != '.') + "@" + lastDate, end(up), t0)
    }
  }

  private def inParallel[A, B](xs: Seq[A])(f: A => B): Seq[B] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cores)
    try xs.map(x => pool.submit(new java.util.concurrent.Callable[B] {
      override def call(): B = f(x)
    })).map(_.get())
    finally pool.shutdown()
  }

  /** Data files under `dir` (recursively). */
  private def dataFiles(dir: String): Set[String] = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) Set.empty
    else {
      val s = java.nio.file.Files.walk(root)
      try s.toArray.map(_.asInstanceOf[java.nio.file.Path]).filter { f =>
        val n = f.getFileName.toString
        !n.startsWith("_") && !n.startsWith(".") && java.nio.file.Files.isRegularFile(f)
      }.map(_.toString).toSet
      finally s.close()
    }
  }

  /** Fingerprint of the rows pipeline `p` landed for run date `d`: every
    * `<p>_*` sink table's run-date partition. None when a partition still
    * holds a file from `before`, i.e. the load left it as it was.
    */
  def landed(root: String, p: String, d: LocalDate, before: Set[String]): Option[Digest] = {
    val tables = Option(new java.io.File(root).list()).toSeq.flatten
      .filter(_.startsWith(p + "_")).sorted
    val parts = tables.map(t => t -> s"$root/$t/run_date=$d")
    if (parts.exists { case (_, part) => dataFiles(part).exists(before.contains) }) None
    else Some(parts.map { case (t, part) =>
      if (!new java.io.File(part).exists()) Digest.empty
      else Digest.of(spark.read.parquet(part), t)
    }.foldLeft(Digest.empty)(_ + _))
  }

  /** The composition self-test, run as the warm-up: the four apps land the
    * first run date side by side, as their independent schedules would, and
    * their rows are checked against the same expectations the DAG's units
    * are checked against.
    */
  def runApps(root: String): Seq[UnitRun] = {
    val d = dates.head
    val args = PipelineApps.Args(s"$inputs/$d", root, d)
    Seq[(String, (SparkSession, PipelineApps.Args) => Unit)](
      "eia930" -> PipelineApps.runEia930, "eia7a" -> PipelineApps.runEia7a,
      "eia814" -> PipelineApps.runEia814, "openmeteo" -> PipelineApps.runOpenMeteo
    ).pipe(inParallel(_) { case (p, app) =>
      val t0 = System.nanoTime()
      val ok = scala.util.Try(app(spark, args)).isSuccess
      UnitRun(s"$p@$d", t0, System.nanoTime(), if (ok) landed(root, p, d, Set.empty) else None)
    })
  }

  override def layerFigures: Map[String, Double] = {
    def chain(p: String) = lastTasks.filter(_._1.startsWith(p + "."))
    Map(
      "sources.pages" -> pages.get.toDouble,
      "orchestration.attempts" -> attempts.get.toDouble,
      "orchestration.task_s" -> lastTasks.map(t => t._3 - t._2).sum / 1e9,
      "orchestration.ready_wait_s" -> readyGaps.map { case (_, a, b) => b - a }.sum / 1e9,
      "orchestration.critical_path_s" ->
        pipelines.map(p => chain(p).map(t => t._3 - t._2).sum).max / 1e9) ++
      pipelines.map { p =>
        val mine = chain(p)
        s"pipelines.$p.wall_s" ->
          (if (mine.isEmpty) 0.0 else (mine.map(_._3).max - mine.map(_._2).min) / 1e9)
      }
  }
}

// ------------------------------------------------------- query workloads

/** Queries from the engine's registry, each run as the engine's bench runs
  * it: build the frame, force its own physical plan, sweep persisted blocks
  * before the next unit.
  */
final class QuerySet(spark: SparkSession, inputs: String, warehouse: String,
                     queries: Seq[String]) extends Workload {
  def sinkDirs: Seq[String] = Seq(warehouse)
  private val fns = graft.SparkEntry.queries
  require(queries.forall(fns.contains), s"unknown query in $queries")
  private val overheadNs, storageFreeNs = new AtomicLong
  private var lastRuns = Seq.empty[UnitRun]

  def open(): Unit = graft.core.Tables.documents(spark, inputs).schema

  def pass(h: Harness, rng: scala.util.Random): Seq[UnitRun] = {
    overheadNs.set(0)
    storageFreeNs.set(0)
    lastRuns = rng.shuffle(queries).map { q =>
      graft.core.Timing.reset()
      var df: DataFrame = null
      var digest: Option[Digest] = None
      val t0 = System.nanoTime()
      try {
        h.timed {
          Trace.tagged(spark, q)(Trace.span("queries", q, q) {
            df = fns(q)(spark, inputs)
            // plan before executing, so the frame's planning phases are
            // read from its own tracker (toRdd never reaches a listener)
            df.queryExecution.executedPlan
            digest = Some(Digest.force(df))
          })
        }
        h.heldPlan(df, q)
      } catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[etlbench] FAIL $q: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
      val t1 = System.nanoTime()
      overheadNs.addAndGet((graft.core.Timing.overheadSeconds * 1e9).toLong)
      h.timed {
        val f0 = System.nanoTime()
        Trace.span("core", "storage_free", q)(graft.core.Storage.freeAll(spark))
        storageFreeNs.addAndGet(System.nanoTime() - f0)
      }
      UnitRun(q, t0, t1, digest)
    }
    lastRuns
  }

  override def layerFigures: Map[String, Double] = Map(
    "core.storage_free_s" -> storageFreeNs.get / 1e9,
    "core.stream_overhead_s" -> overheadNs.get / 1e9) ++
    lastRuns.map(u => s"queries.${u.unit}.wall_s" -> u.seconds)
}

/** Native-kernel throughput: each kernel the corpus_ingest queries call,
  * through its public Column builder, in an isolated projection over the
  * documents table.
  */
object KernelProbe {
  def kernels: Seq[(String, Column)] = {
    import graft.plans._
    Seq(
      "word_windows" -> WordWindowsLong.wordWindows(col("text"), 3),
      "shingle_hashes" -> ShingleHashesLong.shingleHashes(col("text"), 5, 6),
      "md5_prefix" -> Md5PrefixLong.md5PrefixLong(col("text"), 6),
      "ln_micro" -> LnFpFunctions.lnMicro(col("n_chars") + 2L, col("doc_id") + 1L))
  }

  /** rows/s per kernel over `copies` replicas of the documents table. */
  def measure(spark: SparkSession, inputs: String, copies: Int, reps: Int): Map[String, Double] = {
    val docs = spark.range(copies).crossJoin(graft.core.Tables.documents(spark, inputs))
      .drop("id").localCheckpoint()
    try kernels.map { case (name, expr) =>
      val df = docs.select(expr.as("k"))
      val rows = graft.Bench.forceFrame(df) // warm: codegen + JIT
      val secs = (0 until reps).map { _ =>
        val t0 = System.nanoTime()
        Trace.span("plans", name, "kernels")(graft.Bench.forceFrame(df))
        (System.nanoTime() - t0) / 1e9
      }
      s"plans.$name.rows_per_s" -> rows / Stats.median(secs)
    }.toMap
    finally graft.core.Storage.freeCheckpoint(docs)
  }
}
