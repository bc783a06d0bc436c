package graft.etlbench

import java.lang.management.ManagementFactory
import java.time.LocalDate
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{BenchHooks, DataFrame, SparkSession}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Total length of the union of `xs` clipped to [lo, hi]. */
  def covered(xs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total, end = 0L
    var started = false
    xs.map { case (a, b) => (a max lo, b min hi) }.filter { case (a, b) => b > a }
      .sortBy(_._1).foreach { case (a, b) =>
        if (!started || a > end) { total += b - a; end = b; started = true }
        else if (b > end) { total += b - end; end = b }
      }
    total
  }
}

/** Times regions of a pass and accumulates the engine counters inside them;
  * listener events are drained at both edges, so a region's counters hold
  * exactly its own tasks.
  */
final class Harness(val spark: SparkSession, probe: Probe, val actions: ActionProbe) {
  var counters: Counters = Counters.zero
  val windows = ArrayBuffer.empty[(Long, Long)]
  /** Planning nanoseconds of harness-forced frames, in [[ActionProbe.Phases]] order. */
  val heldPhasesNs = new Array[Long](ActionProbe.Phases.size)
  val heldFrames = new AtomicLong

  def resetPass(): Unit = {
    counters = Counters.zero
    windows.clear()
    java.util.Arrays.fill(heldPhasesNs, 0L)
    heldFrames.set(0)
  }

  def timed[A](body: => A): A = {
    drain()
    val c0 = probe.snapshot()
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      drain()
      counters = counters + (probe.snapshot() - c0)
      windows += ((t0, t1))
    }
  }

  /** Planning phases of a frame the harness forced itself for `unit`. */
  def heldPlan(df: DataFrame, unit: String): Unit = if (Trace.on) {
    heldFrames.incrementAndGet()
    ActionProbe.phases(df.queryExecution.tracker).foreach { case (phase, t0, t1) =>
      heldPhasesNs(ActionProbe.Phases.indexOf(phase)) += t1 - t0
      Trace.add("catalyst", phase, unit, t0, t1)
    }
  }

  def wallNs: Long = windows.map(w => w._2 - w._1).sum
  /** Catalyst spans of the engine's own actions, under their units. */
  def addActionSpans(): Unit = actions.addSpans(probe)
  def takeIntervals(): (Seq[(String, Long, Long)], Seq[(String, Long, Long)]) =
    probe.takeIntervals()
  def drain(): Unit = BenchHooks.drainListeners(spark.sparkContext)
}

/** The benchmark process: set-up, one checked warm pass, then checked,
  * timed passes for the requested seconds; prints one JSON result line.
  */
object Main {
  /** Timed passes run until the requested seconds have passed, at least
    * one, or two when traced (an untraced one to set the traced one against).
    */
  def minPasses(a: Args): Int = if (a.trace) 2 else 1
  /** corpus_ingest units: kernel-heavy corpus queries (the LM index build
    * and served scoring, boilerplate shingles) and one exactly-once
    * micro-batch ingest. Few, because every run pays a cold warm pass over
    * all of them inside the benchmark's time budget.
    */
  val CorpusQueries: Seq[String] = Seq("lm8_kn_served", "d15_boilerplate_ngrams",
    "lm5_lm_count_ingest")

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "wall_s" -> "s", "unit_p50_s" -> "s", "unit_max_s" -> "s",
    "cpu_s" -> "s", "shuffle_mb" -> "MB", "sink_mb" -> "MB", "live_heap_mb" -> "MB")

  val PerLayer: Seq[(String, String)] = Seq(
    "sources.fetch_s" -> "s", "sources.pages" -> "count", "sources.parse_build_s" -> "s",
    "pipelines.transform_build_s" -> "s", "pipelines.eia930.wall_s" -> "s",
    "pipelines.eia7a.wall_s" -> "s", "pipelines.eia814.wall_s" -> "s",
    "pipelines.openmeteo.wall_s" -> "s",
    "orchestration.makespan_s" -> "s", "orchestration.task_s" -> "s",
    "orchestration.ready_wait_s" -> "s", "orchestration.critical_path_s" -> "s",
    "orchestration.attempts" -> "count",
    "sinks.write_s" -> "s", "sinks.files" -> "count", "sinks.rows" -> "count",
    "catalyst.analysis_s" -> "s", "catalyst.optimization_s" -> "s",
    "catalyst.planning_s" -> "s", "catalyst.actions" -> "count",
    "codegen.compiles" -> "count", "codegen.compile_s" -> "s",
    "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
    "exec.driver_only_s" -> "s", "exec.core_busy_ratio" -> "ratio",
    "exec.task_run_s" -> "s", "exec.task_cpu_s" -> "s", "exec.gc_s" -> "s",
    "exec.shuffle_read_mb" -> "MB", "exec.shuffle_write_mb" -> "MB",
    "exec.shuffle_wait_s" -> "s", "exec.spill_mb" -> "MB", "exec.input_mb" -> "MB",
    "exec.output_mb" -> "MB") ++
    KernelProbe.kernels.map(k => s"plans.${k._1}.rows_per_s" -> "1/s") ++ Seq(
    "core.storage_free_s" -> "s", "core.stream_overhead_s" -> "s") ++
    CorpusQueries.map(q => s"queries.$q.wall_s" -> "s") ++ Seq(
    "trace.unattributed_share" -> "ratio", "trace.overhead_s" -> "s",
    "fail_ratio" -> "ratio")

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        inputs: String, work: String, cores: Int, expect: String,
                        variant: String, record: Option[String], sidecar: String,
                        dates: Seq[LocalDate])

  def parse(argv: Array[String]): Args = {
    val m = argv.sliding(2, 2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("inputs"), m("work"), m("cores").toInt, m("expect"), m("variant"),
      m.get("record"), m("sidecar"),
      m.get("dates").toSeq.flatMap(_.split(",")).filter(_.nonEmpty).map(LocalDate.parse))
  }

  def session(a: Args): SparkSession = {
    val s = graft.core.Sessions.configure(
      SparkSession.builder().appName("etlbench").master(s"local[${a.cores}]"),
      shufflePartitions = a.cores)
      .config("spark.local.dir", s"${a.work}/tmp")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def workload(a: Args, spark: SparkSession): Workload = a.workload match {
    case "etl_daily" => new EtlDaily(spark, a.inputs, s"${a.work}/sinks", a.dates, a.cores)
    case "corpus_ingest" => new QuerySet(spark, a.inputs, s"${a.work}/warehouse", CorpusQueries)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** First codegen, ICU case mappings, first scan of the opened inputs. */
  def warm(spark: SparkSession): Unit = {
    graft.Bench.warmCaseMappings(spark)
    spark.range(20000).selectExpr("id % 97 AS k", "id * 3 AS v")
      .groupBy("k").sum("v").collect()
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    // ---- set-up, once, as a deployment pays it: from JVM start until the
    // session, the opened inputs, the ICU case mappings and the first
    // codegen are ready
    val spark = session(a)
    val wl = workload(a, spark)
    wl.open()
    warm(spark)
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val probe = new Probe
    spark.sparkContext.addSparkListener(probe)
    val actions = new ActionProbe
    val h = new Harness(spark, probe, actions)
    val rng = new scala.util.Random(a.seed)
    val expected = Expectations.load(a.expect, a.workload, a.variant)
    val recorded = scala.collection.mutable.LinkedHashMap.empty[String, Digest]
    var attempted, failed = 0L
    val failures = ArrayBuffer.empty[String]

    def check(r: UnitRun): Unit = {
      attempted += 1
      val want = if (a.record.isDefined) recorded.get(r.unit) else expected.get(r.unit)
      if (a.record.isDefined && !recorded.contains(r.unit)) r.digest.foreach(recorded(r.unit) = _)
      val ok = r.digest.isDefined && (a.record.isDefined && want.isEmpty || want == r.digest)
      if (!ok) {
        failed += 1
        failures += s"${r.unit}: got ${r.digest.getOrElse("no output (error, or a partition left unreplaced)")} want ${want.getOrElse("none")}"
      }
    }

    // ---- warm pass, checked, not reported; for etl_daily it is the apps
    // themselves landing the first run date (the composition self-test)
    val warmRuns = wl match {
      case e: EtlDaily => e.runApps(s"${a.work}/apps")
      case _ => wl.pass(h, rng)
    }
    warmRuns.foreach(check)

    // ---- measured passes
    val start = System.nanoTime()
    val passes = ArrayBuffer.empty[PassResult]
    while ((passes.size < minPasses(a) || System.nanoTime() - start < a.seconds * 1e9) &&
           System.nanoTime() - start < 4 * a.seconds * 1e9) {
      val traced = a.trace && passes.size % 2 == 1
      passes += runPass(a, wl, h, rng, traced, check)
    }

    val untraced = passes.filterNot(_.traced)
    val traced = passes.filter(_.traced)
    val kernelRates =
      if (a.trace && a.workload == "corpus_ingest") {
        Trace.on = true
        try KernelProbe.measure(spark, a.inputs, copies = 10, reps = 3)
        finally Trace.on = false
      } else Map.empty[String, Double]

    val metrics: Seq[(String, String, Double)] =
      if (!a.trace) {
        def med(f: PassResult => Double) = Stats.median(untraced.map(f).toSeq)
        EndToEnd.map { case (name, unit) =>
          (name, unit, name match {
            case "setup_s" => setupS
            case other => med(_.e2e(other))
          })
        }
      } else {
        val overhead = Stats.median(traced.map(_.e2e("wall_s")).toSeq) -
          Stats.median(untraced.map(_.e2e("wall_s")).toSeq)
        PerLayer.map { case (name, unit) =>
          (name, unit, name match {
            case "trace.overhead_s" => overhead
            case "fail_ratio" => failed.toDouble / attempted
            case n if n.startsWith("plans.") => kernelRates.getOrElse(n, 0.0)
            case n => Stats.median(traced.map(_.layers.getOrElse(n, 0.0)).toSeq)
          })
        }
      }

    Sidecar.write(a, setupS, passes.toSeq, metrics, failures.toSeq, attempted, failed)
    failures.take(20).foreach(f => System.err.println(s"[etlbench] CHECK FAILED $f"))
    a.record.foreach(path => Expectations.save(path, a.workload, a.variant, recorded.toSeq))
    spark.stop()

    val shown = metrics.filter(m => EndToEnd.exists(_._1 == m._1))
      .map { case (n, _, v) => f"$n=$v%.4g" }.mkString(" ")
    println(s"${a.workload} seed=${a.seed} trace=${if (a.trace) 1 else 0} " +
      s"passes=${passes.size} failed=$failed/$attempted $shown")
    println(Json.result(failed == 0, attempted, failed, metrics))
  }

  /** Data files under `dir` written since `sinceMs`. */
  def filesSince(dir: String, sinceMs: Long): Long = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) 0L
    else {
      val s = java.nio.file.Files.walk(root)
      try s.filter { f =>
        val n = f.getFileName.toString
        !n.startsWith("_") && !n.startsWith(".") && java.nio.file.Files.isRegularFile(f) &&
          java.nio.file.Files.getLastModifiedTime(f).toMillis >= sinceMs
      }.count()
      finally s.close()
    }
  }

  final case class PassResult(traced: Boolean, units: Seq[UnitRun],
                              e2e: Map[String, Double], layers: Map[String, Double])

  def runPass(a: Args, wl: Workload, h: Harness, rng: scala.util.Random, traced: Boolean,
              check: UnitRun => Unit): PassResult = {
    val spark = h.spark
    h.resetPass()
    h.drain()
    h.takeIntervals()
    val mark = Trace.mark
    h.actions.reset()
    val passStartMs = System.currentTimeMillis()
    if (traced) spark.listenerManager.register(h.actions)
    Trace.on = traced
    val units = try wl.pass(h, rng) finally {
      h.drain()
      if (traced) {
        spark.listenerManager.unregister(h.actions)
        h.addActionSpans()
      }
      Trace.on = false
    }
    units.foreach(check)

    // live heap after full collections, outside every timed region; the
    // pause lets Spark's ContextCleaner drop what the first one unreferenced
    System.gc()
    Thread.sleep(250)
    System.gc()
    val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed

    val c = h.counters
    val walls = units.map(_.seconds)
    val e2e = Map(
      "wall_s" -> h.wallNs / 1e9,
      "unit_p50_s" -> Stats.median(walls),
      "unit_max_s" -> (if (walls.isEmpty) 0.0 else walls.max),
      "cpu_s" -> c.cpuNs / 1e9,
      "shuffle_mb" -> (c.shuffleRead + c.shuffleWrite) / 1e6,
      "sink_mb" -> c.output / 1e6,
      "live_heap_mb" -> heap / 1e6)
    if (!traced) return PassResult(traced, units, e2e, Map.empty)

    val spans = Trace.since(mark)
    val (taskIntervals, writeIntervals) = h.takeIntervals()
    val windowCovered = h.windows.map(w =>
      Stats.covered(taskIntervals.map(t => (t._2, t._3)), w._1, w._2)).sum
    val wallNs = h.wallNs
    def spanSum(layer: String, name: String) =
      spans.filter(s => s.layer == layer && s.name == name).map(s => s.t1 - s.t0).sum / 1e9
    val act = h.actions
    // leaf layer intervals: everything but the unit and task wrappers
    val leaves = spans.filterNot(s => s.layer == "queries" ||
      (s.layer == "orchestration" && (s.name == "task" || s.name == "makespan")))
    val readyGaps = wl match { case e: EtlDaily => e.readyGaps; case _ => Nil }
    // per unit: (wall, wall that none of the unit's own layer spans, tasks,
    // sink writes or DAG ready waits covers); units running side by side do
    // not cover each other's gaps
    val uncovered = units.filter(u => u.t1 > u.t0).map { u =>
      val mine = leaves.filter(_.unit == u.unit).map(s => (s.t0, s.t1)) ++
        (taskIntervals ++ writeIntervals ++ readyGaps).collect {
          case (unit, t0, t1) if unit == u.unit => (t0, t1)
        }
      (u.unit, u.t1 - u.t0, u.t1 - u.t0 - Stats.covered(mine, u.t0, u.t1))
    }
    val layers = Map(
      "sources.fetch_s" -> spanSum("sources", "fetch"),
      "sources.parse_build_s" -> spanSum("sources", "parse_build"),
      "pipelines.transform_build_s" -> spanSum("pipelines", "transform_build"),
      "orchestration.makespan_s" -> spanSum("orchestration", "makespan"),
      "sinks.write_s" -> c.writeNs / 1e9,
      "sinks.files" -> wl.sinkDirs.map(filesSince(_, passStartMs)).sum.toDouble,
      "sinks.rows" -> c.rowsWritten.toDouble,
      "catalyst.analysis_s" -> (act.phaseNs(0).get + h.heldPhasesNs(0)) / 1e9,
      "catalyst.optimization_s" -> (act.phaseNs(1).get + h.heldPhasesNs(1)) / 1e9,
      "catalyst.planning_s" -> (act.phaseNs(2).get + h.heldPhasesNs(2)) / 1e9,
      "catalyst.actions" -> (act.actions.get + h.heldFrames.get).toDouble,
      "codegen.compiles" -> c.compiles.toDouble,
      "codegen.compile_s" -> c.compileNs / 1e9,
      "exec.jobs" -> c.jobs.toDouble,
      "exec.stages" -> c.stages.toDouble,
      "exec.tasks" -> c.tasks.toDouble,
      "exec.driver_only_s" -> (wallNs - windowCovered) / 1e9,
      "exec.core_busy_ratio" -> (if (wallNs <= 0) 0.0 else c.taskRunMs * 1e6 / (wallNs.toDouble * a.cores)),
      "exec.task_run_s" -> c.taskRunMs / 1e3,
      "exec.task_cpu_s" -> c.taskCpuNs / 1e9,
      "exec.gc_s" -> c.gcMs / 1e3,
      "exec.shuffle_read_mb" -> c.shuffleRead / 1e6,
      "exec.shuffle_write_mb" -> c.shuffleWrite / 1e6,
      "exec.shuffle_wait_s" -> c.fetchWaitMs / 1e3,
      "exec.spill_mb" -> c.spill / 1e6,
      "exec.input_mb" -> c.input / 1e6,
      "exec.output_mb" -> c.output / 1e6,
      "trace.unattributed_share" ->
        (if (uncovered.isEmpty) 0.0 else uncovered.map(_._3).sum.toDouble / uncovered.map(_._2).sum)) ++
      wl.layerFigures
    PassResult(traced, units, e2e,
      layers ++ uncovered.map { case (n, wall, gap) => s"unattributed.$n" -> gap.toDouble / wall })
  }
}
