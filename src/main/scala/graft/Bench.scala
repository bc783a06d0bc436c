package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark main: one JSON line with per-query wall seconds at
  * SPARK_GRAFT_SF_DIR (driver contract).
  *
  * - A warmup action runs first so JVM/codegen startup lands on no query, and
  *   queries run in name order so timings are comparable across rounds.
  * - The JSON line goes to stdout AND to a file (SPARK_GRAFT_BENCH_OUT, or
  *   target/bench_last.json) — sbt's logger prefixes stdout with [info] and
  *   interleaves warnings, so the file is the machine-readable artifact.
  * - Failures are honest: a throwing query is recorded under "failed" (not
  *   given a plausible timing) and the process exits nonzero.
  * - The documented O(n^2) correctness baselines are excluded beyond sf0.1
  *   (recorded under "skipped", never silently): at larger scale the bench
  *   must measure the subquadratic LSH/banding paths a user would actually
  *   run, not baselines that exist to validate them.
  * - Beyond wall time, a task listener attributes SHUFFLE bytes (read +
  *   written) and SPILL bytes to each query ("shuffle_mb" / "spill_mb") —
  *   wall seconds on local[32] don't predict cluster cost, exchanged bytes
  *   do, so round-over-round shuffle deltas are the scale signal to watch.
  */
object Bench {

  /** Accumulates task-level shuffle/spill bytes; snapshot around each query.
    * Listener delivery is async, so readers drain via `quiesce` (counter
    * stable for 100 ms, bounded wait) before snapshotting.
    */
  private final class TaskBytesListener extends org.apache.spark.scheduler.SparkListener {
    val shuffle = new java.util.concurrent.atomic.AtomicLong
    val spill = new java.util.concurrent.atomic.AtomicLong
    val events = new java.util.concurrent.atomic.AtomicLong
    override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) {
        shuffle.addAndGet(m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten)
        spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        events.incrementAndGet()
      }
    }
    def quiesce(): Unit = {
      val deadline = System.nanoTime() + 2000L * 1000 * 1000
      var last = -1L
      while (System.nanoTime() < deadline && last != events.get()) {
        last = events.get()
        Thread.sleep(100)
      }
    }
  }

  /** Quadratic correctness baselines (see Dedup.jaccardPairs,
    * Similarity.nearDupPairs Scaladoc) — bench them only at sf <= 0.1.
    */
  private val QuadraticBaselines = Set("d5_jaccard_bruteforce", "d8_embedding_neardup")

  /** The bench ACTION: execute the frame's OWN physical plan and count its
    * rows (`toRdd.count()`), rather than `df.count()`. Under `df.count()`
    * Catalyst builds a NEW plan for `Aggregate [count(1)]` and legally
    * deletes everything the count doesn't need — column pruning strips
    * computed output columns, unique-key join elimination removes whole
    * subtrees (observed live: d37's entire dedup collapsed to a doc count,
    * 0.0 MB shuffle), so a bench row can time a no-op while claiming to
    * time the operator. The round-19 audit (tools/CountAudit) found 173 of
    * 328 queries with at least one computed output column eliminated under
    * count. Executing the frame's own plan makes elimination impossible BY
    * CONSTRUCTION: the final operator builds an UnsafeRow per output row,
    * which materializes every output column — the same work Verify's
    * parquet dump pays, minus sink I/O. Final ORDER BYs now execute too
    * (count() used to eliminate them); that is the honest cost of the
    * declared frame and is uniform across rounds once baselines are
    * re-promoted.
    */
  private[graft] def forceFrame(df: org.apache.spark.sql.DataFrame): Long =
    df.queryExecution.toRdd.count()

  /** Per-query seconds from a prior bench artifact, for the regression gate.
    * Accepts either the raw one-line bench JSON (BENCH_BASELINE.json,
    * target/bench_last.json) or a driver round file (BENCH_r*.json) whose
    * "tail" embeds that line. Source order: SPARK_GRAFT_BENCH_PREV, the
    * committed BENCH_BASELINE.json (updated each round — the driver round
    * files truncate their tail, losing the queries block), else the newest
    * BENCH_r*.json in the cwd. A hand-rolled scan, not a JSON library —
    * build.sbt's dependency set is frozen and the format is self-produced.
    */
  private[graft] def parseMetricBlock(text: String, key: String): Map[String, Double] = {
    // driver files embed the bench line inside a JSON string — unescape.
    // Whitespace-tolerant: the promotion flow re-serializes the baseline
    // through a JSON library that space-pads (`"queries": {`), and the
    // r13–r14 whitespace-BLIND regex silently failed on every promoted
    // baseline — priorMetrics fell through to the (also unparseable)
    // driver round files and the time/shuffle gates ran PRIORLESS for two
    // rounds. That is how d2's cold 1.29 s promoted without a flag
    // (README "d2 forensics"); the no-usable-prior notice below makes the
    // failure mode loud if a third format ever appears.
    val flat = text.replace("\\\"", "\"")
    val block = ("\"" + key + "\"\\s*:\\s*\\{([^}]*)\\}").r
      .findFirstMatchIn(flat).map(_.group(1))
    block.map { b =>
      "\"([A-Za-z0-9_]+)\"\\s*:\\s*([0-9.Ee+-]+)".r.findAllMatchIn(b)
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
    }.getOrElse(Map.empty[String, Double])
  }

  /** The fixed CPU-bound hardware probe (8M md5+xxhash64 rows, shuffle-free,
    * codegen'd): min of two timed runs after a JIT pass. Run once at session
    * start for the cross-host time-gate scale, and RE-RUN before the retry
    * pass when regressions are suspected — if the re-probe also degraded,
    * the "regression" is a host CPU-steal burst, and the bench records that
    * evidence (`retry_calibration`) next to the flag instead of leaving an
    * unexplained multiple in the artifact (the r13 ds4 lesson).
    */
  private def calibrationProbe(spark: SparkSession, cpus: Int): Double = {
    import org.apache.spark.sql.functions._
    def once(): Double = {
      val t0 = System.nanoTime()
      spark.range(0, 8L * 1000 * 1000, 1, cpus)
        .select(sum(xxhash64(md5(col("id").cast("string")))
          .bitwiseAND(lit(0xFFFFFFL)))).head() // mask: ANSI sum must not overflow
      (System.nanoTime() - t0) / 1e9
    }
    once() // JIT
    math.min(once(), once())
  }

  /** Whole-JVM GC wall seconds so far (sum over collectors) — the per-query
    * delta attributes a slow query to heap pressure vs real dataflow cost.
    */
  private def gcSeconds(): Double =
    scala.jdk.CollectionConverters.ListHasAsScala(
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans)
      .asScala.map(b => math.max(b.getCollectionTime, 0L)).sum / 1e3

  /** (per-query seconds, per-query shuffle MB, calibration seconds) from the
    * newest available prior artifact (all from the SAME file, so time and
    * shuffle gates judge against one coherent baseline).
    */
  private def priorMetrics(): (Map[String, Double], Map[String, Double],
      Option[Double], Map[String, Double]) = {
    val candidates: Seq[java.nio.file.Path] =
      sys.env.get("SPARK_GRAFT_BENCH_PREV").map(Paths.get(_)).toSeq ++
        Seq(Paths.get("BENCH_BASELINE.json")) ++ {
          val d = Paths.get(".").toAbsolutePath
          Option(d.toFile.listFiles()).getOrElse(Array.empty)
            .filter(f => f.getName.matches("BENCH_r\\d+\\.json")).sortBy(_.getName)
            .lastOption.map(_.toPath).toSeq
        }
    candidates.filter(Files.exists(_)).map(Files.readString(_))
      .map(t => (parseMetricBlock(t, "queries"), parseMetricBlock(t, "shuffle_mb"),
        parseCalibration(t), parseMetricBlock(t, "stream_overhead_s")))
      .find(_._1.nonEmpty).getOrElse((Map.empty, Map.empty, None, Map.empty))
  }

  /** The prior artifact's calibration probe seconds, if it recorded one
    * (same raw-or-driver-embedded formats as [[parseMetricBlock]]).
    */
  private[graft] def parseCalibration(text: String): Option[Double] =
    "\"calibration_sec\"\\s*:\\s*([0-9.Ee+-]+)".r
      .findFirstMatchIn(text.replace("\\\"", "\""))
      .map(_.group(1).toDouble)

  /** Hardware-scale a prior's seconds with a fixed-overhead model:
    * `overhead + (prior - overhead) * hwScale`. A measured query is
    * fixed job overhead (scheduling, codegen, stage setup — silicon-
    * independent) plus CPU work (what the calibration probe measures).
    * Scaling the WHOLE prior by the probe ratio over-corrects short
    * queries: on a 1.4x-faster host a 1 s query's allowance shrank to
    * 0.73 s even though ~0.25 s of it never speeds up — observed as four
    * spurious ~1.5x flags on sub-second queries in one run. The model is
    * symmetric: on a slower host it also stops over-inflating short-query
    * allowances.
    */
  private[graft] val OverheadSec = 0.25
  private[graft] def scalePrior(prior: Double, hwScale: Double): Double =
    OverheadSec + math.max(0.0, prior - OverheadSec) * hwScale

  /** Trust bound on the calibration ratio: past 3x in either direction the
    * probe is reporting something other than steady silicon (a steal burst
    * DURING the probe, a mis-recorded prior), and letting it scale priors
    * unbounded turns the time gate off — a 10x "slower host" reading would
    * absolve any regression up to 10x. Real host spread observed across
    * rounds is 1.4-2.7x; 3x covers it with margin while keeping a
    * constant-cost jump on a sub-second query flaggable (d2's +1.0 s ICU
    * constant stays >3x its scaled prior even at the cap).
    */
  private[graft] val HwScaleCap = 3.0
  private[graft] def clampHwScale(raw: Double): Double =
    math.max(1.0 / HwScaleCap, math.min(HwScaleCap, raw))

  /** Comparability band on the retry-vs-start calibration ratio: OUTSIDE
    * [1/1.3, 1.3] in EITHER direction the two probe runs measured different
    * silicon states, so the start-of-run probe that scaled the priors was
    * not steady and the flags it produced are not evidence. The r16 close
    * shipped five unqualified flags at `retry_calibration: 0.51` — the
    * START probe was ~2x slower than the retry probe (a start-of-run
    * burst), which the old `> 1.3`-only warning never caught: a ratio far
    * BELOW 1 is equally strong evidence the measurements are not
    * comparable.
    */
  private[graft] val CalibrationBand = 1.3
  private[graft] def calibrationComparable(ratio: Double): Boolean =
    ratio >= 1.0 / CalibrationBand && ratio <= CalibrationBand

  /** Split time-gate flags by calibration evidence: flags measured under a
    * non-comparable probe pair (ratio outside the band, either direction)
    * ship under `regressions_suspect` — annotated, never unqualified —
    * while flags whose probes agree ship as firm `regressions`. No retry
    * probe (no suspects ever arose) means any flags are firm by
    * construction (they can only be empty).
    */
  private[graft] def splitByCalibrationEvidence(
      flags: Seq[(String, Double)], retryCalibration: Option[Double])
      : (Seq[(String, Double)], Seq[(String, Double)]) =
    retryCalibration match {
      case Some(r) if !calibrationComparable(r) => (Seq.empty, flags)
      case _ => (flags, Seq.empty)
    }

  /** Split time-gate flags by RAW-ratio evidence on a faster host: when
    * hwScale < 1 the gate SHRINKS every allowance by the CPU-probe ratio,
    * but shuffle-/IO-bound heavies don't speed up with single-core silicon
    * — a query flagged ONLY against the shrunken allowance (its raw ratio
    * never crossed the factor) is probe over-correction, not a measured
    * slowdown, and ships annotated (`regressions_hwscaled`) rather than
    * firm. Measured live: a hw_scale 0.69 run flagged NINE shuffle-bound
    * queries at 1.51-1.67x scaled whose raw ratios were 1.04-1.15. On a
    * slower host (hwScale >= 1) allowances only grow, so a scaled flag
    * implies a raw flag and the split is a no-op.
    *
    * The raw-evidence check runs at a LOOSER factor ([[RawEvidenceFactor]])
    * than the gate's 1.5: the full factor would also absorb true slowdowns
    * smaller than 1.5/hwScale (a real 1.8x regression at hwScale 0.5 shows
    * a raw ratio of only ~0.9 — ADVICE r17 #3); at 1.15 the split demotes
    * only flags whose raw wall time barely moved (the nine live ones were
    * all <= 1.15x raw), while anything that measurably slowed in raw
    * seconds keeps firm standing.
    */
  private[graft] val RawEvidenceFactor = 1.15
  private[graft] def splitByRawEvidence(flags: Seq[(String, Double)],
      rawFlagged: Set[String], hwScale: Double)
      : (Seq[(String, Double)], Seq[(String, Double)]) =
    if (hwScale >= 1.0) (flags, Seq.empty)
    else flags.partition(f => rawFlagged(f._1))

  /** The regression gate, shared by the time and shuffle checks: queries
    * whose metric grew beyond `factor` x its baseline value, where the
    * LARGER of the two values clears `minAbs` (below it the drift is
    * session noise — for seconds, sub-half-second timer jitter; for shuffle
    * MB, sub-megabyte exchanges). Gating on max(prior, current) rather than
    * both closes the cheap-query blind spot: a 0.3 s query that blows up to
    * 1.3 s is a real 4x regression the both-sides form waved through
    * (observed round 6: d2 0.28 -> 1.27 s, zero flags), while 0.1 -> 0.2 s
    * jitter still stays under the floor. Returns name -> growth ratio. The
    * SHUFFLE gate is the one that predicts cluster cost: wall seconds on
    * local[32] hide exchange growth that dominates at 1000 executors,
    * exchanged bytes do not.
    */
  private[graft] def regressionsAgainst(current: Seq[(String, Double)],
      prior: Map[String, Double], factor: Double,
      minAbs: Double, minDelta: Double = 0.0): Seq[(String, Double)] =
    current.flatMap { case (name, v) =>
      prior.get(name).collect {
        // zero prior (e.g. a query that used to shuffle 0 bytes growing a
        // real exchange) can't form a ratio — flag it with v/minAbs as the
        // reported growth instead of suppressing, so a broadcast join
        // degrading to a shuffle join still fires (ADVICE r7 #1)
        case p if p == 0.0 && v >= minAbs => name -> v / minAbs
        // ratio escape hatch on the absolute-delta guard: minDelta exists
        // to mute ±0.4 s session noise on ~1 s queries, but it must not
        // create an unbounded-ratio blind spot — a 0.2 s -> 0.9 s (4.5x)
        // real regression stays under any sane delta forever. Past 3x the
        // prior, flag regardless of delta.
        case p if math.max(p, v) >= minAbs && p > 0 && v > p * factor &&
            (v - p > minDelta || v > p * 3.0) =>
          name -> v / p
      }
    }

  /** SOFT scaling gate (the SCALING.md growth probe folded into the
    * per-round bench, so a superlinear regression surfaces in-round, not
    * at judge time): when this run is at sf0.1 and a committed sf0.01
    * artifact exists (SPARK_GRAFT_BENCH_SMALL, default BENCH_SF001.json —
    * re-record it whenever the query set changes), flag queries whose wall
    * time grew faster than dataFactor^1.3 between the SFs. Mirrors
    * tools/scaling_report.py (same family factors, same 0.5 s overhead
    * floor, same documented-quadratic exemptions — keep the two in sync).
    * Soft: stderr WARN + a "scaling_flags" JSON field, never a nonzero
    * exit — growth ratios on a shared VM are noisier than same-SF diffs.
    */
  private val EmbeddingsFamily = Seq(
    "s1", "s2", "s3", "s4", "s5_knn", "s6", "s7", "s8", "s9", "s10",
    "s11", "s12", "s13", "s14", "s15", "s16", "s17", "s18", "s19",
    "s20", "s21", "s22", "s23", "d8", "d11", "d19", "d20", "e1",
    "sm10", "ds3", "r1", "e2", "e3", "ds8", "b1", "b2", "s26")
  private[graft] def dataFactor(name: String): Double =
    if (EmbeddingsFamily.exists(p => name == p || name.startsWith(p + "_")))
      4.0 else 10.0
  private[graft] def scalingFlags(current: Seq[(String, Double)],
      small: Map[String, Double]): Seq[(String, Double)] =
    current.flatMap { case (name, t1) =>
      small.get(name).collect {
        case t0 if t1 >= 0.5 && !QuadraticBaselines(name) &&
            t1 / math.max(t0, 1e-9) > math.pow(dataFactor(name), 1.3) =>
          name -> t1 / math.max(t0, 1e-9)
      }
    }

  /** One-time JVM library init that must not land on any query: Spark 4's
    * first EXECUTED lower()/upper()/initcap() triggers ICU's case-mapping
    * table build (CollationAwareUTF8String.<clinit> via
    * CollationSupport$Lower.execBinaryICU — ~1.1 s measured, constant at
    * every SF). d2_dedup_fingerprint is the suite's first lower() executor
    * and silently absorbed it whenever a fresh JVM ran the suite; the
    * retry pass then re-measured it warm, so baselines flapped between
    * ~0.3 s and ~1.3 s depending on run context (README "d2 forensics").
    * Paying it in warmup makes per-query seconds measure dataflow, not
    * ICU. Shared with ProfileQuery so the profiler's opt-in warm excludes
    * the same constant the bench excludes. collect() the projection
    * itself — count(expr) and count() both let the optimizer prune the
    * case-mapping calls before they ever run.
    */
  private[graft] def warmCaseMappings(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions._
    spark.range(4).select(
      md5(lower(regexp_replace(concat(lit("Warm Up É "),
        col("id").cast("string")), "\\s+", " "))).as("lo"),
      upper(initcap(col("id").cast("string"))).as("up")).collect()
    ()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val sf = "sf([0-9.]+)".r.findFirstMatchIn(sfDir).map(_.group(1).toDouble)
    val spark = graft.core.Sessions.configure(
      SparkSession.builder().appName("graft-bench").master(s"local[$cpus]"),
      shufflePartitions = cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Warmup: touch every table once and exercise codegen + shuffle machinery.
    graft.core.Tables.names.foreach { t =>
      val df = if (t == "events") graft.core.Tables.events(spark, sfDir)
               else graft.core.Tables.load(spark, sfDir, t)
      df.limit(1).count()
    }
    forceFrame(SparkEntry.queries.head._2(spark, sfDir))
    // JIT-warm the native per-row kernels (md5 prefix, minhash, simhash,
    // dot product) on synthetic rows so the first dedup/ANN query measures
    // the operator, not JVM compilation of its hash loops.
    locally {
      import org.apache.spark.sql.functions._
      spark.range(2000).select(
        graft.plans.MinhashSigLong.minhashSig(
          concat_ws(" ", (0 until 12).map(i => conv(col("id") + i, 10, 16)): _*), 3),
        graft.plans.SimhashLong.simhashLong(
          concat_ws(" ", (0 until 12).map(i => conv(col("id") * i, 10, 16)): _*)),
        graft.plans.GraftFunctions.dotLong(
          transform(sequence(lit(1), lit(64)), x => x.cast("long") * col("id")),
          transform(sequence(lit(1), lit(64)), x => x.cast("long") + col("id"))))
        .count()
    }
    warmCaseMappings(spark)

    // Hardware calibration: a FIXED CPU-bound workload (8M md5+xxhash64
    // rows, shuffle-free, codegen'd) timed after warmup. Rounds run on
    // whatever VM the scheduler provides, and 2x clock/steal differences
    // between hosts are real and otherwise indistinguishable from code
    // regressions (round 6 measured the same commit at 1.4-2.7x across two
    // hosts). The time gate scales the prior round's seconds by
    // (calibration_now / calibration_prior) when the prior artifact
    // recorded one, so it compares work, not silicon. Shuffle bytes need no
    // normalization (hardware-independent) — one more reason the shuffle
    // gate is the primary cluster-cost signal.
    val calibrationSec = calibrationProbe(spark, cpus.toInt)

    // Dev-only subset filter (comma-separated names); the driver never sets it.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    val (skipped, runnable) = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .partition { case (name, _) => sf.exists(_ > 0.1) && QuadraticBaselines(name) }
    skipped.foreach { case (name, _) =>
      System.err.println(s"[bench] SKIP $name (quadratic baseline, sf > 0.1)")
    }

    val listener = new TaskBytesListener
    spark.sparkContext.addSparkListener(listener)

    val results = runnable.map { case (name, fn) =>
      // blocking sweep of ALL persisted blocks between queries: per-query
      // timing and shuffle attribution must not depend on every operator
      // self-cleaning (Storage.scala's freeAll contract names this loop)
      graft.core.Storage.freeAll(spark, blocking = true)
      listener.quiesce()
      val (shuffle0, spill0) = (listener.shuffle.get(), listener.spill.get())
      // Timing.overhead is a JVM-global single slot: this loop is the one
      // runner and queries execute strictly one at a time, which is the
      // contract that makes reset-before / read-after attribution sound.
      // A parallel runner would need a per-query token (Timing.scala doc).
      graft.core.Timing.reset()
      val gc0 = gcSeconds()
      val t0 = System.nanoTime()
      val ok =
        try { forceFrame(fn(spark, sfDir)); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] FAIL $name: ${e.getClass.getSimpleName}: ${e.getMessage}")
          false
        }
      val sec = (System.nanoTime() - t0) / 1e9
      // orchestration-only work the query body attributed (injected
      // replays / rollback re-serves of the streaming twins): the
      // regression gate below compares the OPERATOR component sec − ovh
      val ovh = graft.core.Timing.overheadSeconds
      val gcSec = gcSeconds() - gc0
      listener.quiesce()
      val shuffleMb = (listener.shuffle.get() - shuffle0) / 1e6
      val spillMb = (listener.spill.get() - spill0) / 1e6
      (name, sec, ok, shuffleMb, spillMb, ovh, gcSec)
    }
    var good = results.filter(_._3)
    val failed = results.filterNot(_._3).map(_._1)

    // Regression gates: per-query diff against the prior round. >1.5x drift
    // on a non-trivial query is REPORTED LOUDLY (stderr + a dedicated JSON
    // field) so a silent regression can't ship again — one round shipped a
    // 2.2x s2 time regression invisibly, another a storage leak whose cost
    // landed on unrelated queries. Time gate: sub-second queries exempt
    // (session noise). Shuffle gate: exchanged bytes are the cluster-cost
    // predictor local wall time hides; sub-megabyte queries exempt.
    val (priorSec, priorShuffle, priorCal, priorOvh) = priorMetrics()
    if (priorSec.isEmpty)
      System.err.println(
        "[bench] NOTICE no usable prior artifact found — time/shuffle " +
          "regression gates are INACTIVE this run")
    val hwScaleRaw = priorCal.filter(_ > 0.05).map(calibrationSec / _).getOrElse(1.0)
    val hwScale = clampHwScale(hwScaleRaw)
    if (hwScale != hwScaleRaw)
      System.err.println(
        f"[bench] calibration ratio $hwScaleRaw%.2fx exceeds the ${HwScaleCap}%.0fx trust bound — capped (probe burst or bad prior; gate stays live)")
    if (math.abs(hwScale - 1.0) > 0.1)
      System.err.println(
        f"[bench] hardware scale vs baseline host: $hwScale%.2fx (calibration $calibrationSec%.2f s vs ${priorCal.getOrElse(0.0)}%.2f s)")
    // transition notice (ADVICE r14): a prior artifact with no
    // stream_overhead_s block compares one-sided leniently against a run
    // that records one — say so instead of silently defaulting priorOvh to 0
    if (priorOvh.isEmpty && good.exists(_._6 > 0.005))
      System.err.println(
        "[bench] NOTICE prior artifact carries no stream_overhead_s — " +
          "operator-component gate is one-sided until a baseline with it is promoted")
    // the time gate compares OPERATOR components: wall minus the
    // orchestration overhead each side recorded (zero when absent — the
    // first promoted baseline after this change starts carrying it)
    val scaledPriorSec = priorSec.map { case (k, v) =>
      k -> scalePrior(math.max(0.0, v - priorOvh.getOrElse(k, 0.0)), hwScale)
    }
    def operatorSec(rs: Seq[(String, Double, Boolean, Double, Double, Double,
        Double)]): Seq[(String, Double)] =
      rs.map(r => r._1 -> math.max(0.0, r._2 - r._6))
    // Confirm-before-flag: a time overage on the first pass is re-measured
    // once and the MIN kept. CPU-steal bursts on shared VMs last minutes and
    // land on whichever queries run inside them — three back-to-back full
    // runs on one host flagged three DISJOINT "regression" sets. A burst is
    // (very likely) gone on the retry; a real code regression reproduces.
    // Shuffle bytes are deterministic, so the shuffle gate never re-runs.
    // Absolute-delta guard (time gate only): a 1.5x ratio on a ~1 s query
    // is ±0.4 s of session noise — a run-to-run spread measured on this
    // suite with NO code change (four sub-2 s queries flagged at ~1.55x on
    // one loaded-host run, none on the reruns). A real regression worth a
    // report moves absolute wall time too; shuffle bytes are deterministic
    // and keep delta 0.
    val timeMinDelta = 0.75
    val suspects = regressionsAgainst(operatorSec(good),
      scaledPriorSec, 1.5, 0.5, timeMinDelta).map(_._1).toSet
    // host-noise evidence for the retry pass: re-probe the hardware before
    // re-measuring. A steal burst that produced the flags also degrades the
    // probe; the artifact records the ratio so a flagged multiple carries
    // its own exoneration (or lack of one) instead of needing a next-round
    // forensic (the r13 ds4 lesson). The band is two-sided: the r16 close
    // shipped five unqualified flags at ratio 0.51 (START probe 2x slower
    // than the retry probe — a start-of-run burst) because the old rule
    // only looked at > 1.3.
    def probeRatio(): Double = {
      val c = calibrationProbe(spark, cpus.toInt)
      val ratio = c / math.max(calibrationSec, 1e-9)
      if (!calibrationComparable(ratio)) System.err.println(
        f"[bench] HOST NOISE at retry: calibration $calibrationSec%.2f s -> " +
          f"$c%.2f s ($ratio%.2fx, outside [1/$CalibrationBand, $CalibrationBand]) " +
          "— start-of-run probe and retry probe measured different silicon " +
          "states; surviving flags ship annotated (regressions_suspect)")
      ratio
    }
    // one suspect re-measurement pass: keep the run with the smaller
    // OPERATOR component — the gate's metric — and keep its own
    // (sec, ovh, gc) together: min-by-wall could keep the worse operator
    // measurement when a replay spike inflated the other run's overhead,
    // and a kept retry must not carry the discarded run's GC attribution.
    // A FAILED retry keeps the original tuple whole — pairing the first
    // run's wall time with a dead retry's overhead would shrink the gate's
    // operator seconds below either real measurement.
    val byName = runnable.toMap
    def retryPass(rs: Seq[(String, Double, Boolean, Double, Double, Double,
        Double)], toRetry: Set[String]) = rs.map {
      case (name, sec, ok, sh, sp, ovh, gcSec) if toRetry(name) =>
        graft.core.Storage.freeAll(spark, blocking = true)
        graft.core.Timing.reset()
        val gc0 = gcSeconds()
        val t0 = System.nanoTime()
        val retried =
          try { Some({ forceFrame(byName(name)(spark, sfDir))
            (System.nanoTime() - t0) / 1e9 }) }
          catch { case _: Throwable => None }
        val retriedOvh = graft.core.Timing.overheadSeconds
        val retriedGc = gcSeconds() - gc0
        retried match {
          case Some(r) if r - retriedOvh < sec - ovh =>
            System.err.println(
              f"[bench] RETRY $name: $sec%.2f s -> $r%.2f s (kept retry by operator component)")
            (name, r, ok, sh, sp, retriedOvh, retriedGc)
          case _ => (name, sec, ok, sh, sp, ovh, gcSec)
        }
      case r => r
    }
    var retryCalibration: Option[Double] =
      if (suspects.isEmpty) None else Some(probeRatio())
    if (suspects.nonEmpty) good = retryPass(good, suspects)
    var regressions =
      regressionsAgainst(operatorSec(good), scaledPriorSec, 1.5, 0.5,
        timeMinDelta)
    // cooldown re-probe + re-retry: flags that survived a retry measured
    // under a NON-COMPARABLE probe pair are not evidence either way — wait
    // out the burst, re-probe, re-measure once more. Only if the final
    // probe pair is ALSO non-comparable do the survivors ship as
    // regressions_suspect instead of firm regressions.
    if (regressions.nonEmpty &&
        retryCalibration.exists(r => !calibrationComparable(r))) {
      val cooldownMs =
        sys.env.getOrElse("SPARK_GRAFT_BENCH_COOLDOWN_MS", "30000").toLong
      System.err.println(
        s"[bench] non-comparable probe pair with surviving flags — " +
          s"cooling down ${cooldownMs / 1000} s, then re-probe + re-retry")
      Thread.sleep(cooldownMs)
      retryCalibration = Some(probeRatio())
      good = retryPass(good, regressions.map(_._1).toSet)
      regressions = regressionsAgainst(operatorSec(good), scaledPriorSec,
        1.5, 0.5, timeMinDelta)
    }
    // raw-ratio evidence (faster-host over-correction — see
    // splitByRawEvidence), then calibration evidence on what remains
    val rawPriorSec = priorSec.map { case (k, v) =>
      k -> math.max(0.0, v - priorOvh.getOrElse(k, 0.0))
    }
    val rawFlagged = regressionsAgainst(operatorSec(good), rawPriorSec,
      RawEvidenceFactor, 0.5, timeMinDelta).map(_._1).toSet
    val (calGated, hwscaledRegressions) =
      splitByRawEvidence(regressions, rawFlagged, hwScale)
    hwscaledRegressions.foreach { case (name, ratio) =>
      System.err.println(
        f"[bench] HWSCALED (raw ratio under gate, hw_scale $hwScale%.2f) $name: $ratio%.2fx scaled")
    }
    val (firmRegressions, suspectRegressions) =
      splitByCalibrationEvidence(calGated, retryCalibration)
    firmRegressions.foreach { case (name, ratio) =>
      System.err.println(
        f"[bench] REGRESSION $name: ${scaledPriorSec(name)}%.2f s -> ${ratio * scaledPriorSec(name)}%.2f s ($ratio%.2fx)")
    }
    suspectRegressions.foreach { case (name, ratio) =>
      System.err.println(
        f"[bench] SUSPECT (non-comparable probes) $name: ${scaledPriorSec(name)}%.2f s -> ${ratio * scaledPriorSec(name)}%.2f s ($ratio%.2fx)")
    }
    val shuffleRegressions =
      regressionsAgainst(good.map(r => r._1 -> r._4), priorShuffle, 1.5, 1.0)
    shuffleRegressions.foreach { case (name, ratio) =>
      System.err.println(
        f"[bench] SHUFFLE REGRESSION $name: ${priorShuffle(name)}%.1f MB -> ${ratio * priorShuffle(name)}%.1f MB ($ratio%.2fx)")
    }

    // Soft scaling gate: only meaningful for the sf0.01 -> sf0.1 pair the
    // committed small artifact records; silently inactive otherwise.
    val scaling: Seq[(String, Double)] =
      if (!sfDir.contains("sf0.1")) Seq.empty
      else {
        val p = Paths.get(
          sys.env.getOrElse("SPARK_GRAFT_BENCH_SMALL", "BENCH_SF001.json"))
        if (!Files.exists(p)) Seq.empty
        else {
          val text = Files.readString(p)
          if (!text.contains("sf0.01")) Seq.empty
          else scalingFlags(good.map(r => r._1 -> r._2),
            parseMetricBlock(text, "queries"))
        }
      }
    scaling.foreach { case (name, ratio) =>
      System.err.println(
        f"[bench] SCALING WARN $name: $ratio%.1fx over a ${dataFactor(name)}%.0fx " +
          "data step exceeds factor^1.3 — superlinear at scale?")
    }

    // GATED sf1 TIER (VERDICT r18 ask #8): the one-off derived-sf1 probes
    // in SCALING.md only re-ran when a verdict asked, so a superlinear
    // regression in a heavy family could land silently between asks. When
    // this run is the driver's sf0.1 pass, the ten heaviest queries re-run
    // once against a DERIVED sf1 (GenSf1, disjoint mode — the pair-family-
    // safe variant; permute-mode set-twins would false-flag d29 by
    // construction) and any wall growth past a WIDE 20x bar over the
    // same-run sf0.1 wall ships as `scaling_flags_sf1` — empty on a clean
    // round. 20x >> the 10x data step (4x embeddings), so only genuine
    // superlinearity fires; sub-2 s sf1 walls are overhead, never flagged.
    // The generated set is cached under target/sf1 keyed by (src, mode);
    // SPARK_GRAFT_SF1_GATE=0 skips the tier for quick local iterations.
    // the ten heaviest by the promoted round-19 OPTIMIZED baseline
    // (forceFrame action; e8/web_app dropped out after the r19 chrF/kernel
    // work) — refresh when the top-10 shifts at a re-baseline
    val sf1Heavies = Seq("corpus_app", "ds8_semdedup_ingest",
      "lm5_lm_count_ingest", "d29_prefix_filter_pairs",
      "d26_incremental_components", "b1_bitext_mining", "sft_app",
      "b2_bitext_refined", "lm8_kn_served", "g2_authority_refresh")
    val sf1GateEnv = sys.env.get("SPARK_GRAFT_SF1_GATE")
    val sf1GateOn = sfDir.contains("sf0.1") && !sf1GateEnv.contains("0") &&
      (only.isEmpty || sf1GateEnv.contains("1")) // =1 forces it under a subset run
    val (sf1Sec, sf1Flags): (Seq[(String, Double)], Seq[(String, Double)]) =
      if (!sf1GateOn)
        (Seq.empty, Seq.empty)
      else {
        val out = "target/sf1"
        val marker = Paths.get(out, ".graft_gen_marker")
        val want = s"src=$sfDir;mode=disjoint"
        if (!Files.exists(marker) || Files.readString(marker).trim != want) {
          System.err.println(s"[bench] sf1 gate: generating $out (disjoint) from $sfDir")
          graft.tools.GenSf1.build(spark, sfDir, out, "disjoint")
          Files.writeString(marker, want)
        }
        val baseSec = good.map(r => r._1 -> r._2).toMap
        val runs = sf1Heavies.filter(byName.contains).map { name =>
          graft.core.Storage.freeAll(spark, blocking = true)
          graft.core.Timing.reset()
          val t0 = System.nanoTime()
          val sec =
            try { forceFrame(byName(name)(spark, out)); (System.nanoTime() - t0) / 1e9 }
            catch { case e: Throwable =>
              System.err.println(s"[bench] sf1 FAIL $name: ${e.getClass.getSimpleName}")
              -1.0
            }
          name -> sec
        }.filter(_._2 >= 0)
        val flags = runs.flatMap { case (name, s1) =>
          baseSec.get(name).collect {
            case s01 if s1 >= 2.0 && s1 / math.max(s01, 1e-9) > 20.0 =>
              System.err.println(
                f"[bench] SF1 SCALING FLAG $name: $s01%.2f s -> $s1%.2f s " +
                  f"(${s1 / math.max(s01, 1e-9)}%.1fx over a 10x data step)")
              name -> s1 / math.max(s01, 1e-9)
          }
        }
        (runs, flags)
      }

    def names(xs: Seq[String]): String = xs.map("\"" + _ + "\"").mkString("[", ",", "]")
    def obj(kvs: Seq[(String, Double)]): String =
      kvs.map { case (k, v) => "\"" + k + "\":" + math.round(v * 100.0) / 100.0 }
        .mkString("{", ",", "}")
    val qs = good.map { case (k, v, _, _, _, _, _) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = good.map(_._2).sum
    val retryCalJson = retryCalibration
      .map(r => s""""retry_calibration":${math.round(r * 100.0) / 100.0},""")
      .getOrElse("")
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir",""" +
        s""""calibration_sec":$calibrationSec,"hw_scale":${math.round(hwScale * 100.0) / 100.0},""" +
        s""""shuffle_mb":${obj(good.map(r => r._1 -> r._4))},""" +
        s""""spill_mb":${obj(good.filter(_._5 > 0).map(r => r._1 -> r._5))},""" +
        s""""stream_overhead_s":${obj(good.filter(_._6 > 0.005).map(r => r._1 -> r._6))},""" +
        s""""gc_s":${obj(good.filter(_._7 >= 0.5).map(r => r._1 -> r._7))},""" +
        retryCalJson +
        s""""regressions":${obj(firmRegressions)},""" +
        s""""regressions_suspect":${obj(suspectRegressions)},""" +
        s""""regressions_hwscaled":${obj(hwscaledRegressions)},""" +
        s""""shuffle_regressions":${obj(shuffleRegressions)},""" +
        s""""scaling_flags":${obj(scaling)},""" +
        s""""sf1_sec":${obj(sf1Sec)},"scaling_flags_sf1":${obj(sf1Flags)},""" +
        s""""failed":${names(failed)},"skipped":${names(skipped.map(_._1))}}"""
    println(json)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "target/bench_last.json")
    Files.createDirectories(Paths.get(outPath).toAbsolutePath.getParent)
    Files.writeString(Paths.get(outPath), json + "\n")
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
