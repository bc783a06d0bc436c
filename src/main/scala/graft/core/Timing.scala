package graft.core

import java.util.concurrent.atomic.AtomicLong

/** The one place where wall time is attributed: the stage timer the apps
  * and their bench rows report through, and the orchestration-overhead
  * accumulator of the streaming twins.
  *
  * Stages: [[stage]] times one named step and hands (name, seconds) to an
  * `onStage` callback — `CorpusApp.curate` and `SftApp.curatePairs` take
  * such a callback, and the corpus_app, sft_app and web_app queries collect
  * it and print one [[stageLine]] to stderr.
  *
  * Overhead: the streaming-twin queries (the ds series, lm5, g2) run work a
  * production pipeline never pays per-batch — the INJECTED replays that
  * prove exactly-once semantics, table setup/teardown, rollback re-serves.
  * That overhead dominates the twins' run-to-run timing variance (r13's
  * only gate flag was an intermittent ds4 spike whose isolated loop is
  * flat), so the bench separates it: query bodies wrap those calls in
  * [[overhead]], Bench resets the accumulator per query and reports
  * `stream_overhead_s`, and the time-regression gate compares the OPERATOR
  * component (wall − overhead) when both sides carry the split.
  *
  * Single-JVM scope matches the Bench/Verify drivers (one query at a
  * time on the calling thread; the atomic makes concurrent spec usage
  * safe, attribution there is best-effort and unused).
  */
object Timing {
  private val overheadNanosAcc = new AtomicLong(0L)

  /** Zero the accumulator (Bench calls this before each query). */
  def reset(): Unit = overheadNanosAcc.set(0L)

  /** Seconds accumulated since the last [[reset]]. */
  def overheadSeconds: Double = overheadNanosAcc.get() / 1e9

  /** Run `f`, attributing its wall time to stream-orchestration overhead. */
  def overhead[A](f: => A): A = {
    val t0 = System.nanoTime()
    try f finally overheadNanosAcc.addAndGet(System.nanoTime() - t0)
  }

  /** Run `body` and report its wall seconds to `onStage` as stage `name`
    * once it returns (a stage that throws reports nothing).
    */
  def stage[A](onStage: (String, Double) => Unit, name: String)(body: => A): A = {
    val t0 = System.nanoTime()
    val r = body
    onStage(name, (System.nanoTime() - t0) / 1e9)
    r
  }

  /** The `[<app> stages] name=1.23s …` line, stages in reporting order. */
  def stageLine(app: String, stages: Seq[(String, Double)]): String =
    s"[$app stages] " + stages.map { case (n, sec) => f"$n=$sec%.2fs" }.mkString(" ")
}
