package graft.apps

import graft.core.Sessions
import graft.operators.{EventOps, Funnel, Quality, Salting}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end EVENT-ANALYTICS run — the events-domain sibling of
  * [[CorpusApp]]: the report a product/ops team reads over an event log,
  * composed entirely from the library's oracle-checked operators
  * (every section's expression tree is SHARED with its hash-checked
  * query — the bm25ScoreFrames discipline):
  *
  *   expectations gate (dq1) -> gap sessionization (w4)
  *     -> conversion funnel (w11) -> longest activity streaks (w12)
  *     -> hourly OHLC bars (ts3) -> key-skew diagnosis (sk3)
  *
  * Returns one frame per section plus a one-row [[EventsApp.Stats]].
  * Scale shape: every section is one hash partitioning on its key
  * (user/event_type); the stats row costs one extra action per section —
  * at 100 TB run `analyze` once and persist the frames, the sections
  * share nothing but the scan.
  */
object EventsApp {

  case class Stats(input: Long, badRows: Long, users: Long, sessions: Long,
                   viewers: Long, purchasers: Long, maxStreakDays: Long,
                   saltFactor: Long)

  def analyze(spark: SparkSession, events: DataFrame,
              steps: Seq[String] = Seq("view", "click", "purchase"),
              gapMinutes: Int = 30): (Map[String, DataFrame], Stats) = {
    val expectations = Quality.expect(events, Seq(
      "ts_present" -> col("ts").isNotNull,
      "user_present" -> col("user_id").isNotNull))
    val sessions = EventOps.sessionize(events, "user_id", "ts", "event_id",
      gapMinutes)
    val funnel = Funnel.steps(events, "user_id", "ts", "event_type", steps)
    val streaks = EventOps.bestStreaks(events, "user_id", "ts")
    val bars = EventOps.ohlcBars(events, "event_type", "ts", "event_id",
      "value")
    val skew = Salting.skewReport(events, "user_id")

    val badRows = expectations.agg(sum(col("n_violations"))).head().getLong(0)
    val funnelCounts = funnel.collect()
      .map(r => r.getAs[Long]("step") -> r.getAs[Long]("n_users")).toMap
    val streakMax = streaks.agg(max(col("streak_days"))).head()
    // skewReport's quantile sections yield NO row on an empty log (there
    // is no median of zero keys) — an empty partition must produce an
    // all-zero report, not a head() crash
    val skewRow = skew.collect().headOption
    val stats = Stats(
      input = events.count(),
      badRows = badRows,
      users = skewRow.map(_.getAs[Long]("n_keys")).getOrElse(0L),
      sessions = sessions.count(),
      viewers = funnelCounts.getOrElse(1L, 0L),
      purchasers = funnelCounts.getOrElse(steps.length.toLong, 0L),
      maxStreakDays = if (streakMax.isNullAt(0)) 0L else streakMax.getLong(0),
      saltFactor = skewRow.map(_.getAs[Long]("salt_factor")).getOrElse(1L))
    (Map("expectations" -> expectations, "sessions" -> sessions,
      "funnel" -> funnel, "streaks" -> streaks, "ohlc_bars" -> bars,
      "skew" -> skew), stats)
  }

  /** `--events <parquet dir> --out <dir> [--run-date yyyy-mm-dd]`: run the
    * report and land each section as a run-date-partitioned parquet table
    * (idempotent re-runs, the PipelineApps load discipline).
    */
  def main(argv: Array[String]): Unit = {
    val m = PipelineApps.parseFlags(argv, "--events", "--out", "--run-date")
    val eventsDir = m.getOrElse("--events", "/root/testdata/sf0.001")
    val out = m.getOrElse("--out", "/tmp/graft_events_out")
    val runDate = PipelineApps.parsed(m, "--run-date", java.time.LocalDate.parse)
      .getOrElse(java.time.LocalDate.parse("2024-01-01"))
    val spark = Sessions.local("graft-events")
    try {
      val (frames, stats) =
        analyze(spark, graft.core.Tables.events(spark, eventsDir))
      PipelineApps.load(frames, out, runDate)
      println(stats)
    } finally spark.stop()
  }
}
