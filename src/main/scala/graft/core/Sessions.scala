package graft.core

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * Defaults chosen for the driver harness (local[32], 128 GiB) but stated as
  * cluster-ready knobs: AQE on (runtime coalescing + skew-join splitting),
  * shuffle partitions sized to the local core count (on a real cluster this
  * is overridden to ~2-3x total cores), UTC session timezone (the reference
  * pins UTC for weather and is otherwise TZ-naive;
  * OpenMeteoWeatherPipelineHourlyData.py:67-68).
  *
  * [[configure]] also applies [[graft.GraftExtensions]], the one route of
  * the `graft_*` functions and the nanos rule into a session, so every
  * session it builds (and each `newSession()` of one) has them on any thread.
  */
object Sessions {
  def local(appName: String = "graft"): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    configure(
      SparkSession.builder().appName(appName).master(s"local[$cpus]"),
      shufflePartitions = cpus.toInt
    ).getOrCreate()
  }

  /** Apply graft's configuration and extensions to any builder (cluster or local). */
  def configure(
      b: SparkSession.Builder,
      shufflePartitions: Int = 32
  ): SparkSession.Builder =
    b.config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64 * 1024 * 1024).toString)
      // the events fixture ships TIMESTAMP(NANOS); see Tables.events
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // the composed/streaming protocol queries generate 190-300 codegen
      // units per RUN — over the default 100-entry compiled-class cache,
      // so a single run evicts and recompiles its own repeated subtrees
      // (measured: sft_app warm 15.0 -> 4.5 s, 188 -> 2 units at 2000).
      // Host-independent driver constant (a streaming driver re-plans
      // every micro-batch; class reuse cuts that CPU identically on a
      // cluster); ~tens of MB of driver class metadata at 2000. Static
      // conf — must be set before the session exists; env-overridable.
      .config("spark.sql.codegen.cache.maxEntries",
        sys.env.getOrElse("SPARK_GRAFT_CODEGEN_CACHE", "2000"))
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.GraftExtensions)
}
