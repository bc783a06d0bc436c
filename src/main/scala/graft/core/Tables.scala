package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated synthetic tables (TESTDATA.md).
  *
  * All reads go through `spark.read.parquet` so Catalyst gets vectorized
  * scans, column pruning and predicate pushdown for free. At cluster scale
  * the same call reads a partitioned directory tree; nothing here assumes a
  * single file.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")

  /** `events.ts` has shipped in two physical forms across fixture
    * generations: parquet TIMESTAMP(NANOS) (which Spark's vectorized reader
    * rejects — read nanos as long via `nanosAsLong` and integer-divide to
    * microseconds; `div`, not `/`, because a double round-trip would lose
    * precision above 2^53) and plain naive timestamp[us] (which Spark 4
    * infers as TIMESTAMP_NTZ). Both are normalized here to session-TZ
    * TimestampType (session TZ is pinned UTC in Sessions.configure), so
    * every downstream operator and oracle sees one canonical type
    * regardless of which writer produced the fixture.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    // Sessions.configure sets nanosAsLong and applies NanosPredicatePushdown,
    // which pushes comparisons on the converted ts onto the raw nanos long.
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType => // TIMESTAMP(NANOS) fixture, micro-aligned
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampType => raw
      case _: TimestampNTZType => // naive micros, wall-clock == UTC
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case other => // fail fast: a blind cast would yield silent null ts
        sys.error(s"events.ts: unsupported fixture type $other " +
          "(expected nanos-as-long, timestamp, or timestamp_ntz)")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
