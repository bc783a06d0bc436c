package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Sink + catalog surface (SURVEY.md S10-S12).
  *
  * The reference appends blindly into Postgres (psycopg2 execute_values,
  * EIA930PipelineHourlyData.py:158-180) — non-idempotent on retry. The
  * engine keeps that JDBC append for parity and adds the idempotent path a
  * scheduled pipeline should use: deterministic overwrite of the run's
  * partition in a partitioned parquet table (re-runs replace, not
  * duplicate).
  */
object Sinks {

  /** S10 — JDBC append sink (parity with the reference's blind append).
    *
    * Tested against in-process Derby (zero-egress sandbox); Postgres 14 —
    * the reference's actual sink (docker-compose.yaml:33) — differs only in
    * Spark's JDBC type mapping: StringType lands as TEXT on Postgres vs
    * CLOB on Derby, DoubleType as DOUBLE PRECISION (identical semantics),
    * TimestampType as TIMESTAMP (the reference's columns are TEXT / FLOAT /
    * INT / TIMESTAMP — databaseOperations.py:133-382 — all covered by the
    * default dialect). No custom JdbcDialect needed; pass
    * `.option("createTableColumnTypes", ...)` only to pin TEXT over VARCHAR
    * when Spark creates the table itself.
    */
  def jdbcAppend(df: DataFrame, url: String, table: String,
                 props: java.util.Properties): Unit =
    df.write.mode(SaveMode.Append).jdbc(url, table, props)

  /** Idempotent sink: dynamic partition overwrite keyed by `runCol` — only
    * the partitions present in `df` are replaced, so a re-run of one
    * pipeline day is a no-op-or-replace, never a duplicate. This is the
    * 100 TB posture: append-only sinks turn retries into data bugs.
    */
  def overwriteRunPartition(df: DataFrame, path: String, runCol: String): Unit =
    // per-write option, NOT a session conf mutation — a session-wide
    // "dynamic" would silently change the semantics of every later plain
    // Overwrite of a partitioned table in the same session
    df.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(runCol).parquet(path)

  /** [[overwriteRunPartition]] for a MANAGED partitioned catalog table
    * (non-bucketed — the bucketed twin is
    * `Bucketing.overwriteBucketedPartition`; both SHARE
    * `Bucketing.dropPartitionWithSweep`, so the exactly-once paths cannot
    * diverge on sweep semantics): replace exactly the `partValue`
    * partition, leaving every other partition untouched. `df` must NOT
    * already contain `partCol`; it is stamped here so the rows land in
    * exactly the partition being replaced.
    */
  def overwriteTablePartition(df: DataFrame, table: String, partCol: String,
                              partValue: Long): Unit = {
    val spark = df.sparkSession
    Bucketing.dropPartitionWithSweep(spark, table, partCol, partValue)
    df.withColumn(partCol, org.apache.spark.sql.functions.lit(partValue))
      .write.mode(SaveMode.Append).partitionBy(partCol)
      .format("parquet").saveAsTable(table)
  }

  /** S11 — DDL from the declared sink schemas, against the session catalog. */
  def createTable(spark: SparkSession, db: String, table: String): Unit = {
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    val schema = Schemas.sinks(table)
    spark.catalog.createTable(s"$db.$table", "parquet", schema,
      Map.empty[String, String])
  }

  /** S12 — catalog utilities (databaseOperations.py:48-126). Temp views are
    * excluded — `catalog.listTables(db)` surfaces session-global temp views
    * in every database listing, but the reference enumerates physical
    * tables (pg_tables).
    */
  def listTables(spark: SparkSession, db: String): Seq[String] =
    spark.catalog.listTables(db).collect()
      .filterNot(_.isTemporary).map(_.name).toSeq.sorted

  def peek(spark: SparkSession, db: String, table: String, n: Int = 5): DataFrame =
    spark.table(s"$db.$table").limit(n)

  def truncateTable(spark: SparkSession, db: String, table: String): Unit =
    spark.sql(s"TRUNCATE TABLE $db.$table")

  /** Drop every table in `db`. The reference's interactive y/N guard
    * (databaseOperations.py:87-110, `removeAllTablesfromDatabase`) becomes a
    * type-the-name confirmation in library form: the caller must repeat the
    * database name, so a destructive sweep can never ride on a variable
    * mix-up or a default argument. Fails loud before touching the catalog.
    */
  def dropAllTables(spark: SparkSession, db: String, confirmDb: String): Unit = {
    require(confirmDb == db,
      s"dropAllTables is destructive: pass confirmDb == db to proceed " +
        s"(got db='$db', confirmDb='$confirmDb')")
    listTables(spark, db).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $db.$t"))
  }
}
