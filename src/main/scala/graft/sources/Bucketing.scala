package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Bucketed-table helpers: pre-shuffle a fact table ONCE at write time so
  * every later equi-join/aggregation on the bucket key runs exchange-free.
  *
  * This is the 100 TB lever for repeated joins: a nightly-bucketed lineitem
  * joined to bucketed orders needs zero shuffle at read time — Spark aligns
  * bucket files 1:1. The cost moves to the single bucketed write, amortized
  * over every downstream query. (At cluster scale, choose bucket counts as
  * a multiple of executor cores and of each other.)
  */
object Bucketing {

  /** Cluster writer input to the table's bucket layout BEFORE the bucketed
    * write: `repartition(nBuckets, bucketCols)` uses the SAME Murmur3-pmod
    * hash partitioning the bucket id does, so each write task holds exactly
    * one bucket's rows and emits ONE file. Without it, every upstream task
    * opens a file per bucket it touches — tasks x buckets small files per
    * write (measured: the lm/fts/novelty serve paths were mmap/open-bound
    * on re-reads, round 19). One extra exchange of the (already reduced)
    * index rows buys the §6 file-size posture on every later read.
    */
  private def clusterToBuckets(df: DataFrame, bucketCols: Seq[String],
                               nBuckets: Int): DataFrame =
    df.repartition(nBuckets, bucketCols.map(org.apache.spark.sql.functions.col): _*)

  /** Write `df` as a bucketed, sorted managed table (bucketing requires the
    * catalog — plain parquet paths can't carry bucket metadata).
    */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
                    nBuckets: Int): Unit =
    writeBucketedBy(df, table, Seq(bucketCol), nBuckets)

  /** Multi-column bucketing: the bucket columns must be EXACTLY a join's
    * equi-keys for the scan's HashPartitioning to satisfy the join's
    * clustering requirement (Spark requires all cluster keys as partition
    * keys for co-partition by default) — a subset match re-shuffles both
    * sides.
    */
  def writeBucketedBy(df: DataFrame, table: String, bucketCols: Seq[String],
                      nBuckets: Int): Unit =
    clusterToBuckets(df, bucketCols, nBuckets).write
      .mode(SaveMode.Overwrite)
      .bucketBy(nBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet")
      .saveAsTable(table)

  /** APPEND to an existing bucketed table — the incremental-growth path
    * (e.g. a streaming ingest appending each batch's band-index rows).
    * The bucket spec must match the table's; Spark validates and refuses a
    * mismatched append, so the table never silently loses its exchange-free
    * join property.
    */
  def appendBucketedBy(df: DataFrame, table: String, bucketCols: Seq[String],
                       nBuckets: Int): Unit =
    // NOT clusterToBuckets: appends are latency-sensitive micro-batches
    // (the ds2 ingest measured +25% wall with a per-batch exchange) — the
    // clustering pays off on the one-shot writes, not here
    df.write
      .mode(SaveMode.Append)
      .bucketBy(nBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet")
      .saveAsTable(table)

  /** Write `df` as a table that is BOTH partitioned by `partCol` AND
    * bucketed by `bucketCols` — each partition directory holds a full set of
    * bucket files, and the scan reports the table-level bucket spec
    * regardless of partition pruning. This is the layout that reconciles
    * exactly-once ingestion with exchange-free joins: batches live in their
    * own partitions (replaceable via [[overwriteBucketedPartition]]) while
    * every partition-filtered read still satisfies the join's
    * HashPartitioning requirement with no Exchange.
    */
  def writeBucketedPartitionedBy(df: DataFrame, table: String, partCol: String,
                                 bucketCols: Seq[String], nBuckets: Int): Unit =
    clusterToBuckets(df, bucketCols, nBuckets).write
      .mode(SaveMode.Overwrite)
      .partitionBy(partCol)
      .bucketBy(nBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet")
      .saveAsTable(table)

  /** DROP PARTITION plus the belt-and-braces file sweep (a crashed writer
    * can leave committed files with no catalog entry) — the shared first
    * half of [[overwriteBucketedPartition]] and
    * `Sinks.overwriteTablePartition`: one implementation, so the two
    * exactly-once paths can never diverge on sweep semantics.
    */
  private[sources] def dropPartitionWithSweep(spark: SparkSession,
                                              table: String, partCol: String,
                                              partValue: Long): Unit = {
    spark.sql(s"ALTER TABLE $table DROP IF EXISTS PARTITION ($partCol=$partValue)")
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
    val meta = spark.sessionState.catalog.getTableMetadata(ident)
    if (meta.tableType ==
        org.apache.spark.sql.catalyst.catalog.CatalogTableType.MANAGED) {
      val loc = meta.location
      if (loc.getScheme == null || loc.getScheme == "file") {
        val p = java.nio.file.Paths.get(loc.getPath, s"$partCol=$partValue")
        if (java.nio.file.Files.exists(p)) {
          val walk = java.nio.file.Files.walk(p)
          try {
            import scala.jdk.CollectionConverters._
            walk.iterator().asScala.toSeq.reverse
              .foreach(java.nio.file.Files.delete)
          } finally walk.close()
        }
      }
    }
  }

  /** Idempotently (re)write ONE partition of a [[writeBucketedPartitionedBy]]
    * table: DROP PARTITION (which deletes a managed table's partition files)
    * plus a belt-and-braces sweep of the partition directory (a crashed
    * writer can leave committed files with no catalog entry), then append
    * `df` with the full partition+bucket spec. A retry of the same
    * `partValue` REPLACES its own partition — never duplicates — while
    * every other partition, and the table's bucket property, is untouched.
    * Spark's dynamic partitionOverwriteMode refuses bucketed tables, so this
    * drop-then-append sequence IS the partition-overwrite for them; the
    * non-atomic window (partition absent between drop and append) is
    * acceptable because callers read behind a committed-prefix filter that
    * excludes the in-flight partition anyway.
    *
    * `df` must NOT already contain `partCol`; it is stamped here so the rows
    * land in exactly the partition being replaced.
    */
  def overwriteBucketedPartition(df: DataFrame, table: String, partCol: String,
                                 partValue: Long, bucketCols: Seq[String],
                                 nBuckets: Int): Unit = {
    val spark = df.sparkSession
    dropPartitionWithSweep(spark, table, partCol, partValue)
    df.withColumn(partCol, org.apache.spark.sql.functions.lit(partValue))
      .write
      .mode(SaveMode.Append)
      .partitionBy(partCol)
      .bucketBy(nBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet")
      .saveAsTable(table)
  }

  /** Drop `table` and any orphaned warehouse directory left by a session
    * whose metastore is gone (fresh derby metastore + persistent
    * spark-warehouse dir = CREATE TABLE refusing to reuse the location).
    * Call before re-creating a managed table in a new session.
    */
  def ensureCleanTable(spark: SparkSession, table: String): Unit = {
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
    // resolve the true location from the catalog while the table still
    // exists — the default-layout guess below is wrong for tables created
    // with an explicit LOCATION
    // EXTERNAL tables (or explicit-LOCATION tables pointing at shared data)
    // deliberately keep their files on DROP — sweeping them here would
    // destroy data outside the managed warehouse, so only MANAGED locations
    // qualify for the post-drop sweep
    val resolved: Option[java.net.URI] =
      if (spark.catalog.tableExists(table))
        scala.util.Try(spark.sessionState.catalog.getTableMetadata(ident))
          .toOption
          .filter(_.tableType ==
            org.apache.spark.sql.catalyst.catalog.CatalogTableType.MANAGED)
          .map(_.location)
      else None
    spark.sql(s"DROP TABLE IF EXISTS $table")
    // orphan sweep: reproduce the catalog's default managed layout —
    // <warehouse>/<db>.db/<tbl> for qualified names, <warehouse>/<tbl> for
    // the default db, names lowercased on disk
    val default: java.net.URI = {
      val wh = spark.conf.get("spark.sql.warehouse.dir").stripSuffix("/")
      val dbPart = ident.database.filter(_ != "default")
        .map(d => s"/${d.toLowerCase}.db").getOrElse("")
      java.net.URI.create(
        s"$wh$dbPart/${ident.table.toLowerCase}".replace(" ", "%20"))
    }
    (resolved.toSeq :+ default).distinct.foreach { uri =>
      // only file-scheme (or scheme-less local) locations can be swept here;
      // remote warehouses are out of local reach and DROP TABLE handled them
      if (uri.getScheme == null || uri.getScheme == "file") {
        val p = java.nio.file.Paths.get(
          Option(uri.getPath).filter(_.nonEmpty).getOrElse(uri.toString))
        if (java.nio.file.Files.exists(p)) {
          val walk = java.nio.file.Files.walk(p)
          try {
            import scala.jdk.CollectionConverters._
            walk.iterator().asScala.toSeq.reverse
              .foreach(java.nio.file.Files.delete)
          } finally walk.close()
        }
      }
    }
  }

  /** The live table's bucket count from the catalog, or None for an
    * unbucketed table. Maintenance rewrites (tombstone compaction) MUST
    * preserve the bucket spec or every downstream exchange-free join plan
    * silently re-shuffles — read the truth from here instead of trusting a
    * caller-supplied count.
    */
  def liveBucketCount(spark: SparkSession, table: String): Option[Int] = {
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
    spark.sessionState.catalog.getTableMetadata(ident)
      .bucketSpec.map(_.numBuckets)
  }

  /** Fail loudly when a caller-supplied bucket count disagrees with the
    * catalog — a mismatched maintenance rewrite would otherwise republish
    * the table under a DIFFERENT bucket spec and break the exchange-free
    * serve plans the rewrite exists to preserve.
    */
  def requireBucketCount(spark: SparkSession, table: String,
                         nBuckets: Int): Unit = {
    val live = liveBucketCount(spark, table)
    require(live.contains(nBuckets),
      s"bucket-count mismatch on $table: caller passed $nBuckets but the " +
        s"catalog says ${live.map(_.toString).getOrElse("unbucketed")} — " +
        "a rewrite with the wrong count breaks exchange-free serve joins")
  }
}
