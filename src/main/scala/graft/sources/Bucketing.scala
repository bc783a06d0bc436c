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
    // (the ds2 ingest measured +25% wall with a per-batch exchange), and
    // append churn is what the compaction path exists to absorb — the
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

  /** One task per bucket: partition by the bucket id (pmod of murmur3 over
    * the bucket columns — `hash` IS Murmur3 with the writer's seed), so the
    * bucketed writer's per-(task, bucket) file split emits one file per
    * non-empty bucket.
    */
  private def bucketAligned(df: DataFrame, bucketCols: Seq[String],
                            nBuckets: Int): DataFrame = {
    import org.apache.spark.sql.functions.{col, hash, lit, pmod}
    df.repartition(nBuckets,
      pmod(hash(bucketCols.map(col): _*), lit(nBuckets)))
  }

  /** Run `body` with bucketed READS disabled: a compaction's input files
    * are bucket-pure since writes cluster to the bucket layout
    * (clusterToBuckets), so a bucket-aware scan reports the very
    * HashPartitioning the re-cluster repartition requires — the optimizer
    * then elides the exchange and the writer faithfully reproduces the
    * small-file split it was meant to merge (measured: 8 -> 8 files).
    * With bucketed reads off, the scan packs files into ordinary splits
    * and the re-cluster exchange actually runs, landing one file per
    * non-empty bucket.
    */
  private def withBucketReadsDisabled[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.sources.bucketing.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try body finally spark.conf.set(key, prev)
  }

  /** Compact a bucketed managed table IN PLACE to one file per non-empty
    * bucket (VERDICT r8 ask #5 — index maintenance under append churn).
    *
    * Why file COUNT is the target: every [[appendBucketedBy]] lands up to
    * (writer partitions x nBuckets) more files; the bucketed reader must
    * open every file of a bucket, so after B appended batches the
    * "exchange-free" aligned scan opens O(B) files per bucket — at 100 TB
    * the open/seek count, not the bytes, kills the candidate join.
    * Rewriting the table repartitioned BY THE BUCKET ID VALUE (pmod of the
    * murmur3 hash — the same mapping the bucketed writer applies) puts
    * every bucket's rows in exactly one write task, and the writer splits
    * files per (task, bucket), so the rewrite emits exactly one file per
    * non-empty bucket. (Repartitioning by the raw bucket COLUMNS is not
    * enough — the write task a row lands in and the bucket file it is
    * routed to come from different pmod chains, so tasks straddle buckets
    * and each straddle costs a file.) Rows only move between files of the
    * SAME bucket — downstream join plans, their Exchange counts, and their
    * results are unchanged (DedupSpec proves candidate pairs identical).
    *
    * Publication is a staging-table swap (the Sinks.compact contract
    * in catalog form): write `<table>__compacting`, then drop + rename.
    * The swap window is metadata-only; a crash between drop and rename
    * leaves the staging table intact for manual recovery.
    *
    * Returns (files_before, files_after).
    */
  def compactBucketedTable(spark: SparkSession, table: String,
                           bucketCols: Seq[String], nBuckets: Int): (Int, Int) = {
    val before = spark.table(table).inputFiles.length
    val staging = table + "__compacting"
    val retired = table + "__old"
    ensureCleanTable(spark, staging)
    ensureCleanTable(spark, retired)
    withBucketReadsDisabled(spark) {
      writeBucketedBy(
        bucketAligned(spark.table(table), bucketCols, nBuckets),
        staging, bucketCols, nBuckets)
    }
    // rename-aside publish: the live name is re-pointed in two renames
    // rather than DROP + RENAME, so EVERY crash window leaves a queryable
    // table under some name (live, or staging + __old) and recovery is a
    // single rename — a drop-first swap had a window where the name bound
    // to nothing and the old data was already gone
    spark.sql(s"ALTER TABLE $table RENAME TO $retired")
    spark.sql(s"ALTER TABLE $staging RENAME TO $table")
    spark.sql(s"DROP TABLE $retired")
    (before, spark.table(table).inputFiles.length)
  }

  /** [[compactBucketedTable]] for ONE partition of a
    * [[writeBucketedPartitionedBy]] table — the ds2 layout's maintenance
    * step: each ingestion batch's partition accretes (writer partitions x
    * nBuckets) files at append time; compacting rewrites that partition to
    * one file per non-empty bucket.
    *
    * Crash safety: the compacted rows are staged DURABLY (a bucketed
    * staging table on disk) BEFORE the live partition's files are dropped —
    * an executor-memory pin (localCheckpoint) here was a data-loss window:
    * crash or executor loss between drop and append lost the partition, and
    * a re-run read the now-empty partition and silently converged to empty.
    * Recovery rule on re-run: a staging table left by a crash is REUSED iff
    * the live partition is empty (the crash was between drop and append);
    * a non-empty live partition always rebuilds staging from the live rows,
    * so a stale staging can never shadow later appends. Staging is dropped
    * on success, so its existence implies a crashed compaction.
    * DedupSpec drives the drop-then-crash path.
    *
    * Returns (files_before, files_after) for the WHOLE table; other
    * partitions' files are untouched.
    */
  def compactBucketedPartition(spark: SparkSession, table: String,
                               partCol: String, partValue: Long,
                               bucketCols: Seq[String],
                               nBuckets: Int): (Int, Int) = {
    import org.apache.spark.sql.functions.col
    val before = spark.table(table).inputFiles.length
    val staging = s"${table}__compact_p$partValue"
    val live = spark.table(table).filter(col(partCol) === partValue).drop(partCol)
    if (!(spark.catalog.tableExists(staging) && live.isEmpty)) {
      ensureCleanTable(spark, staging)
      withBucketReadsDisabled(spark) {
        writeBucketedBy(bucketAligned(live, bucketCols, nBuckets),
          staging, bucketCols, nBuckets)
      }
    }
    // re-align on read-back so the one-file-per-bucket contract survives
    // the staging round-trip regardless of how the staging scan splits
    withBucketReadsDisabled(spark) {
      overwriteBucketedPartition(
        bucketAligned(spark.table(staging), bucketCols, nBuckets),
        table, partCol, partValue, bucketCols, nBuckets)
    }
    spark.sql(s"DROP TABLE $staging")
    (before, spark.table(table).inputFiles.length)
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
    * unbucketed table. Maintenance rewrites (compaction, takedown) MUST
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

  /** Join two tables bucketed on their join keys — planned with NO Exchange
    * on either side when bucket counts match.
    */
  def bucketedJoin(spark: SparkSession, leftTable: String, rightTable: String,
                   leftKey: String, rightKey: String): DataFrame =
    spark.table(leftTable).join(spark.table(rightTable),
      org.apache.spark.sql.functions.col(leftKey) ===
        org.apache.spark.sql.functions.col(rightKey))
}
