package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted n-gram LM COUNT index with exactly-once incremental
  * maintenance — [[TextOps.ngramLmCounts]] as a LIFECYCLE, the way
  * trillion-token count jobs actually run (Brants et al. 2007 counted in
  * incremental MapReduce passes; nobody recounts 100 TB because one crawl
  * snapshot landed).
  *
  * Why this decomposes exactly-once: the lm1 aggregate per (ord, gram) is
  * `c = Σ occurrences` (ADDITIVE across disjoint corpus slices) and
  * `ccount = |distinct prev|` (DISTINCT over their union — idempotent).
  * So the index stores the FINEST sufficient statistic, (ord, gram, prev)
  * occurrence counts per batch, in one table partitioned by `ingest_batch`
  * (a replayed batch REWRITES its own partition — the ds2/ds6 contract)
  * and BUCKETED by gram (the serve aggregate groups on (ord, gram), a
  * superset of the bucket key, so it runs exchange-free on the stored
  * layout). [[serveLmCounts]] then sums counts and distinct-counts prevs
  * across every committed partition — bit-identical to running lm1 on the
  * reassembled corpus, which is exactly what the lm5 oracle hash-checks
  * (mid-run replay included). `minCount` prunes at SERVE time, so
  * incremental ingest never loses evidence to an early threshold.
  */
object LmIndex {

  def countsTable(name: String): String = s"graft_lm_${name}_counts"

  /** Per-batch sufficient statistics: (ord, gram, prev, c) with c the
    * occurrence count of that exact (gram, prev) pairing in the batch.
    * prev is NULL for document-initial occurrences (they carry `c` but
    * never a continuation — the ngramLmCounts doc-boundary contract).
    */
  private def batchStats(df: DataFrame, textCol: String,
                         maxOrder: Int): DataFrame =
    TextOps.ngramRows(df, textCol, maxOrder)
      .groupBy(col("ord"), col("gram"), col("prev"))
      .agg(count(lit(1)).as("c"))

  /** Create the index from a seed corpus slice (batch id `seedBatch`). */
  def writeLmIndex(df: DataFrame, textCol: String,
                   maxOrder: Int, name: String, nBuckets: Int,
                   seedBatch: Long = -1L): Unit = {
    val spark = df.sparkSession
    graft.sources.Bucketing.ensureCleanTable(spark, countsTable(name))
    graft.sources.Bucketing.writeBucketedPartitionedBy(
      batchStats(df, textCol, maxOrder)
        .withColumn("ingest_batch", lit(seedBatch)),
      countsTable(name), "ingest_batch", Seq("gram"), nBuckets)
  }

  /** Ingest one micro-batch exactly-once: the batch's (ord, gram, prev)
    * counts land by partition replace on `batchId` with the live bucket
    * spec — a replayed batch rewrites identical rows, and a half-written
    * batch is invisible to [[serveLmCounts]] until its partition commits.
    */
  def ingestLmBatch(batch: DataFrame, batchId: Long,
                    textCol: String, maxOrder: Int, name: String,
                    nBuckets: Int): Unit = {
    graft.sources.Bucketing.requireBucketCount(
      batch.sparkSession, countsTable(name), nBuckets)
    graft.sources.Bucketing.overwriteBucketedPartition(
      batchStats(batch, textCol, maxOrder),
      countsTable(name), "ingest_batch", batchId, Seq("gram"), nBuckets)
  }

  /** TAKEDOWN contract: the sufficient statistics carry no document ids BY
    * DESIGN (corpus-global counts; per-doc rows would multiply storage by
    * average document length). Removing a document therefore means
    * re-ingesting its batch WITHOUT it — exact by the partition-replace
    * discipline ([[ingestLmBatch]] with the filtered batch rewrites the
    * partition, and the served table equals a from-scratch count of the
    * corpus minus the doc; spec-proven). This requires batch provenance
    * (which batch carried the doc) — the same requirement every
    * exactly-once layout in this repo already satisfies, since batches ARE
    * the replay unit.
    */

  /** The lm1 count table over every committed batch: c sums the additive
    * per-batch counts, ccount distinct-counts prev over their union, and
    * `minCount` prunes last — the (ord, gram) aggregate runs WITHOUT an
    * exchange because the stored layout is bucketed on gram (grouping keys
    * are a superset of the bucket key; plan-asserted in `LmIndexSpec`).
    */
  def serveLmCounts(spark: SparkSession, name: String,
                    minCount: Long): DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    spark.table(countsTable(name))
      .groupBy(col("ord"), col("gram"))
      .agg(sum(col("c")).as("c"),
        countDistinct(col("prev")).as("ccount"))
      .filter(col("c") >= minCount)
  }
}
