package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted BM25 full-text index: index once, serve many keyword queries —
  * the FTS dual of [[AnnIndex]]'s train-once/serve-many lifecycle. At
  * 100 TB nobody re-tokenizes the corpus per query; retrieval reads a
  * prebuilt postings layout and only the queried terms' rows.
  *
  * Catalog tables per index `name`:
  *  - postings (tok, did, tf), BUCKETED by tok: a term-filtered serve scan
  *    prunes buckets (Spark bucket pruning on equality/IN over the bucket
  *    column — plan-asserted in `FtsIndexSpec`), so query cost follows the
  *    queried terms' posting lists, not the corpus;
  *  - doclens (did, dl): BM25's length normalization;
  *  - meta (n_docs, sum_dl): one row PER INGEST, append-only — serve SUMs
  *    the rows (additive IVM, the a11 discipline), so incremental appends
  *    never rewrite global stats.
  *
  * [[searchBm25]] feeds the SAME scoring tail as the in-memory
  * [[TextOps.bm25Rank]] (`TextOps.bm25ScoreFrames` — shared code, not
  * similar code), so a served ranking is bit-identical to scoring the
  * reassembled corpus from scratch; the fts5 oracle hash-checks the whole
  * write → append → search storage round-trip against exactly that.
  *
  * Like the ANN index, document FREQUENCY statistics are FROZEN per row at
  * nothing — dfreq is computed at serve time from the queried terms'
  * postings (a |terms|-row aggregate), so appends keep ranking exact with
  * no stats staleness window.
  */
object FtsIndex {

  def postingsTable(name: String): String = s"graft_fts_${name}_postings"
  def doclensTable(name: String): String = s"graft_fts_${name}_doclens"
  def metaTable(name: String): String = s"graft_fts_${name}_meta"

  /** (did, tok, tf) term frequencies — the postings rows for one corpus
    * slice. The tokenizer is [[TextOps.words]], matching bm25Rank.
    */
  private def postings(df: DataFrame, idCol: String,
                       textCol: String): DataFrame =
    df.select(col(idCol).as("did"),
        explode(TextOps.words(col(textCol))).as("tok"))
      .groupBy(col("did"), col("tok")).agg(count(lit(1)).as("tf"))

  /** Doclens + meta writes shared by every layout: flat (no stamp) or
    * ingest_batch-partitioned (`stamp` set) — one implementation, so the
    * served schemas cannot diverge between the append and exactly-once
    * paths.
    */
  private def writeAux(p: DataFrame, name: String, mode: SaveMode,
                       stamp: Option[Long] = None): Unit = {
    val dl = p.groupBy(col("did")).agg(sum(col("tf")).as("dl"))
      .localCheckpoint(false) // dl feeds both tables; tokenize once
    val meta = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    stamp match {
      case None =>
        dl.write.mode(mode).format("parquet").saveAsTable(doclensTable(name))
        meta.write.mode(mode).format("parquet").saveAsTable(metaTable(name))
      case Some(b) =>
        dl.withColumn("ingest_batch", lit(b))
          .write.mode(mode).partitionBy("ingest_batch")
          .format("parquet").saveAsTable(doclensTable(name))
        meta.withColumn("ingest_batch", lit(b))
          .write.mode(mode).partitionBy("ingest_batch")
          .format("parquet").saveAsTable(metaTable(name))
    }
  }

  /** Build the index from scratch: postings bucketed by term, doclens,
    * and the first meta row.
    */
  def writeBm25(df: DataFrame, idCol: String, textCol: String, name: String,
                nBuckets: Int): Unit = {
    val spark = df.sparkSession
    Seq(postingsTable(name), doclensTable(name), metaTable(name))
      .foreach(graft.sources.Bucketing.ensureCleanTable(spark, _))
    val p = postings(df, idCol, textCol).localCheckpoint(false)
    graft.sources.Bucketing.writeBucketed(
      p.select(col("tok"), col("did"), col("tf")),
      postingsTable(name), "tok", nBuckets)
    writeAux(p, name, SaveMode.Overwrite)
  }

  /** Ingest a batch of new documents: postings append with the live bucket
    * spec (validated against the catalog — the d18/s19 guard), doclens
    * append, one new meta row. Serving after an append is exact — dfreq
    * and the summed meta stats see the new documents immediately.
    */
  def appendBm25(batch: DataFrame, idCol: String, textCol: String,
                 name: String, nBuckets: Int): Unit = {
    val spark = batch.sparkSession
    graft.sources.Bucketing.requireBucketCount(
      spark, postingsTable(name), nBuckets)
    val p = postings(batch, idCol, textCol).localCheckpoint(false)
    graft.sources.Bucketing.appendBucketedBy(
      p.select(col("tok"), col("did"), col("tf")),
      postingsTable(name), Seq("tok"), nBuckets)
    writeAux(p, name, SaveMode.Append)
  }

  /** Partitioned layout for EXACTLY-ONCE streaming ingest: postings both
    * partitioned by `ingest_batch` AND bucketed by tok (the ds2/ds3
    * layout), doclens and meta partitioned by `ingest_batch` — every
    * batch's rows live in replaceable partitions, so a retried batch
    * REWRITES its own slice instead of double-appending (the failure mode
    * [[appendBm25]] has by design: that path is for trusted one-shot
    * backfills). Serve reads all partitions; scores are exact at every
    * committed point because dfreq and the summed meta stats see exactly
    * the landed documents.
    */
  def writeBm25Partitioned(df: DataFrame, idCol: String, textCol: String,
                           name: String, nBuckets: Int,
                           seedBatch: Long = -1L): Unit = {
    val spark = df.sparkSession
    Seq(postingsTable(name), doclensTable(name), metaTable(name))
      .foreach(graft.sources.Bucketing.ensureCleanTable(spark, _))
    val p = postings(df, idCol, textCol).localCheckpoint(false)
    graft.sources.Bucketing.writeBucketedPartitionedBy(
      p.select(col("tok"), col("did"), col("tf"))
        .withColumn("ingest_batch", lit(seedBatch)),
      postingsTable(name), "ingest_batch", Seq("tok"), nBuckets)
    writeAux(p, name, SaveMode.Overwrite, stamp = Some(seedBatch))
  }

  /** Ingest one micro-batch exactly-once: postings, doclens and meta rows
    * all land via partition replace on `batchId` — replaying a batch
    * rewrites identical content (the ds2/ds3 injected-retry contract).
    */
  def ingestBm25Batch(batch: DataFrame, batchId: Long, idCol: String,
                      textCol: String, name: String, nBuckets: Int): Unit = {
    val spark = batch.sparkSession
    graft.sources.Bucketing.requireBucketCount(
      spark, postingsTable(name), nBuckets)
    val p = postings(batch, idCol, textCol).localCheckpoint(false)
    graft.sources.Bucketing.overwriteBucketedPartition(
      p.select(col("tok"), col("did"), col("tf")),
      postingsTable(name), "ingest_batch", batchId, Seq("tok"), nBuckets)
    val dl = p.groupBy(col("did")).agg(sum(col("tf")).as("dl"))
      .localCheckpoint(false)
    graft.sources.Sinks.overwriteTablePartition(
      dl, doclensTable(name), "ingest_batch", batchId)
    graft.sources.Sinks.overwriteTablePartition(
      dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl")),
      metaTable(name), "ingest_batch", batchId)
  }

  /** Serve a BM25 query from the persisted index: the postings scan is
    * filtered to `terms` (bucket-pruned), global stats come from the
    * summed meta rows, and the scoring tail is the shared
    * [[TextOps.bm25ScoreFrames]]. Returns (did, score) top-k.
    */
  def searchBm25(spark: SparkSession, name: String, terms: Seq[String],
                 k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty && terms.size <= 16, "1..16 query terms")
    // explicit projections: the partitioned layout carries ingest_batch
    val tf = spark.table(postingsTable(name))
      .filter(col("tok").isin(terms: _*))
      .select(col("tok"), col("did"), col("tf"))
    val dl = spark.table(doclensTable(name)).select(col("did"), col("dl"))
    // nullif: an EMPTY index (zero docs) must serve zero rows, not abort
    // on ANSI division by zero while computing avgdl nobody will read
    val stats = spark.table(metaTable(name))
      .agg(sum(col("n_docs")).as("nd"), sum(col("sum_dl")).as("sd"))
      .select(col("nd").cast("double").as("n_docs"),
        (col("sd").cast("double") / nullif(col("nd"), lit(0L))).as("avgdl"))
    TextOps.bm25ScoreFrames(tf, dl, stats, terms, k, k1, b)
  }
}
