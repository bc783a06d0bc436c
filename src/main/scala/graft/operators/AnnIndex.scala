package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** PERSISTED IVF-PQ index: the ANN counterpart of the dedup band index
  * (Dedup.writeBandIndex) — build the index ONCE, persist it as catalog
  * tables, then serve many query batches and ingest new vectors without
  * ever re-reading the corpus' full vectors.
  *
  * Three tables per index `name`:
  *   - `<name>_members`  (cid, nid, codes): one m-byte-code row per indexed
  *     vector, BUCKETED on `cid` — the probe join's equi-key — so serve-time
  *     candidate joins read the index exchange-free (the scan itself
  *     satisfies the join's HashPartitioning; only the query-batch side
  *     shuffles, and a small batch broadcasts instead). At 100 TB this is
  *     the table that holds the corpus: m bytes + a cell id per vector,
  *     32x+ smaller than the float vectors it replaces.
  *   - `<name>_centroids` (cid, cv, cnrm): the coarse quantizer — nCells
  *     rows, KBs; read back and re-packed into the one-row broadcast form
  *     every search uses for shuffle-free cell ranking.
  *   - `<name>_codebook` (cb): the one-row PQ codebook (m x k subvectors).
  *
  * FROZEN-index semantics: [[appendIvfPq]] encodes new vectors against the
  * PERSISTED centroids and codebook — never retrains — so appended rows are
  * comparable to existing codes and a query's answer is exactly what a
  * from-scratch index over (base + appended) with the BASE's training state
  * would produce. This is the production ingest contract (FAISS `add` after
  * `train`): retraining is an explicit, separate rebuild
  * ([[writeIvfPq]] again), not a side effect of ingestion. Re-training on
  * append would silently re-key every existing member's codes.
  *
  * All arithmetic inherits Similarity's exact-integer discipline (quantized
  * longs end-to-end), so a SQL oracle reproduces every persisted code and
  * search ranking bit-for-bit — the s19 query hash-checks the whole
  * write -> catalog -> append -> search path against DuckDB.
  */
object AnnIndex {

  def membersTable(name: String): String = name + "_members"
  def centroidsTable(name: String): String = name + "_centroids"
  def codebookTable(name: String): String = name + "_codebook"
  def deletesTable(name: String): String = name + "_deletes"

  /** Build and persist the index from `df`: seeded coarse cells (the
    * reproducible training-free posture of Similarity.ivfTopK — Lloyd
    * output in the centroids table's rows would train it without touching
    * encode or search), seeded PQ codebook, and
    * every vector's (cid, codes) row bucketed by cell.
    *
    * Scale shape: one pass over the corpus — cell assignment and PQ
    * encoding are per-row array algebra against the two broadcast one-row
    * frames (NO shuffle), and the only exchange is the bucketed write
    * itself, which is the point: that shuffle is paid once, then every
    * serve-time probe join is exchange-free on the index side.
    *
    * `nCells <= 0` auto-sizes the coarse quantizer from a corpus count
    * (Similarity.autoCells ~ 4*sqrt(N)) — the default for production call
    * sites, because a FIXED cell count is the s18 scale-killer: at 100x
    * the corpus a query would scan 100x the candidates. The explicit form
    * exists for oracle fixtures that must re-derive the index relationally.
    */
  def writeIvfPq(df: DataFrame, idCol: String, vecCol: String, dim: Int,
                 nCells: Int, m: Int, k: Int, name: String,
                 nBuckets: Int): Unit = {
    require(m > 0 && dim % m == 0,
      s"m must divide dim: dim=$dim, m=$m (a remainder would silently drop the tail dims)")
    val spark = df.sparkSession
    Seq(membersTable(name), centroidsTable(name), codebookTable(name))
      .foreach(graft.sources.Bucketing.ensureCleanTable(spark, _))
    val v = Similarity.prepared(df, idCol, vecCol)
    val cells = if (nCells > 0) nCells else Similarity.autoCells(v.count())
    // persist the training state FIRST; members are then encoded against
    // the persisted values, so write and append share one encode path and
    // the on-disk tables are authoritative (not a driver-side copy)
    Similarity.seedCentroids(v, cells)
      .select(explode(col("cells")).as("c"))
      .select(col("c")("cid").as("cid"), col("c")("cv").as("cv"),
        col("c")("cnrm").as("cnrm"))
      .write.mode(SaveMode.Overwrite).format("parquet")
      .saveAsTable(centroidsTable(name))
    Similarity.pqTrain(df, idCol, vecCol, dim, m, k)
      .write.mode(SaveMode.Overwrite).format("parquet")
      .saveAsTable(codebookTable(name))
    graft.sources.Bucketing.writeBucketed(
      encodeAgainstIndex(spark, v, dim, m, name),
      membersTable(name), "cid", nBuckets)
  }

  /** Ingest a batch into an existing index: encode against the FROZEN
    * persisted centroids + codebook (see the object Scaladoc for why), then
    * append to the bucketed members table — Spark validates the bucket spec,
    * so the exchange-free join property survives every append.
    */
  def appendIvfPq(df: DataFrame, idCol: String, vecCol: String, dim: Int,
                  m: Int, name: String, nBuckets: Int): Unit = {
    require(m > 0 && dim % m == 0,
      s"m must divide dim: dim=$dim, m=$m (a remainder would silently drop the tail dims)")
    graft.sources.Bucketing.appendBucketedBy(
      encodeAgainstIndex(df.sparkSession,
        Similarity.prepared(df, idCol, vecCol), dim, m, name),
      membersTable(name), Seq("cid"), nBuckets)
  }

  /** (cid, nid, codes) for `v` against the index's persisted training state:
    * top-1 cell by (cosine desc, cid asc) + native-kernel PQ encode — the
    * same broadcast array algebra as Similarity.ivfPqPlan's member branch.
    */
  private def encodeAgainstIndex(spark: SparkSession, v: DataFrame, dim: Int,
                                 m: Int, name: String): DataFrame = {
    val centroidRow = Similarity.packCells(spark.table(centroidsTable(name)))
    val cb = spark.table(codebookTable(name))
    Similarity.rankCells(v, centroidRow)
      .crossJoin(broadcast(cb))
      .select(
        coalesce(element_at(col("cellrank"), 1)("cid"), lit(Long.MinValue))
          .as("cid"),
        col("sid").as("nid"),
        Similarity.pqCodes(col("qv"), col("cb"), dim, m).as("codes"))
  }

  /** [[writeIvfPq]] in the EXACTLY-ONCE ingestion layout: the members table
    * is partitioned by `ingest_batch` AND bucketed on `cid` (the
    * Bucketing.writeBucketedPartitionedBy reconciliation), with the seed
    * corpus under `ingest_batch = seedBatch` (-1 by convention). Each later
    * micro-batch lands in its own partition via [[ingestVectorBatch]] —
    * a retry REPLACES its own partition — while every partition-filtered
    * read still satisfies the probe join's HashPartitioning with no
    * Exchange (the table-level bucket spec survives partition pruning).
    * Centroids and codebook are identical to [[writeIvfPq]]'s, including
    * the `nCells <= 0` auto-sizing default (Similarity.autoCells).
    */
  def writeIvfPqPartitioned(df: DataFrame, idCol: String, vecCol: String,
                            dim: Int, nCells: Int, m: Int, k: Int,
                            name: String, nBuckets: Int,
                            seedBatch: Long = -1L): Unit = {
    require(m > 0 && dim % m == 0,
      s"m must divide dim: dim=$dim, m=$m (a remainder would silently drop the tail dims)")
    val spark = df.sparkSession
    Seq(membersTable(name), centroidsTable(name), codebookTable(name))
      .foreach(graft.sources.Bucketing.ensureCleanTable(spark, _))
    val v = Similarity.prepared(df, idCol, vecCol)
    val cells = if (nCells > 0) nCells else Similarity.autoCells(v.count())
    Similarity.seedCentroids(v, cells)
      .select(explode(col("cells")).as("c"))
      .select(col("c")("cid").as("cid"), col("c")("cv").as("cv"),
        col("c")("cnrm").as("cnrm"))
      .write.mode(SaveMode.Overwrite).format("parquet")
      .saveAsTable(centroidsTable(name))
    Similarity.pqTrain(df, idCol, vecCol, dim, m, k)
      .write.mode(SaveMode.Overwrite).format("parquet")
      .saveAsTable(codebookTable(name))
    graft.sources.Bucketing.writeBucketedPartitionedBy(
      encodeAgainstIndex(spark, v, dim, m, name)
        .withColumn("ingest_batch", lit(seedBatch)),
      membersTable(name), "ingest_batch", Seq("cid"), nBuckets)
  }

  /** One EXACTLY-ONCE vector ingest micro-batch against a
    * [[writeIvfPqPartitioned]] index — public so retry semantics are
    * testable without faulting a live query: foreachBatch re-runs a failed
    * batch with the SAME batchId, and this encodes against the frozen
    * training state then drop-partition + bucketed-appends into
    * `ingest_batch = batchId` — so calling it twice with the same
    * (batch, batchId) leaves byte-identical visible state (a retry replaces
    * its own partition, never duplicates), and every other batch's codes
    * are untouched.
    */
  def ingestVectorBatch(batch: DataFrame, batchId: Long, idCol: String,
                        vecCol: String, dim: Int, m: Int, name: String,
                        nBuckets: Int): Unit = {
    require(m > 0 && dim % m == 0,
      s"m must divide dim: dim=$dim, m=$m (a remainder would silently drop the tail dims)")
    graft.sources.Bucketing.overwriteBucketedPartition(
      encodeAgainstIndex(batch.sparkSession,
        Similarity.prepared(batch, idCol, vecCol), dim, m, name),
      membersTable(name), "ingest_batch", batchId, Seq("cid"), nBuckets)
  }

  /** TOMBSTONE-delete vectors from the index (FAISS `remove_ids` semantics
    * over storage): ids land in a `<name>_deletes` side table, and every
    * serve call anti-joins them out of the candidate set BEFORE ranking —
    * so deleted vectors stop appearing immediately, and lower-ranked
    * neighbors flow up exactly as a from-scratch index without those rows
    * would rank them. The TRAINING STATE is untouched (a deleted seed
    * vector still anchors its centroid/codeword — deletion removes storage
    * entries, never re-trains; that is [[writeIvfPq]]'s rebuild).
    *
    * Deletes are logical until [[compactIvfPqDeletes]] rewrites the
    * members table without them — the band-index compaction discipline.
    * Idempotent: re-deleting an id is a no-op (the serve join is semi-set
    * semantics; compaction dedupes the tombstone table).
    *
    * Scale: the tombstone table broadcasts into the serve plan (deletes
    * are assumed small relative to the corpus between compactions — the
    * standard tombstone contract; compact before they outgrow the
    * broadcast budget).
    */
  def deleteIvfPq(spark: SparkSession, name: String, ids: DataFrame,
                  idCol: String): Unit = {
    val t = deletesTable(name)
    val rows = ids.select(col(idCol).cast("long").as("nid")).distinct()
    if (spark.catalog.tableExists(t))
      rows.write.mode(SaveMode.Append).format("parquet").saveAsTable(t)
    else rows.write.format("parquet").saveAsTable(t)
  }

  /** Physically rewrite the members table WITHOUT tombstoned rows (same
    * bucket spec, so the exchange-free serve plan survives), publish via
    * the rename-aside swap — every crash window leaves a queryable table
    * under SOME name (live, or staging + __old): pre-rename crashes repair
    * by re-running, a mid-swap crash recovers with one manual rename. The
    * tombstone table is dropped LAST, so an interrupted compaction never
    * un-deletes: the masked serve stays correct until the swap fully
    * lands. No-op when nothing is deleted.
    * For the [[writeIvfPq]] single-layout table only — a partitioned
    * ([[writeIvfPqPartitioned]]) index keeps tombstone-masked serve, or
    * re-ingests the affected batch with [[ingestVectorBatch]].
    */
  def compactIvfPqDeletes(spark: SparkSession, name: String,
                          nBuckets: Int): Unit = {
    val dt = deletesTable(name)
    if (!spark.catalog.tableExists(dt)) return
    val table = membersTable(name)
    require(!spark.table(table).columns.contains("ingest_batch"),
      "compactIvfPqDeletes rewrites the single-layout members table; " +
        "partitioned indexes keep the tombstone-masked serve")
    graft.sources.Bucketing.requireBucketCount(spark, table, nBuckets)
    val staging = table + "__compacting"
    val retired = table + "__old"
    graft.sources.Bucketing.ensureCleanTable(spark, staging)
    // staging is durably written BEFORE any destructive step — the lazy
    // read of the live table is safe because the swap happens after
    graft.sources.Bucketing.writeBucketed(
      spark.table(table)
        .join(broadcast(spark.table(dt)), Seq("nid"), "left_anti"),
      staging, "cid", nBuckets)
    spark.sql(s"ALTER TABLE $table RENAME TO $retired")
    spark.sql(s"ALTER TABLE $staging RENAME TO $table")
    spark.sql(s"DROP TABLE $retired")
    spark.sql(s"DROP TABLE $dt")
  }

  /** Serve top-k for an external query batch against the persisted index —
    * the read side of the train-once/search-many contract. Each query ranks
    * the (broadcast, re-packed) centroids shuffle-free, computes its ADC
    * lookup table once (m x k native-kernel dots — the external-query LUT
    * form; query batches are small relative to the corpus by contract), and
    * probes its `nProbe` best cells. The members scan arrives
    * pre-partitioned by `cid` from bucketing: a small query batch broadcasts
    * over it, a huge one sort-merges against it — in both plans the INDEX
    * side never shuffles (AnnIndexSpec asserts the no-Exchange plan).
    *
    * Returns (qid, nid, d2, rank), rank <= topK by (d2 asc, nid asc).
    *
    * `memberFilter` restricts which index rows are candidates — e.g. the
    * committed-prefix read `col("ingest_batch") < batchId` over a
    * [[writeIvfPqPartitioned]] index (partition-pruned, and the bucket spec
    * survives pruning, so the filtered scan still joins exchange-free).
    */
  def searchIvfPq(queries: DataFrame, idCol: String, vecCol: String, dim: Int,
                  m: Int, nProbe: Int, topK: Int, name: String,
                  memberFilter: Column = lit(true)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = queries.sparkSession
    val centroidRow = Similarity.packCells(spark.table(centroidsTable(name)))
    val cb = spark.table(codebookTable(name))
    val probes = Similarity.rankCells(
        Similarity.prepared(queries, idCol, vecCol), centroidRow)
      .crossJoin(broadcast(cb))
      .select(col("sid").as("qid"),
        Similarity.pqLut(col("qv"), col("cb"), dim, m).as("lut"),
        explode(transform(slice(col("cellrank"), 1, nProbe), c => c("cid")))
          .as("cid"))
    // tombstone mask: a broadcast anti join keeps the index side's bucketed
    // partitioning intact (the stream side of a broadcast join never
    // shuffles), so deletion costs no exchange on the serve path
    val live0 = spark.table(membersTable(name)).filter(memberFilter)
    val live =
      if (spark.catalog.tableExists(deletesTable(name)))
        live0.join(broadcast(spark.table(deletesTable(name))),
          Seq("nid"), "left_anti")
      else live0
    val scored = probes.join(live, Seq("cid"))
      .select(col("qid"), col("nid"),
        graft.plans.GraftFunctions.pqAdc(col("codes"), col("lut")).as("d2"))
    val w = Window.partitionBy(col("qid")).orderBy(col("d2").asc, col("nid").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
  }

  /** The RECOMMENDED serve configuration against the persisted index —
    * [[searchIvfPq]]'s ADC chain proposes the top-`shortlistK` per query
    * cheaply from m-byte codes, then ONLY those rows are scored against
    * full vectors and the exact-cosine top-`topK` wins
    * (Similarity.exactRerank — see its Scaladoc for the recall math: at
    * m=16/k=256 refine lifts recall@5 from ~0.6 raw ADC to 0.83–0.95, and
    * keeps it stable as the corpus grows at fixed index parameters).
    *
    * `vectors` supplies the FULL vectors for both sides of the re-rank
    * (the persisted index stores only codes — by design, that is the 32x
    * memory win): at serve time pass the corpus vector table unioned with
    * the query batch (or one table containing both, id-disjoint). Refine
    * cost is shortlistK full-vector dots per query, independent of corpus
    * size — the skinny (qid, nid) shortlist is what rides the joins.
    */
  def searchIvfPqRefine(queries: DataFrame, vectors: DataFrame, idCol: String,
                        vecCol: String, dim: Int, m: Int, nProbe: Int,
                        shortlistK: Int, topK: Int, name: String,
                        memberFilter: Column = lit(true)): DataFrame =
    Similarity.exactRerank(
      searchIvfPq(queries, idCol, vecCol, dim, m, nProbe, shortlistK, name,
        memberFilter),
      vectors, idCol, vecCol, topK)

  /** Drop the index's tables (and any orphaned warehouse dirs). */
  def dropIvfPq(spark: SparkSession, name: String): Unit =
    Seq(membersTable(name), centroidsTable(name), codebookTable(name),
        deletesTable(name))
      .foreach(graft.sources.Bucketing.ensureCleanTable(spark, _))
}
