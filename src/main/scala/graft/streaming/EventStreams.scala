package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface. The reference has no streams — every DAG is
  * scheduled batch over a lagged window (SURVEY.md §2g) — but its hourly
  * pipelines are exactly the shape Structured Streaming runs continuously:
  * the same windowed aggregation expression works in both modes, with the
  * reference's fixed LAG (read 3-day-old data, trim 2 days —
  * EIA930PipelineHourlyData.py:48,98) replaced by a WATERMARK that bounds
  * state instead of bounding the input.
  */
object EventStreams {

  /** Hourly tumbling aggregate with late-data tolerance. Batch/stream
    * agnostic: pass a static DataFrame and it is the batch W1 query; pass a
    * readStream and it runs incrementally with watermark-bounded state.
    */
  def hourlyStats(events: DataFrame, watermarkDelay: String = "2 hours"): DataFrame = {
    val src =
      if (events.isStreaming) events.withWatermark("ts", watermarkDelay) else events
    src
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("n"), col("sum_value"))
  }

  /** OVERLAPPING sliding-window aggregate (the streaming twin of the w8
    * batch query): each event expands map-side into len/slide windows —
    * Spark's window() generator, no self-join — and the watermark retires
    * window state once event time passes window end + delay, so state is
    * O(open windows), not O(history). Batch/stream agnostic like
    * [[hourlyStats]].
    */
  def slidingStats(events: DataFrame, windowLen: String = "3 hours",
                   slide: String = "1 hour", watermarkDelay: String = "2 hours",
                   tsCol: String = "ts"): DataFrame = {
    val src =
      if (events.isStreaming) events.withWatermark(tsCol, watermarkDelay) else events
    src
      .groupBy(window(col(tsCol), windowLen, slide))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("win_start"), col("n"), col("sum_value"))
  }

  /** Hourly OHLC bars, batch/stream agnostic (the streaming twin of ts3 /
    * [[graft.operators.EventOps.ohlcBars]]): open/close via min_by/max_by
    * on the (ts, event_id) struct key — both are algebraic aggregates, so
    * they fold incrementally across micro-batches exactly like min/max,
    * and the watermark retires per-(key, hour) state once event time
    * passes the bar's end + delay. Same struct-key determinism as the
    * batch operator: unique event_id ⇒ the picks are replay-stable.
    */
  def ohlcStats(events: DataFrame, watermarkDelay: String = "2 hours"): DataFrame = {
    val src =
      if (events.isStreaming) events.withWatermark("ts", watermarkDelay) else events
    src
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        min_by(col("value"), struct(col("ts"), col("event_id"))).as("open"),
        max_by(col("value"), struct(col("ts"), col("event_id"))).as("close"),
        min(col("value")).as("low"), max(col("value")).as("high"),
        count(lit(1)).as("n"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("open"), col("close"), col("low"), col("high"), col("n"))
  }

  /** Stream-static enrichment: join a stream against a (small, periodically
    * reloaded) dimension table — the streaming twin of the BA semi-join
    * (P5/J1). The static side re-resolves per micro-batch, so dimension
    * updates flow in without restarting the query; the dim broadcasts, so no
    * stream-side state or shuffle accrues.
    */
  def enrich(stream: DataFrame, dim: DataFrame, streamKey: String,
             dimKey: String): DataFrame =
    stream.join(org.apache.spark.sql.functions.broadcast(dim),
      col(streamKey) === col(dimKey), "left")

  /** Streaming heavy hitters: a Misra-Gries sketch per tumbling window —
    * the trending-terms / hot-keys monitor. The sketch is a
    * TypedImperativeAggregate, so Structured Streaming maintains ONE bounded
    * k-counter buffer per (window, group) in the state store, merged
    * incrementally across micro-batches; memory is O(windows x k), never
    * proportional to the value distribution. Emits the sketch's candidate
    * map (over-counts bounded by n/k — see MisraGriesSketch); exact
    * recounting, when needed, is a batch pass over the flagged window.
    */
  def windowedHeavyHitters(events: DataFrame, valueCol: String, k: Int,
                           windowLen: String = "1 hour",
                           watermarkDelay: String = "2 hours",
                           tsCol: String = "ts"): DataFrame = {
    val src =
      if (events.isStreaming) events.withWatermark(tsCol, watermarkDelay) else events
    src
      .groupBy(window(col(tsCol), windowLen))
      .agg(graft.operators.HeavyHitters.sketchOf(col(valueCol), k).as("candidates"))
      .select(col("window.start").as("window_start"), col("candidates"))
  }

  /** Streaming per-window DISTINCT estimates: one KMV bottom-k sketch per
    * tumbling window (the native `graft_kmv` TypedImperativeAggregate), so
    * the state store holds k longs per window — never the distinct-value
    * set — and incremental micro-batch merges are bottom-k insertions. The
    * kmv estimate is DETERMINISTIC (md5-derived hashes, merge-order-
    * independent bottom-k), so unlike an HLL monitor the streamed numbers
    * are reproducible and batch/stream runs agree exactly (the ax6 batch
    * twin is oracle-checked; the spec proves parity). Batch/stream
    * agnostic like [[hourlyStats]].
    */
  def windowedDistinct(events: DataFrame, valueCol: String, k: Int,
                       windowLen: String = "1 hour",
                       watermarkDelay: String = "2 hours",
                       tsCol: String = "ts"): DataFrame = {
    val src =
      if (events.isStreaming) events.withWatermark(tsCol, watermarkDelay) else events
    src
      .groupBy(window(col(tsCol), windowLen))
      .agg(graft.plans.GraftFunctions.kmvSketch(
        graft.operators.Dedup.hash48(col(valueCol).cast("string")), k).as("__sk"))
      .select(col("window.start").as("window_start"),
        size(col("__sk")).cast("long").as("sketch_size"),
        graft.operators.ApproxOps.kmvEstimate(col("__sk"), k).as("kmv_est"))
  }

  /** Streaming per-window count-min sketch: one d x w counter matrix per
    * tumbling window (the native `graft_count_min` TypedImperativeAggregate)
    * — the frequency monitor whose state is O(windows x d x w) no matter
    * how many distinct values flow through, and whose matrix can be probed
    * for ANY value after the fact ([[graft.operators.ApproxOps.cmsProbe]]),
    * unlike a watched-key counter that had to know the keys up front.
    * Matrix cells are order-insensitive sums, so micro-batch merge order
    * cannot change the emitted sketch — batch and stream runs agree
    * bit-for-bit (the windowedDistinct determinism posture, stronger than
    * MG's candidate-set semantics). Batch/stream agnostic.
    */
  def windowedCms(events: DataFrame, valueCol: String, w: Int, d: Int,
                  windowLen: String = "1 hour",
                  watermarkDelay: String = "2 hours",
                  tsCol: String = "ts"): DataFrame = {
    val src =
      if (events.isStreaming) events.withWatermark(tsCol, watermarkDelay) else events
    src
      .groupBy(window(col(tsCol), windowLen))
      .agg(graft.plans.GraftFunctions.countMin(
        col(valueCol).cast("string"), w, d).as("sk"))
      .select(col("window.start").as("window_start"), col("sk"))
  }

  /** Streaming exactly-once-per-key dedup with bounded state: duplicates of
    * `keyCols` arriving within `delay` of the watermark are dropped; state
    * for keys older than the watermark is evicted, so memory is bounded by
    * the duplicate-arrival window, not the stream's lifetime — the streaming
    * twin of the batch exact-dedup operator (Dedup.exact), and the standard
    * ingestion guard in front of an append sink when the upstream source
    * retries (the reference's paginated fetchers re-request pages on
    * failure; EIA930PipelineHourlyData.py:45-68).
    *
    * Batch/stream agnostic: a static frame gets plain dropDuplicates (no
    * state to bound).
    */
  def dedupWithinWatermark(events: DataFrame, keyCols: Seq[String], tsCol: String,
                           delay: String = "2 hours"): DataFrame =
    if (events.isStreaming)
      events.withWatermark(tsCol, delay).dropDuplicatesWithinWatermark(keyCols)
    else events.dropDuplicates(keyCols)

  /** Gap sessionization via Spark's NATIVE session-window aggregation — the
    * declarative sibling of [[sessionize]] (flatMapGroupsWithState): same
    * 30-minute-gap semantics (batch parity is oracle-checked as
    * w7_session_window), but state handling, merging and eviction come from
    * the engine. Streaming: append mode emits a session once the watermark
    * passes its close; batch: plain aggregation. Prefer this one unless the
    * session logic needs custom state (mid-session emission, enrichment).
    */
  def sessionStats(events: DataFrame, gap: String = "30 minutes",
                   watermarkDelay: String = "1 hour",
                   tsCol: String = "ts", keyCol: String = "user_id"): DataFrame = {
    val src =
      if (events.isStreaming) events.withWatermark(tsCol, watermarkDelay) else events
    src
      .groupBy(session_window(col(tsCol), gap), col(keyCol))
      .agg(count(lit(1)).as("n_events"))
      .select(col(keyCol),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"))
  }

  /** IDEMPOTENT streaming ingestion dedup: every micro-batch of documents
    * is checked against the PERSISTED corpus LSH band index plus itself,
    * near-dup pairs land in `pairsOutPath`, the surviving docs join the
    * corpus and their bands join the index — so batch N+1 dedups against
    * everything batch N ingested. Per-batch cost scales with |batch| x
    * bucket occupancy, never with corpus size: the corpus is only touched
    * through its band index and an id-filtered verification scan. The
    * state lives in storage, not in the state store, because it must
    * outlive the query and be shared with batch jobs.
    *
    * Exactly-once: foreachBatch re-runs a failed batch with the
    * SAME batchId, so every output (pairs, surviving docs, band-index rows)
    * is written to an `ingest_batch = batchId` partition with dynamic
    * partition overwrite — a retry REPLACES its own partition instead of
    * appending duplicates — and every read filters to
    * `ingest_batch < batchId`, so a retry sees exactly the pre-batch state
    * even when the failed attempt already wrote files (the filter is
    * partition-pruned, so "read the committed prefix" costs nothing).
    * Seed the corpus and index under `ingest_batch = -1`.
    *
    * Storage-format note: the index here is PLAIN partitioned parquet — the
    * simplest idempotent layout. For exactly-once AND the exchange-free
    * corpus join together, use [[dedupIngestIdempotentBucketed]], whose
    * index is a partitioned bucketed table (Spark's dynamic partition
    * overwrite refuses bucketed tables, but drop-partition + bucketed
    * append achieves the same replace-your-own-batch semantics).
    */
  def dedupIngestIdempotent(stream: DataFrame, corpusDocsPath: String,
                            bandIndexPath: String, pairsOutPath: String,
                            idCol: String, textCol: String, n: Int,
                            threshold: Double)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      ingestBatchIdempotent(batch, batchId, corpusDocsPath, bandIndexPath,
        pairsOutPath, idCol, textCol, n, threshold)
    }

  /** One idempotent micro-batch — public so retry semantics are testable
    * without faulting a live query: calling this twice with the same
    * (batch, batchId) leaves byte-identical state.
    */
  def ingestBatchIdempotent(batch: DataFrame, batchId: Long,
                            corpusDocsPath: String, bandIndexPath: String,
                            pairsOutPath: String, idCol: String,
                            textCol: String, n: Int,
                            threshold: Double): Unit = {
    import graft.operators.Dedup
    import org.apache.spark.sql.functions.{broadcast, col, greatest, lit}
    val spark = batch.sparkSession
    val b = batch.localCheckpoint(false)
    def committed(path: String) =
      spark.read.parquet(path).filter(col("ingest_batch") < batchId)
    val corpus = committed(corpusDocsPath)
    val bands = committed(bandIndexPath)
    val pairs = Dedup.incrementalNearDupPairs(
      b, corpus, bands, idCol, textCol, n, threshold).localCheckpoint(false)
    graft.sources.Sinks.overwriteRunPartition(
      pairs.withColumn("ingest_batch", lit(batchId)), pairsOutPath, "ingest_batch")
    val losers = pairs.select(greatest(col("ida"), col("idb")).as("loser"))
    val kept = b.join(broadcast(losers), b(idCol) === col("loser"), "left_anti")
      .localCheckpoint(false)
    graft.sources.Sinks.overwriteRunPartition(
      kept.withColumn("ingest_batch", lit(batchId)), corpusDocsPath, "ingest_batch")
    graft.sources.Sinks.overwriteRunPartition(
      Dedup.bandIndex(kept, idCol, textCol, n)
        .withColumn("ingest_batch", lit(batchId)), bandIndexPath, "ingest_batch")
  }

  /** EXACTLY-ONCE ingestion dedup with the EXCHANGE-FREE corpus join —
    * [[dedupIngestIdempotent]]'s retry safety at the 100 TB shape, where the
    * corpus-side exchange of the candidate join is the dominant per-batch
    * term the plain-parquet index pays. The band index is a table
    * partitioned by `ingest_batch` AND bucketed on (band, bkey)
    * (Dedup.writeBandIndexPartitioned): each micro-batch's bands land in
    * their own partition via drop-partition + bucketed append
    * (Dedup.overwriteBandIndexBatch), so a retry REPLACES its own partition
    * — and because the bucket spec is table-level, the committed-prefix
    * read (`ingest_batch < batchId`, partition-pruned) still scans
    * bucket-aligned with NO Exchange on the corpus side of the candidate
    * join. Docs and pairs stay plain `ingest_batch`-partitioned parquet
    * (they are not party to the bucket-keyed join); seed corpus under
    * `ingest_batch = -1` (Sinks.overwriteRunPartition) and the seed index
    * via Dedup.writeBandIndexPartitioned's default batch = -1.
    */
  def dedupIngestIdempotentBucketed(stream: DataFrame, corpusDocsPath: String,
                                    bandIndexTable: String, nBuckets: Int,
                                    pairsOutPath: String, idCol: String,
                                    textCol: String, n: Int,
                                    threshold: Double)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      ingestBatchIdempotentBucketed(batch, batchId, corpusDocsPath,
        bandIndexTable, nBuckets, pairsOutPath, idCol, textCol, n, threshold)
    }

  /** One exactly-once micro-batch against the bucketed index — public so
    * retry semantics are testable without faulting a live query: calling
    * this twice with the same (batch, batchId) leaves identical visible
    * state, and the corpus side of the candidate join plans with no
    * Exchange (DedupSpec's plan contract).
    */
  def ingestBatchIdempotentBucketed(batch: DataFrame, batchId: Long,
                                    corpusDocsPath: String,
                                    bandIndexTable: String, nBuckets: Int,
                                    pairsOutPath: String, idCol: String,
                                    textCol: String, n: Int,
                                    threshold: Double): Unit = {
    import graft.operators.Dedup
    import org.apache.spark.sql.functions.{broadcast, col, greatest, lit}
    val spark = batch.sparkSession
    val b = batch.localCheckpoint(false)
    val corpus = spark.read.parquet(corpusDocsPath)
      .filter(col("ingest_batch") < batchId)
    val bands = spark.table(bandIndexTable)
      .filter(col("ingest_batch") < batchId)
    val pairs = Dedup.incrementalNearDupPairs(
      b, corpus, bands, idCol, textCol, n, threshold).localCheckpoint(false)
    graft.sources.Sinks.overwriteRunPartition(
      pairs.withColumn("ingest_batch", lit(batchId)), pairsOutPath, "ingest_batch")
    val losers = pairs.select(greatest(col("ida"), col("idb")).as("loser"))
    val kept = b.join(broadcast(losers), b(idCol) === col("loser"), "left_anti")
      .localCheckpoint(false)
    graft.sources.Sinks.overwriteRunPartition(
      kept.withColumn("ingest_batch", lit(batchId)), corpusDocsPath, "ingest_batch")
    Dedup.overwriteBandIndexBatch(kept, idCol, textCol, n, bandIndexTable,
      nBuckets, batchId)
  }

  /** STREAMING NOVELTY SCORING with index growth — each micro-batch of
    * documents is scored against the persisted first-holder gram index
    * (Dedup.batchNovelty), the scores land exactly-once in an
    * `ingest_batch = batchId` partition, and the batch's grams are appended
    * so the NEXT batch sees them. Retry safety here needs NO committed-
    * prefix read and NO index partition replacement, because the index is a
    * MIN-MERGE LATTICE: appending the same (g, first_sid) rows twice
    * changes no serve-time `min(first_sid)`, and batchNovelty's `<=`
    * comparison returns the first run's scores even when the retried
    * batch's own grams are already in the index. The only exactly-once
    * machinery needed is the scores partition replace.
    *
    * Stream contract: ids monotone with ingestion order (the normal
    * assignment). With arbitrary ids each batch's scores are still exact
    * for its own prefix, but a later smaller id can re-claim a gram an
    * earlier batch already scored as novel.
    */
  def noveltyIngest(stream: DataFrame, indexTable: String, nBuckets: Int,
                    scoresOutPath: String, idCol: String, textCol: String,
                    n: Int)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      noveltyIngestBatch(batch, batchId, indexTable, nBuckets,
        scoresOutPath, idCol, textCol, n)
    }

  /** One streaming novelty micro-batch — public so retry semantics are
    * testable without faulting a live query: calling this twice with the
    * same (batch, batchId) leaves identical visible state (scores replace
    * their own partition; duplicate index appends are absorbed by the
    * min-merge).
    */
  def noveltyIngestBatch(batch: DataFrame, batchId: Long, indexTable: String,
                         nBuckets: Int, scoresOutPath: String, idCol: String,
                         textCol: String, n: Int): Unit = {
    import graft.operators.Dedup
    import org.apache.spark.sql.functions.lit
    val spark = batch.sparkSession
    val b = batch.localCheckpoint(false)
    val scores = Dedup.batchNovelty(spark, b, idCol, textCol, n, indexTable)
      .localCheckpoint(false)
    graft.sources.Sinks.overwriteRunPartition(
      scores.withColumn("ingest_batch", lit(batchId)),
      scoresOutPath, "ingest_batch")
    Dedup.appendNoveltyIndex(b, idCol, textCol, n, indexTable, nBuckets)
  }

  /** Streaming wrapper over [[qualityGateBatch]]: a foreachBatch writer
    * gating a live document stream with a frozen quality model — start
    * with `.option("checkpointLocation", …).start()`. Restart-safe for
    * the same reason the replay is: Spark re-runs the uncommitted batch
    * id and the partition replace rewrites identical integers.
    */
  def qualityGateIngest(stream: DataFrame, model: DataFrame,
                        scoresOutPath: String, idCol: String,
                        textCol: String, nBuckets: Int)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      qualityGateBatch(batch, batchId, model, scoresOutPath, idCol, textCol,
        nBuckets)
    }

  /** Exactly-once QUALITY-GATE ingestion: score one micro-batch against a
    * FROZEN quality model ([[graft.operators.TextOps.trainQualityModel]],
    * trained offline — the production shape: the classifier never retrains
    * inside the serving path) and write (doc, score_fp, pred) by
    * partition-replace on `ingest_batch`. Replay-idempotent by
    * construction — the model is read-only state, so a retried batch
    * rewrites its own partition with identical integers (the ds2/ds3
    * injected-retry contract with NO merge lattice needed). Downstream
    * admits `pred` rows into the corpus.
    */
  def qualityGateBatch(batch: DataFrame, batchId: Long, model: DataFrame,
                       scoresOutPath: String, idCol: String, textCol: String,
                       nBuckets: Int): Unit = {
    import org.apache.spark.sql.functions.lit
    // same lock + sweep posture as qualityRetrainBatch (see there)
    graft.core.Storage.freeingIntermediates(batch.sparkSession) {
      val scores = graft.operators.TextOps.scoreQuality(
        batch, idCol, textCol, model, nBuckets)
      graft.sources.Sinks.overwriteRunPartition(
        scores.withColumn("ingest_batch", lit(batchId)),
        scoresOutPath, "ingest_batch")
      null
    }
    ()
  }

  /** MODEL-REFRESH half of the quality lifecycle (completing ds5's frozen
    * serve with the retrain path a production gate needs): train a fresh
    * model VERSION from a deterministic curated+batch input and write the
    * nBuckets+1 model rows by partition-replace on `model_version` — the
    * FtsIndex partition-replace discipline applied to the model artifact
    * itself. Replay-idempotent: the training input is storage-derived and
    * [[graft.operators.TextOps.trainQualityModel]] is integer-deterministic
    * (every ln the LnFp fixed point), so a retried retrain rewrites its
    * version partition with IDENTICAL integers. A half-written refresh is
    * invisible to serving (which reads one committed version partition);
    * rollback is "serve the previous version" — old versions stay.
    */
  def qualityRetrainBatch(train: DataFrame, version: Long,
                          isPositive: org.apache.spark.sql.Column,
                          modelPath: String, idCol: String, textCol: String,
                          nBuckets: Int): Unit = {
    import org.apache.spark.sql.functions.lit
    // freeingIntermediates, null result (the refreshAuthority posture):
    // frees the trainer's checkpoint leaf once the version lands, AND
    // serializes this versioned-lifecycle operator behind the session's
    // single-operator lock — the documented concurrency contract, so a
    // concurrent authority refresh (g2) cannot sweep this trainer's
    // checkpoint mid-job (LifecycleConcurrencySpec exercises both
    // lifecycles through TaskGraph.runParallel)
    graft.core.Storage.freeingIntermediates(train.sparkSession) {
      val model = graft.operators.TextOps.trainQualityModel(
        train, idCol, textCol, isPositive, nBuckets)
      graft.sources.Sinks.overwriteRunPartition(
        model.withColumn("model_version", lit(version)),
        modelPath, "model_version")
      null
    }
    ()
  }

  /** Serve one micro-batch against a COMMITTED model version from
    * [[qualityRetrainBatch]]'s versioned store: the read partition-prunes
    * to the one version directory (nBuckets+1 rows — broadcast-sized at
    * any corpus size), scores like [[qualityGateBatch]], and records WHICH
    * model served the batch in the score log (`model_version` — the audit
    * column that makes a refresh explainable after the fact). Same
    * replay-idempotence: (batch, version) is pure, the partition-replace
    * rewrites identical integers.
    */
  def qualityServeVersioned(batch: DataFrame, batchId: Long,
                            modelPath: String, version: Long,
                            scoresOutPath: String, idCol: String,
                            textCol: String, nBuckets: Int): Unit = {
    import org.apache.spark.sql.functions.{col, lit}
    // same lock + sweep posture as qualityRetrainBatch (see there)
    graft.core.Storage.freeingIntermediates(batch.sparkSession) {
      val model = batch.sparkSession.read.parquet(modelPath)
        .filter(col("model_version") === version).drop("model_version")
      val scores = graft.operators.TextOps.scoreQuality(
          batch, idCol, textCol, model, nBuckets)
        .withColumn("model_version", lit(version))
      graft.sources.Sinks.overwriteRunPartition(
        scores.withColumn("ingest_batch", lit(batchId)),
        scoresOutPath, "ingest_batch")
      null
    }
    ()
  }

  /** Newest committed model version in a [[qualityRetrainBatch]] store —
    * the "serve the latest refresh" pointer. Partition values only (no
    * data read).
    */
  def latestModelVersion(spark: org.apache.spark.sql.SparkSession,
                         modelPath: String): Long = {
    import org.apache.spark.sql.functions.{col, max}
    // partition values read back as int32; normalize
    val r = spark.read.parquet(modelPath)
      .agg(max(col("model_version").cast("long"))).head()
    require(!r.isNullAt(0), s"no committed model version under $modelPath")
    r.getLong(0)
  }

  /** Streaming wrapper over [[qualityServeVersioned]]: a foreachBatch
    * writer serving a live stream from the versioned model store. With
    * `version = Some(v)` the model is PINNED — replays are bit-exact (the
    * ds9 contract). With `version = None` each micro-batch serves the
    * NEWEST committed version at its start, so a retrain landing
    * mid-stream takes effect on the next batch; a batch retried AFTER a
    * refresh then rewrites its partition under the newer model — the
    * score log's `model_version` column records which model actually
    * served each batch, which is the auditable guarantee this mode trades
    * bit-exact replay for. Pin the version when exact replay matters.
    */
  def qualityServeIngest(stream: DataFrame, modelPath: String,
                         scoresOutPath: String, idCol: String,
                         textCol: String, nBuckets: Int,
                         version: Option[Long] = None)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val v = version.getOrElse(
        latestModelVersion(batch.sparkSession, modelPath))
      qualityServeVersioned(batch, batchId, modelPath, v, scoresOutPath,
        idCol, textCol, nBuckets)
    }

  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                   event_type: String, value: Double)
  case class SessionUpdate(user_id: Long, session_start: java.sql.Timestamp,
                           session_end: java.sql.Timestamp, n_events: Long,
                           closed: Boolean)
  case class SessionState(start: Long, end: Long, n: Long)

  /** Stream-stream interval join (attribution): match each `left` event to
    * the `right` events of the same key whose timestamp falls in
    * `[left.ts, left.ts + horizon]` — view-to-click attribution, order-to-
    * shipment matching. The streaming twin of the J5 batch interval join:
    * the SAME equi-key + time-range condition, but with BOTH sides
    * watermarked so Spark can bound the join buffers — a left row retires
    * once the right watermark passes `left.ts + horizon`, a right row once
    * the left watermark passes `right.ts` — making state O(horizon + delay)
    * per key instead of O(history). Inner join: an unmatched left row
    * simply expires (append-safe).
    *
    * Batch/stream agnostic like [[hourlyStats]]: static inputs skip the
    * watermarks and plan the ordinary interval join, so batch backfill and
    * the live stream share one definition.
    */
  def attributeJoin(left: DataFrame, right: DataFrame, keyCol: String,
                    tsCol: String, horizon: String,
                    watermarkDelay: String = "2 hours",
                    joinType: String = "inner"): DataFrame = {
    def side(df: DataFrame, p: String): DataFrame = {
      val wm = if (df.isStreaming) df.withWatermark(tsCol, watermarkDelay) else df
      wm.select(wm.columns.map(c => col(c).as(s"$p$c")): _*)
    }
    val l = side(left, "l_")
    val r = side(right, "r_")
    l.join(r,
      col(s"l_$keyCol") === col(s"r_$keyCol") &&
        col(s"r_$tsCol") >= col(s"l_$tsCol") &&
        col(s"r_$tsCol") <= col(s"l_$tsCol") + expr(s"INTERVAL $horizon"),
      joinType)
  }

  /** Left-outer attribution: like the inner [[attributeJoin]] but an
    * unattributed left event IS a result — it emits with NULL right columns
    * once the right watermark passes `left.ts + horizon` and no match can
    * still arrive ("views that never converted", the funnel-drop feed).
    * Emission is therefore watermark-delayed by construction; batch inputs
    * plan the ordinary left-outer interval join with no delay.
    */
  def attributeJoinOuter(left: DataFrame, right: DataFrame, keyCol: String,
                         tsCol: String, horizon: String,
                         watermarkDelay: String = "2 hours"): DataFrame =
    attributeJoin(left, right, keyCol, tsCol, horizon, watermarkDelay, "left_outer")

  /** Gap-based sessionization via flatMapGroupsWithState — the custom-state
    * escape hatch for semantics windowed aggs can't express. A session
    * closes when a LATER event for the same key arrives past the gap
    * (NoTimeout — deterministic, event-time driven). The final idle session
    * of a key stays in state until such an event; production pipelines that
    * must flush idle sessions add EventTimeTimeout with a watermark, at the
    * cost of timing-dependent output.
    */
  def sessionize(spark: SparkSession, events: Dataset[Event], gapMs: Long): Dataset[SessionUpdate] = {
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionUpdate](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          val sorted = rows.toSeq.sortBy(_.ts.getTime)
          var closed = List.empty[SessionUpdate]
          var cur = state.getOption
          sorted.foreach { e =>
            val t = e.ts.getTime
            cur match {
              case Some(s) if t - s.end <= gapMs =>
                cur = Some(s.copy(end = t, n = s.n + 1))
              case Some(s) =>
                closed ::= SessionUpdate(userId, new java.sql.Timestamp(s.start),
                  new java.sql.Timestamp(s.end), s.n, closed = true)
                cur = Some(SessionState(t, t, 1))
              case None =>
                cur = Some(SessionState(t, t, 1))
            }
          }
          cur match {
            case Some(s) => state.update(s)
            case None => ()
          }
          closed.reverseIterator
      }
  }

  /** EXACTLY-ONCE persisted funnel ingestion of one micro-batch — the
    * ds-series contract applied to per-user funnel state: the batch
    * advances the chains of its TOUCHED users from the committed prior
    * state ([[graft.operators.Funnel.advance]] — expression tree shared
    * with the oracle-checked w11 path) and lands the updated rows by
    * partition-replace on `ingest_batch`. A retried batch reads the SAME
    * committed prefix (`ingest_batch < batchId`) and rewrites its own
    * partition with identical rows — replay changes nothing. Serve =
    * latest committed row per user. Batches must not regress event time
    * (the [[funnelUpdates]] posture), which Spark's source ordering
    * provides when this runs as a `foreachBatch` body.
    */
  def funnelIngestBatch(batch: DataFrame, batchId: Long, statePath: String,
                        steps: Seq[String]): Unit = {
    import org.apache.spark.sql.functions.{col, lit, when}
    val spark = batch.sparkSession
    val b = batch.localCheckpoint(false)
    val prior = committedFunnelState(spark, statePath, batchId, steps)
    val updated = graft.operators.Funnel.advance(
      b, prior, "user_id", "ts", "event_type", steps)
    val reached = steps.indices
      .map(i => when(col(s"t$i").isNotNull, 1L).otherwise(0L))
      .reduce(_ + _)
    graft.sources.Sinks.overwriteRunPartition(
      updated.withColumn("steps_reached", reached)
        .withColumn("ingest_batch", lit(batchId))
        .localCheckpoint(false),
      statePath, "ingest_batch")
  }

  /** Latest committed per-user chain among batches `< uptoBatch`
    * (`Long.MaxValue` = everything committed — the serve read). ONLY a
    * missing state table is an empty prior (batch 0 starts from scratch);
    * any other read failure (transient IO, permissions, corrupt footer)
    * rethrows — silently treating it as empty would recompute touched
    * users from the current batch alone and COMMIT the regressed chains.
    */
  def committedFunnelState(spark: SparkSession, statePath: String,
                           uptoBatch: Long, steps: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{col, max_by, struct}
    val cols = Seq("user_id") ++ steps.indices.map(i => s"t$i") ++
      Seq("steps_reached")
    val p = new org.apache.hadoop.fs.Path(statePath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    (if (fs.exists(p)) Some(spark.read.parquet(statePath)) else None) match {
      case None =>
        import org.apache.spark.sql.types._
        spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
          StructType(StructField("user_id", LongType) +:
            (steps.indices.map(i => StructField(s"t$i", TimestampType)) :+
              StructField("steps_reached", LongType))))
      case Some(df) =>
        df.filter(col("ingest_batch") < uptoBatch)
          .groupBy(col("user_id"))
          .agg(max_by(struct(cols.filter(_ != "user_id").map(col): _*),
            col("ingest_batch")).as("__s"))
          .select(col("user_id") +:
            cols.filter(_ != "user_id").map(c => col(s"__s.$c").as(c)): _*)
    }
  }

  case class FunnelState(times: List[Long])

  /** Unit guard for funnel state read back from a checkpoint written by the
    * pre-r17 code, whose `times` were epoch MILLIS (`ts.getTime`) — mixed
    * into today's micros they always lose the strict-after comparison and
    * render as ~1970 timestamps (ADVICE r17 #2). The schema can't carry a
    * version tag (changing the case class breaks the state encoder for
    * exactly the checkpoints we're rescuing), so units are detected by
    * magnitude: any value below 1e13 is millis and upscales by 1000. The
    * split is exact for event times between 1970-04-26 (1e13 micros) and
    * 2286-11-20 (1e13 millis) — every sane event stream; fixture streams
    * use current-era timestamps.
    */
  private[streaming] def microsOfStateTime(t: Long): Long =
    if (t < 10000000000000L) t * 1000L else t
  case class FunnelUpdate(user_id: Long, steps_reached: Int,
                          reached_ts: java.sql.Timestamp)

  /** Full-precision epoch MICROSECONDS of a Timestamp. `getTime` truncates
    * to milliseconds, which would let two steps in the same millisecond but
    * distinct microseconds tie under strict-after — diverging from the
    * batch twin (w11 / Funnel.advance), which compares full TimestampType
    * microseconds. Events are post-epoch so the sub-second nanos add.
    */
  private[streaming] def epochMicros(ts: java.sql.Timestamp): Long = {
    val i = ts.toInstant
    i.getEpochSecond * 1000000L + i.getNano / 1000L
  }

  private[streaming] def microsToTimestamp(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  /** STREAMING funnel — the incremental twin of [[graft.operators.Funnel]]
    * (w11): per user the chained strictly-after first-occurrence step
    * progression, advanced across micro-batches. State is the achieved
    * chain prefix (≤ |steps| longs per user — bounded however long the
    * stream runs); an update row is emitted whenever a user advances.
    *
    * Exactness contract (the [[sessionize]] posture): within a batch
    * events sort by (ts, event_id); across batches event time must not
    * regress (replayed in order). Under that replay the greedy chain
    * equals w11's nested minima exactly — step k's first occurrence after
    * t(k−1) is the first qualifying event in global ts order, which the
    * greedy pass sees first. Equal-ts events can't advance (strict >), in
    * either engine, whatever the sort order among them.
    */
  def funnelUpdates(spark: SparkSession, events: Dataset[Event],
                    steps: Seq[String]): Dataset[FunnelUpdate] = {
    import spark.implicits._
    require(steps.nonEmpty && steps.size <= 16, "1..16 funnel steps")
    val stepArr = steps.toArray
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelUpdate](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, rows: Iterator[Event], state: GroupState[FunnelState]) =>
          var times = state.getOption.map(_.times).getOrElse(Nil)
            .map(microsOfStateTime) // legacy milli-unit checkpoints upscale
          val before = times.length
          // Sort key and strict-after comparison in full epoch MICROS —
          // getTime truncates to millis and would under-advance vs w11.
          rows.toSeq.sortBy(e => (epochMicros(e.ts), e.event_id)).foreach { e =>
            val j = times.length
            if (j < stepArr.length && e.event_type == stepArr(j) &&
                (j == 0 || epochMicros(e.ts) > times.last))
              times = times :+ epochMicros(e.ts)
          }
          if (times.length > before) {
            state.update(FunnelState(times))
            Iterator.single(FunnelUpdate(userId, times.length,
              microsToTimestamp(times.last)))
          } else Iterator.empty
      }
  }
}
