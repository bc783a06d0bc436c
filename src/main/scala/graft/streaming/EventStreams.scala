package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Micro-batch surface. The reference has no streams — every DAG is
  * scheduled batch over a lagged window (SURVEY.md §2g). Two kinds of
  * operator live here:
  *  - batch/stream-agnostic frames (windowed sketches, attribution joins,
  *    sessionization): a static frame plans the batch query, a streaming
  *    one gets a WATERMARK that bounds state in place of the reference's
  *    fixed LAG (read 3-day-old data, trim 2 days —
  *    EIA930PipelineHourlyData.py:48,98);
  *  - `*Batch` bodies: one exactly-once micro-batch each. A caller runs them
  *    from `writeStream.foreachBatch`, where a failed batch re-runs with the
  *    same batch id; every output replaces its own `ingest_batch = batchId`
  *    partition, so a replay leaves the state it would have left once.
  */
object EventStreams {

  /** Streaming per-window DISTINCT estimates: one KMV bottom-k sketch per
    * tumbling window (the native `graft_kmv` TypedImperativeAggregate), so
    * the state store holds k longs per window — never the distinct-value
    * set — and incremental micro-batch merges are bottom-k insertions. The
    * kmv estimate is DETERMINISTIC (md5-derived hashes, merge-order-
    * independent bottom-k), so unlike an HLL monitor the streamed numbers
    * are reproducible and batch/stream runs agree exactly (the ax6 batch
    * twin is oracle-checked; the spec proves parity). Batch/stream
    * agnostic: a static frame gets no watermark.
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

  /** One EXACTLY-ONCE ingestion-dedup micro-batch: the batch is checked
    * against the persisted corpus LSH band index plus itself, near-dup
    * pairs land in `pairsOutPath`, the surviving docs join the corpus and
    * their bands join the index — so batch N+1 dedups against everything
    * batch N ingested. Every read filters to the committed prefix
    * `ingest_batch < batchId` (partition-pruned), and every write replaces
    * the `ingest_batch = batchId` partition, so calling this twice with
    * the same (batch, batchId) leaves identical visible state.
    *
    * The band index is partitioned by `ingest_batch` AND bucketed on
    * (band, bkey) (Dedup.writeBandIndexPartitioned): the batch's bands land
    * by drop-partition + bucketed append (Dedup.overwriteBandIndexBatch),
    * and since the bucket spec is table-level the committed-prefix read
    * still scans bucket-aligned, with NO Exchange on the corpus side of
    * the candidate join (DedupSpec's plan contract). Seed the corpus under
    * `ingest_batch = -1` (Sinks.overwriteRunPartition) and the index via
    * Dedup.writeBandIndexPartitioned's default batch = -1.
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

  /** NOVELTY SCORING with index growth — each micro-batch of documents
    * is scored against the persisted first-holder gram index
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
    * Batch/stream agnostic: static inputs skip the watermarks and plan the
    * ordinary interval join, so batch backfill and the live stream share
    * one definition.
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
    * latest committed row per user. Batches must not regress event time,
    * which Spark's source ordering provides when this runs as a
    * `foreachBatch` body.
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
}
