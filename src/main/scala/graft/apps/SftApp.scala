package graft.apps

import graft.core.Timing
import graft.operators.{Chat, Dedup, TextOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** End-to-end instruction-data (SFT/preference) curation — the composed
  * run an alignment-data user executes over (prompt, response) pairs
  * before tokenization, mirroring [[CorpusApp]]'s discipline for the
  * pair-shaped world:
  *
  *   pairs -> prompt-side near-dup clustering + response-exact keep-first
  *         (i1) -> prompt-side benchmark decontamination (i2) -> chat
  *         render + role-aware token accounting (i3's counting convention)
  *         -> sequence packing (pk1) -> per-pack training manifest
  *
  * Every stage is an oracle-checked operator; what the composition adds is
  * their interaction — the dedup survivors feeding the decontamination
  * anti-join and the packer consuming the post-gate pair order.
  *
  * Scale posture (100 TB): the dedup stage shuffles minhash band keys and
  * id pairs (never prompt text); the decontamination side reduces both
  * sides to distinct 48-bit gram hashes with the eval side broadcast; the
  * packer is the two-level prefix sum (no single-task window); and the
  * bookkeeping is ONE tagged-union aggregate (the fn1/corpus_app idiom) so
  * the stage counts cost one fused pass, not three scans.
  */
object SftApp {

  case class Stats(pairs: Long, afterDedup: Long, afterDecontam: Long,
                   packs: Long)

  /** Curate (pair_id, prompt, response) pairs against a benchmark text
    * frame, returning the per-pack manifest (pack_id, n_pairs, n_tokens,
    * id_fp, text_fp) and the stage counts.
    *
    * @param benchmark (id, text) rows whose word n-grams define the
    *        leakage set for the prompt side (the i2 semantics: near-dup
    *        prompts with distinct responses are still contamination).
    * @param chatOverhead fixed per-pair token overhead for the rendered
    *        two-turn template (role headers + sequence delimiters).
    * @param onStage per-stage wall-time callback, fired through
    *        [[graft.core.Timing.stage]] (corpus_app discipline).
    */
  def curatePairs(spark: SparkSession, pairs: DataFrame, benchmark: DataFrame,
                  n: Int = 3, minJaccard: Double = 0.5,
                  packSize: Long = 256L, chatOverhead: Int = 4,
                  onStage: (String, Double) => Unit = (_, _) => ())
      : (DataFrame, Stats) = {
    // prompt-side near-dup components + response-exact keep-first (the i1
    // kernel). The component build checkpoints its band/verify/CC
    // intermediates eagerly, so it gets its own stage timer.
    val comp = Timing.stage(onStage, "pair_dedup_build") {
      graft.core.Storage.freeingIntermediates(spark) {
        Dedup.connectedComponents(
          Dedup.minhashVerifiedPairs(pairs, "pair_id", "prompt", n, minJaccard))
      }
    }
    val w = Window.partitionBy(col("component"), col("response_fp"))
      .orderBy(col("pair_id"))
    val kept = pairs
      .join(comp, col("pair_id") === col("sid"), "left")
      .select(col("pair_id"), col("prompt"), col("response"),
        coalesce(col("component"), col("pair_id")).as("component"),
        TextOps.fingerprint(col("response")).as("response_fp"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("pair_id"), col("prompt"), col("response"))

    // prompt-side benchmark decontamination (the i2 kernel): any shared
    // word n-gram with the benchmark drops the PAIR.
    val contaminated = Dedup
      .decontaminate(kept, benchmark.toDF("pair_id", "prompt"),
        "pair_id", "prompt", n)
      .select(col("sid").as("bad_id"))
    // checkpoint (the CorpusApp.decontaminateAndPack rationale): the
    // pack-build's two bounded actions plus the stats and manifest actions
    // each re-executed the dedup-keep window + decontamination join above
    val clean = kept.join(broadcast(contaminated),
      col("pair_id") === col("bad_id"), "left_anti")
      .localCheckpoint(false)

    // chat render + token accounting + packing. assignPacks runs its own
    // two bounded driver actions (range bounds + bucket totals) at
    // construction — timed as the build stage.
    val packed = Timing.stage(onStage, "pack_build") {
      val rendered = clean.select(col("pair_id"),
        concat(lit("user: "), col("prompt"), lit("\nassistant: "),
          col("response")).as("chat"),
        (TextOps.wsTokenCount(col("prompt")) +
          TextOps.wsTokenCount(col("response")) + lit(chatOverhead))
          .cast("long").as("n_tokens"))
      graft.operators.Packing.assignPacks(
        spark, rendered, "pair_id", "n_tokens", packSize)
    }

    // bookkeeping in ONE tagged-union action.
    val stats = Timing.stage(onStage, "stats") {
      val row = pairs.select(lit(0).as("__tag"), lit(null).cast("long").as("__pack"))
        .unionByName(kept.select(lit(1).as("__tag"),
          lit(null).cast("long").as("__pack")))
        .unionByName(packed.select(lit(2).as("__tag"),
          col("pack_id").as("__pack")))
        .agg(count(when(col("__tag") === 0, 1)).as("n_pairs"),
          count(when(col("__tag") === 1, 1)).as("n_kept"),
          count(when(col("__tag") === 2, 1)).as("n_clean"),
          countDistinct(when(col("__tag") === 2, col("__pack"))).as("n_packs"))
        .head()
      Stats(row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3))
    }

    // per-pack training manifest: membership (id_fp), exact rendered bytes
    // (text_fp) and token totals all hash-check downstream consumers.
    val manifest = packed
      .groupBy(col("pack_id"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(Dedup.hash48(col("pair_id").cast("string"))).as("id_fp"),
        sum(Dedup.hash48(md5(col("chat")))).as("text_fp"))
    (manifest, stats)
  }
}
