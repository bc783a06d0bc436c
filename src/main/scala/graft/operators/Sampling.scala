package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling and dataset splitting for training pipelines.
  *
  * Everything keys off the md5 of (salt, id) — never `rand()` — so samples
  * are reproducible across retries, speculative tasks, re-runs and engines
  * (the same discipline as the LSH planes / minhash permutations), and a
  * row's fate is a pure function of its id: adding data never reshuffles
  * prior membership, which is what makes train/test splits stable as the
  * corpus grows. Buckets are the first 4 md5 bytes as an unsigned 32-bit
  * value; a rate r keeps buckets < r * 2^32 (exact integer threshold).
  */
object Sampling {

  private val Buckets = 4294967296L // 2^32

  /** Unsigned 32-bit hash bucket of (salt, id). */
  def bucket(idCol: Column, salt: String): Column =
    graft.plans.Md5PrefixLong.md5PrefixLong(
      concat(lit(salt), lit(":"), idCol.cast("string")), 4)

  private def threshold(rate: Double): Long = math.round(rate * Buckets)

  /** Deterministic Bernoulli sample: keeps ~`rate` of rows, exactly the rows
    * whose bucket clears the integer threshold. Pure map-side filter — at
    * 100 TB it fuses into the scan and costs nothing.
    */
  def hashSample(df: DataFrame, idCol: String, rate: Double,
                 salt: String): DataFrame =
    df.filter(bucket(col(idCol), salt) < threshold(rate))

  /** Assign each row to a named split by cumulative fraction — e.g.
    * Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1). Fractions must sum to
    * ~1; the last split absorbs rounding. Adds a `split` column.
    */
  def splitAssign(df: DataFrame, idCol: String,
                  fractions: Seq[(String, Double)], salt: String): DataFrame = {
    require(fractions.nonEmpty && math.abs(fractions.map(_._2).sum - 1.0) < 1e-9,
      s"fractions must sum to 1, got $fractions")
    val b = bucket(col(idCol), salt)
    val cum = fractions.scanLeft(0.0)(_ + _._2).tail
    val splitCol = fractions.init.zip(cum.init) match {
      case Seq() => lit(fractions.last._1)
      case (first, c0) +: rest =>
        rest.foldLeft(when(b < threshold(c0), first._1)) {
          case (acc, ((name, _), c)) => acc.when(b < threshold(c), name)
        }.otherwise(fractions.last._1)
    }
    df.withColumn("split", splitCol)
  }

  /** LEAKAGE-SAFE split: assign train/val/test by CLUSTER, not by document
    * — every member of a near-dup cluster lands in the same split, so the
    * eval set can never contain a near-duplicate of a training document
    * (the contamination document-level splitting silently permits).
    * `labels` maps document ids to cluster labels (the
    * `Dedup.connectedComponents` output shape); documents absent from it
    * are singletons keyed by their own id. The split hash keys on the
    * cluster representative, so it inherits every determinism property of
    * [[splitAssign]] — and growing a cluster (new near-dups arriving) pulls
    * the new members into the EXISTING split rather than reshuffling.
    *
    * Scale shape: `labels` only contains docs that belong to some near-dup
    * pair — a small fraction of any deduplicated corpus — so the join
    * broadcasts; the split itself stays a map-side expression.
    */
  def splitAssignByCluster(df: DataFrame, idCol: String, labels: DataFrame,
                           labelIdCol: String, clusterCol: String,
                           fractions: Seq[(String, Double)],
                           salt: String): DataFrame = {
    // dedup defensively: a labels frame with duplicate (id, cluster) rows
    // (e.g. derived from pairs rather than connectedComponents output) must
    // not inflate the output row count — it is load-bearing for split writes
    val lab = labels.select(col(labelIdCol).as("__lid"),
      col(clusterCol).as("__cluster")).dropDuplicates("__lid")
    val keyed = df.join(broadcast(lab), col(idCol) === col("__lid"), "left")
      .withColumn("__rep", coalesce(col("__cluster"), col(idCol)))
    splitAssign(keyed, "__rep", fractions, salt)
      .drop("__lid", "__cluster", "__rep")
  }

  /** Weighted Bernoulli sample: each row survives with probability equal to
    * its own `weightCol` (clamped to [0, 1]) — quality-weighted corpus
    * downsampling, where high-quality documents keep (near-)certainty and
    * junk keeps a thin tail instead of a hard cutoff. Deterministic like
    * every sampler here: the row's fate is md5(salt, id) against
    * weight x 2^32, so re-runs and engines agree exactly. Map-side filter —
    * fuses into the scan.
    */
  def weightedSample(df: DataFrame, idCol: String, weightCol: String,
                     salt: String): DataFrame =
    df.filter(bucket(col(idCol), salt).cast("double") <
      least(greatest(col(weightCol).cast("double"), lit(0.0)), lit(1.0)) * Buckets)

  /** DSIR-style importance resampling (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): select the `k` raw
    * documents whose hashed n-gram feature distribution looks most like a
    * TARGET slice, by sampling with importance weights rather than hard
    * classification — the standard pretraining data-selection operator.
    *
    * Mechanics, each step engine-exact:
    *  1. Features: unigrams + bigrams hashed into `nBuckets` buckets
    *     (48-bit md5, the t7/d14 hash discipline).
    *  2. Bag-of-buckets models with add-one smoothing for the target slice
    *     (`isTarget` rows) and the raw pool (all rows); the per-bucket
    *     log-likelihood ratio ln(p_t(b)) - ln(p_r(b)) is integer MICRO-NATS
    *     from exact integer counts, so per-doc summation is order-free
    *     integer addition: logw_fp(d) = sum_b c_db x lr_fp(b).
    *  3. Gumbel top-k resampling, derandomized: the Gumbel noise is
    *     -ln(-ln(u)) in micro-nats with u = (md5bucket(salt:id)+0.5)/2^32 —
    *     an exact dyadic rational, so re-runs and engines draw identical
    *     noise. Sampling WITHOUT replacement ≡ top-k by
    *     key_fp = logw_fp + gumbel_fp (the Gumbel-max trick), ties broken
    *     by id.
    *
    * EVERY ln above is graft.plans.LnFp's deterministic INTEGER fixed-point
    * log (shift-and-square, no libm): round(ln(x)*1e6) via float ln is only
    * cross-engine stable when both libms agree to within each value's
    * distance from its rounding boundary, and this operator rolls 564+ such
    * dice per run — the round-10 gate caught a host DuckDB flipping one
    * (1.7e-4 margin on one bucket's ratio). With LnFp both engines compute
    * identical integers BY CONSTRUCTION (the oracle twin is a recursive CTE
    * over HUGEINT — CorpusQueries.sqlLog2Fp), removing libm from the
    * contract entirely.
    *
    * Scale shape: features shuffle as (did, bucket) pairs — 8-byte keys,
    * never text; bucket stats are nBuckets rows (broadcast); selection is
    * orderBy+limit ⇒ TakeOrderedAndProject (per-partition top-k, driver
    * merges k rows), never a single-partition sort.
    */
  def importanceResample(df: DataFrame, idCol: String, textCol: String,
                         isTarget: Column, nBuckets: Int, k: Int,
                         salt: String): DataFrame = {
    val uni = df.select(col(idCol).as("did"), isTarget.as("is_t"),
        explode(graft.operators.TextOps.words(col(textCol))).as("feat"))
      .filter(length(col("feat")) > 0)
      .select(col("did"), col("is_t"),
        (graft.operators.Dedup.hash48(col("feat")) % nBuckets).as("b"))
    // bigram features ride the native shingle-hash kernel (round 19): the
    // former per-row transform(sequence, i -> concat(w[i], ' ', w[i+1]))
    // evaluated its lambda INTERPRETED per window and built a gram String
    // per feature just to hash it — graft_shingle_hashes_all digests each
    // 2-word window's byte range in place (a window joined by single
    // spaces IS the contiguous range between its words — the §3b zero-copy
    // identity, multiplicity kept, size >= 2 guard built in;
    // PropertySpec pins kernel == wordShinglesAll + hash48)
    val bi = df.select(col(idCol).as("did"), isTarget.as("is_t"),
        explode(graft.plans.ShingleHashesLong
          .shingleHashesAll(col(textCol), 2, 6)).as("h"))
      .select(col("did"), col("is_t"), (col("h") % nBuckets).as("b"))
    val feats = uni.unionByName(bi)
    val cdb = feats.groupBy(col("did"), col("b")).agg(count(lit(1)).as("c"))
    val bc = feats.groupBy(col("b")).agg(count(lit(1)).as("rc"),
      sum(when(col("is_t"), 1L).otherwise(0L)).as("tc"))
    val tot = bc.agg(sum(col("rc")).as("rn"), sum(col("tc")).as("tn"))
    // two INDEPENDENT integer fixed-point lns — not one float ln of the
    // ratio of ratios — so each rounds from exact integer operands
    val lr = bc.crossJoin(broadcast(tot)).select(col("b"),
      (graft.plans.LnFpFunctions.lnMicro(
          col("tc") + lit(1L), col("tn") + lit(nBuckets.toLong))
        - graft.plans.LnFpFunctions.lnMicro(
          col("rc") + lit(1L), col("rn") + lit(nBuckets.toLong))).as("lr_fp"))
    val logw = cdb.join(broadcast(lr), Seq("b"))
      .groupBy(col("did")).agg(sum(col("c") * col("lr_fp")).as("logw_fp"))
    // featureless docs (empty text) carry weight 0, they still compete
    val all = df.select(col(idCol).as("did"))
      .join(logw, Seq("did"), "left")
      .withColumn("logw_fp", coalesce(col("logw_fp"), lit(0L)))
    all
      .withColumn("key_fp", col("logw_fp") +
        graft.plans.LnFpFunctions.gumbelMicro(bucket(col("did"), salt)))
      .orderBy(col("key_fp").desc, col("did").asc)
      .limit(k)
      // output is 100% integer: logw in nats is logw_fp / 1e6, derivable by
      // the caller — a float display column here would put one
      // round(double/1e6) back inside the engine-exact hashed contract
      .select(col("did"), col("logw_fp"), col("key_fp"))
  }

  /** Weighted EXACT-k sample per stratum, without replacement
    * (Efraimidis–Spirakis via the Gumbel-max identity): within each
    * stratum keep the k rows with the largest `ln(w) + Gumbel` key —
    * inclusion probability proportional to the integer weight, no
    * replacement, balanced strata. The quality-weighted version of
    * [[exactKPerStratum]], and the per-stratum form of
    * [[importanceResample]]'s selection stage (same derandomized Gumbel
    * draw, same libm-free integer fixed point — graft.plans.LnFp — so the
    * keys, and therefore the SAMPLE MEMBERSHIP, are bit-identical in any
    * engine implementing the integer recurrence).
    *
    * Rows with weight < 1 are excluded (probability-0 rows can never be
    * drawn under ∝w; integer weights are the exactness contract — scale
    * fractional weights up front). Scale shape: one ln + one Gumbel per
    * row (micro-seconds, never per pair), then a per-stratum rank window —
    * WindowGroupLimit keeps k rows per stratum BELOW the sort, so the
    * exchange carries k rows per (stratum, map partition).
    */
  def weightedKPerStratum(df: DataFrame, idCol: String, stratumCol: String,
                          weightCol: String, k: Int, salt: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, s"k must be >= 1, got $k")
    val keyed = df
      .select(col(stratumCol).as("stratum"), col(idCol).as("did"),
        col(weightCol).cast("long").as("w"))
      .filter(col("w") >= 1L)
      .withColumn("key_fp",
        graft.plans.LnFpFunctions.lnMicro(col("w"), lit(1L)) +
          graft.plans.LnFpFunctions.gumbelMicro(bucket(col("did"), salt)))
    val win = Window.partitionBy(col("stratum"))
      .orderBy(col("key_fp").desc, col("did").asc)
    keyed.withColumn("rank", row_number().over(win).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Per-key quota cap: keep at most `k` rows per `keyCol`, chosen by
    * `orderCol` asc (deterministic — never "first seen") — the per-domain /
    * per-source cap every crawl-derived corpus applies so one prolific
    * source can't dominate training data. One shuffle by key; the window
    * computes rank per key in parallel across keys, and skewed keys are
    * bounded by the cap itself downstream.
    */
  def capPerKey(df: DataFrame, keyCol: String, orderCol: String,
                k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol)).orderBy(col(orderCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k).drop("__rn")
  }

  /** Token-budget selection per source: keep each source's BEST documents
    * — ordered by `scoreCol` descending (ties: lowest id) — until the
    * running token total reaches `budgetTokens`; the first doc that crosses
    * the budget is KEPT (budgets are floors on useful data, not hard caps
    * — dropping the crossing doc could leave a source far under budget
    * when documents are long). The "take the best N tokens per domain"
    * selection step of a mixture-curated pre-training corpus — the
    * token-weighted upgrade of [[capPerKey]]'s row quota.
    *
    * Output adds `cum_tokens` (running total INCLUDING the row, within its
    * source's kept order) — the audit column a mixture report wants.
    *
    * Scale shape: the running sum is TWO-LEVEL (pk1's prefix-sum shape
    * with a score sort key) — a per-source-only window would funnel each
    * source's full document set through ONE task, and a handful of sources
    * IS the whole corpus at 100 TB. Instead: score-RANGE buckets (a
    * monotone map of the sort key, min/max-derived width), one
    * (source, bucket) token-sum aggregate, a driver-side exclusive scan in
    * DESCENDING bucket order (sources × buckets longs), then a
    * within-bucket running sum plus the broadcast base. Monotone bucketing
    * guarantees every row in bucket b+1 sorts strictly before every row in
    * bucket b (equal scores share a bucket), so base + local prefix IS the
    * per-source prefix. Score-range buckets are value-distribution-
    * dependent (unlike the md5 buckets of shuffleOrder) — a degenerate
    * all-one-score source collapses to one bucket, which is exactly the
    * per-key window it replaces, never worse. Determinism: the score
    * expression is a fixed IEEE tree (the t2 discipline) and the tiebreak
    * is total, so kept membership is engine-identical.
    */
  def tokenBudgetPerKey(df: DataFrame, keyCol: String, idCol: String,
                        tokenCol: String, scoreCol: String,
                        budgetTokens: Long, buckets: Int = 0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(budgetTokens >= 1, s"budget must be >= 1, got $budgetTokens")
    val nBuckets = if (buckets > 0) buckets else graft.core.BucketMath.defaultBuckets(df)
    // checkpoint-cut: the scored frame feeds two jobs (min/max + counts,
    // then the prefix join) — the shuffleOrder determinism contract.
    val cut = graft.core.Storage.cut(
      df.withColumn("__s", col(scoreCol).cast("double"))
        .withColumn("__t", col(tokenCol).cast("long")),
      eager = true)
    val mm = cut.agg(min(col("__s")), max(col("__s"))).head()
    if (mm.isNullAt(0))
      return cut.withColumn("cum_tokens", lit(0L)).drop("__s", "__t").limit(0)
    val (lo, hi) = (mm.getDouble(0), mm.getDouble(1))
    val span = hi - lo
    // floor((s-lo)/width) is monotone non-decreasing in s (IEEE subtraction
    // and positive division preserve order), clamped so s = hi lands in the
    // last bucket; span 0 (or non-finite) degenerates to one bucket.
    val kb =
      if (span > 0 && !span.isInfinity)
        least(floor((col("__s") - lit(lo)) / lit(span / nBuckets)),
          lit(nBuckets - 1.0)).cast("long")
      else lit(0L)
    val withB = cut.withColumn("__kb", kb)
    val keyField = withB.schema(keyCol)
    val bucketSums = withB.groupBy(col(keyCol), col("__kb"))
      .agg(sum(col("__t")).as("__n")).collect().map { r =>
        require(!r.isNullAt(0),
          s"$keyCol contains NULLs — a per-key token budget over them is undefined")
        (r.get(0), r.getLong(1), r.getLong(2))
      }
    // DESCENDING bucket order: the base of bucket b is the token mass of
    // every better-scoring bucket b' > b for that key.
    val bases = bucketSums.groupBy(_._1).toSeq.flatMap { case (k, bs) =>
      bs.sortBy(-_._2).scanLeft((k, Long.MinValue, 0L, 0L)) {
        case ((_, _, acc, n), (_, b, m)) => (k, b, acc + n, m)
      }.drop(1).map { case (k2, b, base, _) =>
        org.apache.spark.sql.Row(k2, b, base)
      }
    }
    val baseSchema = org.apache.spark.sql.types.StructType(Seq(
      keyField,
      org.apache.spark.sql.types.StructField(
        "__kb", org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField(
        "__base", org.apache.spark.sql.types.LongType, nullable = false)))
    val baseDf = df.sparkSession.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(bases).asJava), baseSchema)
    val w = Window.partitionBy(col(keyCol), col("__kb"))
      .orderBy(col("__s").desc, col(idCol).asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    withB.join(broadcast(baseDf), Seq(keyCol, "__kb"))
      .withColumn("cum_tokens", col("__base") + sum(col("__t")).over(w))
      .filter(col("cum_tokens") - col("__t") < budgetTokens)
      .drop("__s", "__t", "__kb", "__base")
  }

  /** EXACT target-proportion mixing: keep the LARGEST corpus whose stratum
    * shares match integer `weights` (shares w_s / sum(w)) — the "make the
    * mix 50% web / 20% code / 30% books" step stated as proportions, where
    * [[temperatureSample]] states it as a flattening exponent. The binding
    * stratum (smallest n_s·W/w_s) is kept near-fully; every other stratum
    * downsamples to match. All arithmetic is integer (T* = min_s
    * floor(n_s·W/w_s), k_s = floor(w_s·T* / W)), so the kept counts — and,
    * through the md5 rank, the exact membership — are engine-reproducible.
    * Strata outside `weights` are dropped (weight 0); a weighted stratum
    * with no rows zeroes the whole mix (fail-loud by construction: you
    * asked for a share of something that does not exist).
    *
    * Scale shape: the per-stratum rank is TWO-LEVEL (the shuffleOrder /
    * curriculumOrder prefix discipline) — a per-stratum-only window would
    * funnel each stratum through ONE task, and quotas here are
    * stratum-sized, so `WindowGroupLimit` cannot prune it. Instead: md5
    * range-buckets (uniform by construction — the md5 IS the rank key),
    * one (stratum, bucket) count aggregate whose driver-side exclusive
    * scan yields both the stratum totals for T* AND the per-bucket rank
    * bases, then a within-bucket window plus the broadcast base. Serial
    * state is strata × buckets longs; no task ever sorts more than one
    * bucket's slice.
    */
  def mixToWeights(df: DataFrame, idCol: String, stratumCol: String,
                   weights: Map[String, Long], salt: String,
                   buckets: Int = 0): DataFrame = {
    require(weights.nonEmpty && weights.values.forall(_ > 0),
      s"weights must be positive, got $weights")
    val wTotal = weights.values.sum
    val (ranked, counts) = strataMdRank(
      df.filter(col(stratumCol).isin(weights.keySet.toSeq: _*)),
      idCol, stratumCol, salt, buckets)
    val tStar = weights.map { case (s, w) =>
      counts.getOrElse(s, 0L) * wTotal / w
    }.min
    val quotas = weights.toSeq.map { case (s, w) => (s, w * tStar / wTotal) }
    val quotaDf = df.sparkSession.createDataFrame(quotas)
      .toDF(stratumCol, "__quota")
    ranked
      .join(broadcast(quotaDf), Seq(stratumCol))
      .filter(col("__rn") <= col("__quota"))
      .drop("__rn", "__quota")
  }

  /** Shared core of [[mixToWeights]] / [[epochMix]]: rank every row within
    * its stratum by (md5 bucket, id) WITHOUT a per-stratum window — the
    * two-level shuffleOrder/curriculumOrder prefix discipline (md5
    * range-buckets are uniform by construction since the md5 IS the rank
    * key; one (stratum, bucket) count aggregate, a driver-side ascending
    * exclusive scan for per-bucket bases, then a within-bucket window plus
    * the broadcast base — serial state is strata × buckets longs, no task
    * sorts more than one bucket's slice). Returns the input frame plus a
    * 1-based per-stratum `__rn`, and the per-stratum totals the callers'
    * quota arithmetic needs (free — they're the base scan's row sums).
    * The bucketed frame is checkpoint-cut: it feeds the count collect AND
    * the rank join (the shuffleOrder determinism contract).
    */
  private def strataMdRank(df: DataFrame, idCol: String, stratumCol: String,
                           salt: String, buckets: Int)
      : (DataFrame, Map[String, Long]) = {
    import org.apache.spark.sql.expressions.Window
    val nBuckets = if (buckets > 0) buckets else graft.core.BucketMath.defaultBuckets(df)
    val width = Buckets / nBuckets + 1
    val withB = graft.core.Storage.cut(
      df.withColumn("__sk", bucket(col(idCol), salt))
        .withColumn("__kb", (col("__sk") / width).cast("long")),
      eager = true)
    val bucketCounts = withB.groupBy(col(stratumCol), col("__kb"))
      .agg(count(lit(1)).as("__n"))
      .collect().map { r =>
        require(!r.isNullAt(0),
          s"$stratumCol contains NULLs — a per-stratum rank over them is undefined")
        (r.getString(0), r.getLong(1), r.getLong(2))
      }
    val counts = bucketCounts.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val bases = bucketCounts.groupBy(_._1).toSeq.flatMap { case (s, bs) =>
      bs.sortBy(_._2).scanLeft((s, Long.MinValue, 0L, 0L)) {
        case ((_, _, acc, n), (_, b, m)) => (s, b, acc + n, m)
      }.drop(1).map { case (s2, b, base, _) => (s2, b, base) }
    }
    val baseDf = df.sparkSession
      .createDataFrame(if (bases.isEmpty) Seq(("", -1L, 0L)) else bases)
      .toDF(stratumCol, "__kb", "__base")
      .filter(col("__kb") >= 0)
    val win = Window.partitionBy(col(stratumCol), col("__kb"))
      .orderBy(col("__sk"), col(idCol))
    val ranked = withB
      .join(broadcast(baseDf), Seq(stratumCol, "__kb"))
      .withColumn("__rn", col("__base") + row_number().over(win).cast("long"))
      .drop("__sk", "__kb", "__base")
    (ranked, counts)
  }

  /** Epoch-expansion mixing WITH REPLACEMENT: hit integer target shares
    * even when a weighted stratum has less data than its quota — the
    * data-constrained regime [[mixToWeights]] (which only ever keeps the
    * largest exactly-proportioned SUBSET) cannot express, and the standard
    * practice of LLM pretraining under data scarcity (epoch factors:
    * repeating data up to ~4 epochs is near-free, Muennighoff et al. 2023,
    * arXiv:2305.16264). Stratum s with weight w_s owes quota_s =
    * ⌊w_s · totalRows / W⌋ rows: every row repeats ⌊quota_s / n_s⌋ times
    * (full epochs) and the md5-rank top (quota_s mod n_s) rows carry one
    * extra copy — so Σ n_copies = quota_s EXACTLY, and the extra-copy
    * membership is salt-reproducible (a different salt rotates which rows
    * repeat, the epoch-boundary reshuffle). Rows outside `weights`, and
    * below-quota rows of strata with epochs = 0, drop out (n_copies 0
    * never ships). A weighted stratum with NO rows throws: a
    * with-replacement quota over nothing is unfillable, and silently
    * renormalizing would ship a different mix than the one stated.
    *
    * Output: the input columns plus `n_copies` (>= 1). Downstream shard
    * writers expand copies at export time (sequence + explode), keeping
    * this operator's shuffle at one row per kept document, not per copy.
    *
    * Scale shape: identical to [[mixToWeights]] — the shared
    * [[strataMdRank]] two-level rank plus one broadcast (stratum → epochs,
    * remainder) dim join; quota arithmetic is driver-side integers over
    * the stratum counts the rank pass already produced.
    */
  def epochMix(df: DataFrame, idCol: String, stratumCol: String,
               weights: Map[String, Long], totalRows: Long, salt: String,
               buckets: Int = 0): DataFrame = {
    require(weights.nonEmpty && weights.values.forall(_ > 0),
      s"weights must be positive, got $weights")
    require(totalRows >= 1, s"totalRows must be >= 1, got $totalRows")
    // BigInt END TO END: both the weight total and w·totalRows are
    // caller-controlled, and a long wrap at either step would silently
    // ship a wrong (or empty) mix; a quota past long range fails loud
    val wTotal = weights.values.map(BigInt(_)).sum
    val (ranked, counts) = strataMdRank(
      df.filter(col(stratumCol).isin(weights.keySet.toSeq: _*)),
      idCol, stratumCol, salt, buckets)
    val missing = weights.keySet.filter(s => counts.getOrElse(s, 0L) == 0L)
    require(missing.isEmpty,
      s"weighted strata with no rows: $missing — an epoch quota over nothing is unfillable")
    val plan = weights.toSeq.map { case (s, w) =>
      val quota = BigInt(w) * totalRows / wTotal
      require(quota.isValidLong,
        s"stratum $s quota $quota exceeds long range — lower totalRows")
      (s, quota.toLong / counts(s), quota.toLong % counts(s))
    }
    val planDf = df.sparkSession.createDataFrame(plan)
      .toDF(stratumCol, "__epochs", "__rem")
    ranked.join(broadcast(planDf), Seq(stratumCol))
      .withColumn("n_copies",
        col("__epochs") + when(col("__rn") <= col("__rem"), 1L).otherwise(0L))
      .filter(col("n_copies") >= 1L)
      .drop("__rn", "__epochs", "__rem")
  }

  /** Embargoed TEMPORAL split with entity-leakage annotation (the purged
    * time-series split, de Prado 2018 ch.7, applied to event data): train =
    * events before `trainEnd`, test = events at/after `testStart`, the
    * embargo gap in between DROPPED (labels computed near the boundary see
    * both sides — the gap is the purge), and every test row annotated
    * `cold_entity` — whether its entity has NO train events. Temporal
    * eval wants both populations, but separately: warm entities measure
    * forecasting, cold ones measure generalization; mixing them silently
    * is the leakage. Null entities have no identity and annotate cold.
    *
    * Scale shape: both cutoffs reach the scan (OR of two pushable range
    * predicates; nanos fixtures via NanosPredicatePushdown like p4); the
    * train-entity set is one map-side-combinable distinct, and the
    * annotation is one equi-join on the entity key (AQE broadcasts it
    * while small) — no window, no per-entity sort.
    */
  def temporalPurgedSplit(df: DataFrame, idCol: String, entityCol: String,
                          tsCol: String, trainEnd: java.sql.Timestamp,
                          testStart: java.sql.Timestamp): DataFrame = {
    require(!testStart.before(trainEnd),
      s"testStart $testStart must be >= trainEnd $trainEnd (the embargo gap)")
    val isTrain = col(tsCol) < lit(trainEnd)
    val trainEnt = df.filter(isTrain)
      .select(col(entityCol).as("__e")).distinct()
    df.filter(isTrain || col(tsCol) >= lit(testStart))
      .withColumn("split", when(isTrain, "train").otherwise("test"))
      .join(trainEnt, col(entityCol) === col("__e"), "left")
      .withColumn("cold_entity", col("split") === "test" && col("__e").isNull)
      .drop("__e")
  }

  /** Expand [[epochMix]] output into one row per COPY with a unique
    * per-copy key (`copy_key` = id "#" copy index) — the export step where
    * repetition becomes physical. Shuffle-order the result on `copy_key`
    * and a doc's copies land SPREAD across the permutation (repeats arrive
    * epochs apart, not back-to-back — the layout epoch-wise training
    * wants). One input row per kept doc fans out map-side (the explode
    * fuses into the scan); nothing shuffles here.
    */
  def expandCopies(mix: DataFrame, idCol: String): DataFrame =
    mix.withColumn("copy", explode(sequence(lit(1L), col("n_copies"))))
      .withColumn("copy_key",
        concat(col(idCol).cast("string"), lit("#"), col("copy").cast("string")))

  /** Per-stratum sampling rates (e.g. downsample dominant languages, keep
    * all of rare ones). Strata absent from `rates` get `defaultRate`.
    */
  def stratifiedSample(df: DataFrame, idCol: String, strataCol: String,
                       rates: Map[String, Double], defaultRate: Double,
                       salt: String): DataFrame = {
    val thr = rates.foldLeft[Column](lit(threshold(defaultRate))) {
      case (acc, (stratum, rate)) =>
        when(col(strataCol) === stratum, lit(threshold(rate))).otherwise(acc)
    }
    df.filter(bucket(col(idCol), salt) < thr)
  }

  /** Temperature-flattened source mixing (the multilingual-corpus sampling
    * rule of Conneau & Lample 2019, arXiv:1901.07291 §3.1, applied to
    * sources): sample source s with probability proportional to n_s^alpha
    * with alpha = 0.5 — big sources are downweighted, small sources
    * upweighted — targeting ~`targetFrac` of the corpus overall. Rates cap
    * at 1 (a small source can't yield more rows than it has; the realized
    * total then lands slightly under target — deliberate, no renormalization
    * pass).
    *
    * Float discipline: each source's weight sqrt(n_s) is rounded to integer
    * MICRO-units once, the weight total is an exact long sum (order-proof),
    * and each rate is one fixed-shape double expression from those integers,
    * truncated to an integer bucket threshold — so engine and oracle agree
    * exactly, like every sampler here. Scale shape: per-source counts are a
    * map-side-combinable groupBy, rates are a broadcast dim joined back, and
    * membership is the usual md5-bucket map-side filter.
    */
  def temperatureSample(df: DataFrame, idCol: String, srcCol: String,
                        targetFrac: Double, salt: String): DataFrame = {
    val counts = df.groupBy(col(srcCol))
      .agg(count(lit(1)).as("n_s"))
      .withColumn("w_fp", round(sqrt(col("n_s").cast("double")) * 1e6).cast("long"))
    // totals ride an unpartitioned window over the counts frame — source
    // cardinality is dimension-sized, and this drops the separate global
    // aggregate + crossJoin(broadcast) (one fewer job, same exact sums)
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy().rowsBetween(Long.MinValue, Long.MaxValue)
    val rates = counts
      .withColumn("n_tot", sum(col("n_s")).over(wAll))
      .withColumn("w_tot", sum(col("w_fp")).over(wAll))
      .select(col(srcCol),
        least(lit(1.0),
          lit(targetFrac) * col("n_tot").cast("double") * col("w_fp").cast("double") /
            (col("w_tot").cast("double") * col("n_s").cast("double"))).as("rate"))
    // floor, not a bare long cast: SQL engines differ on double->int cast
    // rounding (truncate vs round-to-nearest); floor is unambiguous
    df.join(broadcast(rates), Seq(srcCol))
      .filter(bucket(col(idCol), salt) < floor(col("rate") * Buckets).cast("long"))
  }

  /** Exactly `k` rows per stratum, deterministically: rank rows within each
    * stratum by (md5 bucket, id) and keep the first k — balanced eval-set
    * construction, where rate-based sampling ([[stratifiedSample]]) can't
    * promise exact counts on small strata. Stable under corpus growth in
    * the hash-order sense: a new row displaces at most one prior member of
    * its own stratum (rate samples share this; positional samples don't).
    *
    * Scale shape: one hash exchange on the stratum key; WindowGroupLimit
    * keeps k rows per stratum BEFORE the window sort's exchange, so the
    * shuffle carries ~k rows per stratum per map partition, not the corpus.
    */
  def exactKPerStratum(df: DataFrame, idCol: String, strataCol: String,
                       k: Int, salt: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(strataCol))
      .orderBy(bucket(col(idCol), salt), col(idCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .drop("__rn")
  }

  /** Cluster-balanced CORESET over an embedding column: spherical-kmeans
    * the corpus (Similarity.kmeansAssign — exact integer sum-centroids, so
    * clusters are bit-reproducible), then keep each cluster's `k` MOST
    * CENTRAL members (cosine-to-centroid desc, id tiebreak; zero-norm
    * vectors have NULL cosine and sort last). This is diversity-aware
    * subsampling: where [[hashSample]] keeps a uniform slice and
    * [[exactKPerStratum]] balances a LABELED stratum, a coreset balances
    * the corpus' own embedding-space modes — every cluster contributes its
    * k best exemplars regardless of cluster mass, so dominant modes can't
    * crowd the sample. (Representative selection, k-medoid-style; for
    * boundary coverage invert to cosine asc.)
    *
    * Output: (sid, cid, cosine, rank), rank <= k per cid.
    *
    * Scale shape: assignment is the shuffle-free broadcast array algebra of
    * kmeansAssign (`rounds` linear passes); selection is one hash exchange
    * on cid with WindowGroupLimit keeping k rows per cluster BEFORE the
    * sort's exchange — the [[exactKPerStratum]] posture, so the shuffle
    * carries ~k rows per cluster per map partition, never the corpus.
    */
  def coresetPerCluster(df: DataFrame, idCol: String, vecCol: String,
                        nClusters: Int, rounds: Int, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val assigned = Similarity.kmeansAssign(df, idCol, vecCol, nClusters, rounds)
    val w = Window.partitionBy(col("cid"))
      .orderBy(col("cosine").desc_nulls_last, col("sid").asc)
    assigned.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** CURRICULUM training order: a contiguous 0-based `pos` that walks the
    * stages in ascending `stageCol` order, md5-shuffled WITHIN each stage —
    * the curriculum-learning layout (easy/clean stages stream first, each
    * stage internally shuffled for i.i.d.-ness), with every determinism
    * property of [[shuffleOrder]] (md5-keyed, salt = epoch, re-derivable
    * from the salt alone). `stageCol` must be a non-null integer the caller
    * derives (quality band, difficulty bucket, source tier).
    *
    * Scale shape: the same two-level prefix discipline as [[shuffleOrder]],
    * with (stage, range-bucket) composite buckets — per-bucket totals, a
    * driver-side exclusive scan in (stage, bucket) order (stages x buckets
    * longs), and a within-bucket window. No single-task global sort at any
    * stage size.
    */
  def curriculumOrder(spark: org.apache.spark.sql.SparkSession, df: DataFrame,
                      idCol: String, stageCol: String, salt: String,
                      buckets: Int = 0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nBuckets = if (buckets > 0) buckets else graft.core.BucketMath.defaultBuckets(df)
    val width = Buckets / nBuckets + 1
    val withB = graft.core.Storage.cut(
      df.withColumn("__sk", bucket(col(idCol), salt))
        .withColumn("__stg", col(stageCol).cast("long"))
        .withColumn("__bkt", (col("__sk") / width).cast("long")),
      eager = true)
    val counts = withB.groupBy(col("__stg"), col("__bkt"))
      .agg(count(lit(1)).as("__n"))
      .collect().map { r =>
        require(!r.isNullAt(0) && !r.isNullAt(1),
          s"$idCol/$stageCol contain NULLs — a curriculum order over them is undefined")
        (r.getLong(0), r.getLong(1), r.getLong(2))
      }.sortBy(t => (t._1, t._2))
    if (counts.isEmpty) return df.withColumn("pos", lit(0L)).limit(0)
    val bases = counts.scanLeft(((Long.MinValue, Long.MinValue), 0L)) {
      case ((_, acc), (s, b, n)) => ((s, b), acc + n)
    }.sliding(2).collect { case Array((_, prev), ((s, b), _)) => (s, b, prev) }.toSeq
    val baseDf = spark.createDataFrame(bases).toDF("__stg", "__bkt", "__base")
    val w = Window.partitionBy(col("__stg"), col("__bkt"))
      .orderBy(col("__sk"), col(idCol))
    withB.join(broadcast(baseDf), Seq("__stg", "__bkt"))
      .withColumn("pos", col("__base") + row_number().over(w) - 1)
      .drop("__sk", "__stg", "__bkt", "__base")
  }

  /** TRAINING-SHARD export — the last mile of the curation pipeline: the
    * corpus lands on disk in [[shuffleOrder]]'s deterministic epoch
    * permutation, cut into fixed-size shards (`shard` = pos /
    * docsPerShard, so every shard but the last holds exactly
    * `docsPerShard` docs and shard order IS training order), written
    * partitioned by shard — each shard a replaceable partition, so a
    * failed export re-runs idempotently and a trainer streams shard k
    * without touching the others. Re-derivable from the salt alone
    * (different salt = a fresh epoch layout). Pair with [[shardManifest]]
    * for the integrity record.
    */
  def writeTrainingShards(df: DataFrame, idCol: String, salt: String,
                          docsPerShard: Long, path: String): Unit = {
    require(docsPerShard >= 1, s"docsPerShard must be >= 1, got $docsPerShard")
    // repartition on shard before the partitioned write: without it every
    // task holds rows of MANY shards, so N tasks x M shards small files
    // (the classic dynamic-partition explosion — fatal at millions of
    // shards); with it each shard's rows coalesce into one task = one
    // file. sortWithinPartitions(pos) makes that file's ROW order the
    // training order, so a trainer streams a shard front-to-back with no
    // sort of its own.
    shuffleOrder(df.sparkSession, df, idCol, salt)
      .withColumn("shard", (col("pos") / docsPerShard).cast("long"))
      .repartition(col("shard"))
      .sortWithinPartitions(col("pos"))
      .write.mode("overwrite").partitionBy("shard").parquet(path)
  }

  /** Manifest of a [[writeTrainingShards]] export, computed from the
    * LANDED files (a storage round-trip, not the writer's intent): per
    * shard, doc count, total `weightCol` (tokens/chars — the budget a
    * training schedule consumes) and an ORDER-INSENSITIVE id fingerprint
    * (sum of 48-bit md5 prefixes — verifiable without re-deriving the
    * permutation; 48-bit values sum safely in a long at any shard size).
    * One aggregate over the shard partitions; shard-count-sized output.
    */
  def shardManifest(spark: org.apache.spark.sql.SparkSession, path: String,
                    idCol: String, weightCol: String): DataFrame =
    spark.read.parquet(path)
      .groupBy(col("shard").cast("long").as("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col(weightCol).cast("long")).as("n_tokens"),
        sum(graft.operators.Dedup.hash48(col(idCol).cast("string")))
          .as("id_fp"))

  /** Deterministic global shuffle order for training: every row gets a
    * contiguous 0-based `pos` by (md5 bucket, id) — the reproducible
    * "shuffle the corpus before training" step, stable across retries,
    * engines and re-runs, and resumable (a checkpointed trainer re-derives
    * the exact order from the salt alone). Different `salt` = a fresh epoch
    * permutation.
    *
    * Scale shape: a naive ROW_NUMBER() OVER (ORDER BY hash) pulls the whole
    * corpus through ONE task. Here the rank is two-level (the Packing
    * prefix-sum pattern): hash-value-derived buckets (uniform by
    * construction — the hash IS the shuffle), per-bucket counts, a
    * driver-side exclusive scan of those counts (dimension-sized), then a
    * per-bucket window rank plus the broadcast base. Every heavy step is
    * parallel; serial state is one long per bucket.
    */
  def shuffleOrder(spark: org.apache.spark.sql.SparkSession, df: DataFrame,
                   idCol: String, salt: String, buckets: Int = 0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nBuckets = if (buckets > 0) buckets else graft.core.BucketMath.defaultBuckets(df)
    val width = Buckets / nBuckets + 1
    // checkpoint-cut: the bucketed frame is executed TWICE (the driver-side
    // count collect below, then the final join) — without a materialization
    // a non-deterministic input (fresh uuids, a re-listed object store)
    // could change between the two jobs and make `pos` silently
    // non-contiguous. The leaf stays for the result plan; the session sweep
    // (Storage.freeAll between queries) reclaims it.
    val withB = graft.core.Storage.cut(
      df.withColumn("__sk", bucket(col(idCol), salt))
        .withColumn("__bkt", (col("__sk") / width).cast("long")),
      eager = true)
    val counts = withB.groupBy(col("__bkt")).agg(count(lit(1)).as("__n"))
      .collect().map { r =>
        require(!r.isNullAt(0),
          s"$idCol contains NULLs — a shuffle order over them is undefined; " +
            "filter or key-fill upstream")
        r.getLong(0) -> r.getLong(1)
      }.sortBy(_._1)
    if (counts.isEmpty) return df.withColumn("pos", lit(0L)).limit(0)
    val bases = counts.scanLeft((Long.MinValue, 0L)) {
      case ((_, acc), (b, n)) => (b, acc + n)
    }.sliding(2).collect { case Array((_, prev), (b, _)) => (b, prev) }.toSeq
    val baseDf = spark.createDataFrame(bases).toDF("__bkt", "__base")
    val w = Window.partitionBy(col("__bkt")).orderBy(col("__sk"), col(idCol))
    withB.join(broadcast(baseDf), Seq("__bkt"))
      .withColumn("pos", col("__base") + row_number().over(w) - 1)
      .drop("__sk", "__bkt", "__base")
  }

  /** MIX CONCENTRATION of a keyed corpus — Simpson's index (the
    * probability two random rows share a key, drawn without replacement:
    * D = Σ nᵢ(nᵢ−1) / (N(N−1)) — an exact RATIONAL, unlike Shannon
    * entropy) and its reciprocal, the "effective number of keys" a
    * balanced mix would need. The one-row concentration dial a source/
    * language mix review reads before re-weighting: D → 1 means one key
    * dominates; effective_keys ≪ n_keys quantifies how lopsided.
    *
    * Exactness: pair counts ride DECIMAL(38,0) (N² overflows a long at
    * ~3·10^9 rows) and each output is ONE double division of exact
    * integers, round-6, NULL when N < 2 (no pairs to draw). One keyed
    * count + a one-row aggregate — map-side-combinable end to end.
    */
  def mixConcentration(df: DataFrame, keyCol: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val totals = df.groupBy(col(keyCol)).agg(count(lit(1)).as("__n"))
      .agg(sum(col("__n")).as("n_rows"), count(lit(1)).as("n_keys"),
        sum(col("__n").cast(dec) * (col("__n") - 1L).cast(dec)).as("__pairs"))
    val allPairs = totals("n_rows").cast(dec) *
      (totals("n_rows") - 1L).cast(dec)
    totals.select(col("n_rows"), col("n_keys"),
      round(col("__pairs").cast("double") /
        nullif(allPairs.cast("double"), lit(0.0)), 6).as("simpson"),
      round(allPairs.cast("double") /
        nullif(col("__pairs").cast("double"), lit(0.0)), 6)
        .as("effective_keys"))
  }
}
