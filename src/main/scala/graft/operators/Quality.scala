package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Dataset-level profiling and data-quality gates — the observability
  * operators that run beside every production pipeline (the reference has
  * none; bad rows silently vanish through its coerce-and-drop hygiene).
  */
object Quality {

  /** Column profile, one OUTPUT ROW PER COLUMN: row count, null count,
    * exact distinct count, min/max rendered as strings.
    *
    * Shape (round 19): one branch per column — a hash aggregate to the
    * column's DISTINCT values (carrying each value's row count), then a
    * distinct-sized rollup for the counts and min/max. The former
    * single-pass multi-distinct form planned an Expand (k copies of every
    * row) feeding a SORT aggregate — `min(col)` over a string column's raw
    * rows keeps a var-length buffer no hash aggregate supports, so the
    * whole expanded input was sorted (profiled at 70% of dp1's wall). Here
    * the row-count-sized step is a plain hash aggregate (the exchange
    * carries |distinct| rows per column), and the only sort aggregate left
    * runs over the distinct values. Each branch's scan is pruned to its
    * own column — k single-column passes read the same bytes one 3-column
    * pass did.
    */
  def profile(df: DataFrame, columns: Seq[String]): DataFrame = {
    require(columns.nonEmpty, "at least one column")
    columns.map { c =>
      df.groupBy(col(c).as("__v")).agg(count(lit(1)).as("__c"))
        .agg(
          coalesce(sum(col("__c")), lit(0L)).as("n_rows"),
          coalesce(sum(when(col("__v").isNull, col("__c"))), lit(0L))
            .as("n_nulls"),
          count(when(col("__v").isNotNull, 1)).as("n_distinct"),
          min(col("__v")).cast("string").as("min_s"),
          max(col("__v")).cast("string").as("max_s"))
        .select(lit(c).as("column"), col("n_rows"), col("n_nulls"),
          col("n_distinct"), col("min_s"), col("max_s"))
    }.reduce(_ unionByName _)
  }

  /** Distribution-drift gate between two ingestion runs (dq3 — VERDICT r8
    * ask #7): dq1 gates ROWS, dq2 gates the SCHEMA; this gates the SHAPE of
    * the data. Per monitored column it compares `ref` (the accepted prior
    * run) against `cur` (the candidate run) two ways:
    *
    *  - HISTOGRAM drift: total-variation distance between the two bucket
    *    distributions, computed entirely in exact integers — the per-bucket
    *    term is |c_ref * n_cur - c_cur * n_ref| (counts cross-scaled to the
    *    common denominator n_ref * n_cur), summed as decimal(38,0) so the
    *    arithmetic stays exact past 10^12-row runs, and
    *    TV = sum / (2 * n_ref * n_cur). The gate boolean compares integers
    *    (1000 * sum <= maxTvPermille * 2 * n_ref * n_cur), so both engines
    *    compute the identical bit — the ApproxOps accuracy-contract
    *    discipline; `tv` itself is one deterministic double division for
    *    human eyes.
    *  - DISTINCT-cardinality drift: the deterministic bottom-k KMV estimate
    *    (md5-derived 48-bit hashes, the ax3 machinery) on each side;
    *    the gate fires when cardinality halves or doubles.
    *
    * `drift_ok` = TV within budget AND cardinality within 2x. One output
    * row per column: (column, n_ref, n_cur, l1_x2, tv, kmv_ref, kmv_cur,
    * drift_ok).
    *
    * Scale shape: per column, each side is one map-side-combinable groupBy
    * on a BOUNDED bucket id (caller supplies the bucketing expression —
    * fixed-width for numerics, identity for categoricals), the drift join
    * is bucket-cardinality-sized, and the KMV sketch is a
    * TakeOrderedAndProject over distinct 8-byte hashes (k longs of state).
    * Nothing corpus-sized crosses an exchange, so the gate costs two scans
    * per column regardless of run size.
    */
  def distributionDrift(ref: DataFrame, cur: DataFrame,
                        cols: Seq[(String, Column, Column)],
                        maxTvPermille: Int = 100, k: Int = 64): DataFrame = {
    require(cols.nonEmpty, "at least one (name, bucket, kmvValue) column")
    require(maxTvPermille > 0 && maxTvPermille <= 1000,
      s"maxTvPermille must be in (0, 1000], got $maxTvPermille")
    require(k >= 2, s"k must be >= 2, got $k")
    val dec = "decimal(18,0)"
    cols.map { case (name, bucket, kmvVal) =>
      def hist(df: DataFrame, side: String): DataFrame = df
        .select(coalesce(bucket.cast("string"), lit("<null>")).as("b"))
        .groupBy(col("b")).agg(count(lit(1)).as(s"c_$side"))
      val j = hist(ref, "ref").join(hist(cur, "cur"), Seq("b"), "full_outer")
        .select(coalesce(col("c_ref"), lit(0L)).as("cr"),
          coalesce(col("c_cur"), lit(0L)).as("cc"))
      val tot = j.agg(sum(col("cr")).as("nr"), sum(col("cc")).as("nc"))
      val l1 = j.crossJoin(broadcast(tot))
        .select(abs(col("cr").cast(dec) * col("nc").cast(dec) -
          col("cc").cast(dec) * col("nr").cast(dec)).as("term"))
        .agg(sum(col("term")).as("l1x2"))
      // deterministic bottom-k KMV per side (the ax3/kmvUnionIntersect
      // shape: distinct 48-bit hashes, TakeOrderedAndProject, k-th min)
      def sk(df: DataFrame, side: String): DataFrame = df
        .select(Dedup.hash48(kmvVal).as("h")).distinct()
        .orderBy(col("h")).limit(k)
        .agg(count(lit(1)).as(s"skn_$side"), max(col("h")).as(s"kth_$side"))
      def est(side: String): Column =
        when(col(s"skn_$side") < k, col(s"skn_$side").cast("double"))
          .otherwise(lit((k - 1).toDouble * 281474976710656.0) /
            col(s"kth_$side").cast("double"))
      // exact integer gate: 1000 * l1x2 <= 2 * maxTvPermille * nr * nc.
      // Magnitude bound (documented, ANSI fails loud past it): the products
      // stay inside decimal(38,0) up to ~1e16 rows per side
      // (2e3 * nr * nc <= 1e38) — past that, pre-aggregate or sample before
      // gating. An empty side can NEVER pass: the n > 0 guards below short-
      // circuit drift_ok to false instead of a null (empty-sum) comparison
      // leaking through as a non-boolean gate.
      val nr0 = coalesce(col("nr"), lit(0L))
      val nc0 = coalesce(col("nc"), lit(0L))
      val tvOk = col("l1x2") * lit(1000L).cast(dec) <=
        lit(2L * maxTvPermille).cast(dec) * col("nr").cast(dec) * col("nc").cast(dec)
      val kmvOk = est("cur") * lit(2.0) >= est("ref") &&
        est("cur") <= est("ref") * lit(2.0)
      l1.crossJoin(broadcast(tot))
        .crossJoin(broadcast(sk(ref, "ref"))).crossJoin(broadcast(sk(cur, "cur")))
        .select(lit(name).as("column"),
          nr0.as("n_ref"), nc0.as("n_cur"),
          col("l1x2").cast("double").as("l1_x2"),
          (col("l1x2").cast("double") /
            (lit(2.0) * col("nr").cast("double") * col("nc").cast("double"))).as("tv"),
          est("ref").as("kmv_ref"), est("cur").as("kmv_cur"),
          (nr0 > 0 && nc0 > 0 && tvOk && kmvOk).as("drift_ok"))
    }.reduce(_.unionByName(_))
  }

  /** Expectation gate: named boolean predicates evaluated per row, violation
    * counts per rule in ONE pass (conditional counts over a single scan —
    * adding rules costs columns, not jobs). One output row per rule:
    * (rule, n_violations, violation_rate).
    */
  def expect(df: DataFrame, rules: Seq[(String, Column)]): DataFrame = {
    require(rules.nonEmpty, "at least one rule")
    val aggs = rules.map { case (name, pred) =>
      count(when(!coalesce(pred, lit(false)), 1)).as(s"__v_$name")
    }
    // single aggregate row unpivoted by struct explode — a union of
    // per-rule projections would re-evaluate the aggregation (and re-scan)
    // once per rule
    df.agg(count(lit(1)).as("__n"), aggs: _*)
      .select(col("__n"),
        explode(array(rules.map { case (name, _) => struct(
          lit(name).as("rule"),
          col(s"__v_$name").as("n_violations"))
        }: _*)).as("r"))
      .select(col("r.rule"), col("r.n_violations"),
        (col("r.n_violations").cast("double") /
          greatest(col("__n").cast("double"), lit(1.0))).as("violation_rate"))
  }

  /** Referential-integrity audit (the dbt-style relationship test): per
    * named (child key → parent key) relationship, the child row count, how
    * many child keys are NULL (unlinkable, reported separately — they are
    * a different bug than a dangling reference), and how many NON-NULL
    * child keys have no parent row (orphans). One row per relationship;
    * all-zero orphans = the warehouse joins are safe to take.
    *
    * Scale shape: each relationship is one left-anti join shuffling only
    * the 8-byte key columns (child projects its key in-scan, parent its
    * key — AQE splits a skewed hot key), plus one map-side-combinable
    * count pass; the two one-row aggregates meet in a broadcast scalar
    * attach. Relationships are independent subtrees — Spark schedules
    * them concurrently under the union.
    */
  def referentialIntegrity(
      rels: Seq[(String, DataFrame, String, DataFrame, String)]): DataFrame = {
    require(rels.nonEmpty, "at least one relationship")
    rels.map { case (name, child, childKey, parent, parentKey) =>
      val keys = child.select(col(childKey).as("__k"))
      val stats = keys.agg(count(lit(1)).as("n_child"),
        sum(when(col("__k").isNull, 1L).otherwise(0L)).as("n_null_keys"))
      val orphans = keys.filter(col("__k").isNotNull)
        .join(parent.select(col(parentKey).as("__pk")),
          col("__k") === col("__pk"), "left_anti")
        .agg(count(lit(1)).as("n_orphans"))
      stats.crossJoin(broadcast(orphans))
        .select(lit(name).as("relationship"), col("n_child"),
          col("n_null_keys"), col("n_orphans"))
    }.reduce(_ unionByName _)
  }

  /** UNIQUE-key audit (the dbt `unique` test, [[referentialIntegrity]]'s
    * sibling): per named (table, key columns) rule, the row count,
    * distinct-key count, how many keys occur more than once and how many
    * EXTRA rows those duplicates carry (the rows a dedup would remove).
    * NULL key values count as ordinary values (a duplicated NULL key is
    * still a duplicate). One map-side-combinable count per rule, then a
    * one-row rollup — key-cardinality shuffle only.
    */
  def uniqueKeys(rules: Seq[(String, DataFrame, Seq[String])]): DataFrame = {
    require(rules.nonEmpty, "at least one rule")
    rules.map { case (name, df, keys) =>
      require(keys.nonEmpty, s"rule $name needs at least one key column")
      df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("__n"))
        .agg(sum(col("__n")).as("n_rows"), count(lit(1)).as("n_keys"),
          sum(when(col("__n") > 1L, 1L).otherwise(0L)).as("n_dup_keys"),
          sum(when(col("__n") > 1L, col("__n") - 1L).otherwise(0L))
            .as("n_extra_rows"))
        .select(lit(name).as("rule"), col("n_rows"), col("n_keys"),
          col("n_dup_keys"), col("n_extra_rows"))
    }.reduce(_ unionByName _)
  }

  /** Schema-drift report: compare a frame's ACTUAL schema against an
    * expected StructType and emit one row per divergence — `added` (column
    * the contract doesn't know), `missing` (contract column absent),
    * `type_changed`, `nullability_relaxed` (contract says required, data
    * says nullable — the only nullability direction that breaks a
    * consumer). Empty result = contract holds. Purely metadata — NO job
    * runs, so it gates an ingest before any bytes are read; pair with
    * [[expect]] for value-level rules.
    */
  def schemaDrift(df: DataFrame,
                  expected: org.apache.spark.sql.types.StructType): DataFrame = {
    import df.sparkSession.implicits._
    val actual = df.schema
    val a = actual.map(f => f.name -> f).toMap
    val e = expected.map(f => f.name -> f).toMap
    val drifts =
      actual.filterNot(f => e.contains(f.name))
        .map(f => ("added", f.name, f.dataType.simpleString, null: String)) ++
      expected.filterNot(f => a.contains(f.name))
        .map(f => ("missing", f.name, null: String, f.dataType.simpleString)) ++
      expected.flatMap { ef =>
        a.get(ef.name).toSeq.flatMap { af =>
          val typeDrift =
            if (af.dataType != ef.dataType)
              Seq(("type_changed", ef.name, af.dataType.simpleString,
                ef.dataType.simpleString))
            else Nil
          val nullDrift =
            if (af.nullable && !ef.nullable)
              Seq(("nullability_relaxed", ef.name, "nullable", "required"))
            else Nil
          typeDrift ++ nullDrift
        }
      }
    drifts.toDF("drift", "column", "actual", "expected")
  }

  /** Incremental aggregate maintenance (additive IVM): combine a persisted
    * per-key (sum, count) aggregate with the same aggregate of a new delta
    * batch, WITHOUT touching the base fact table — the materialized-view
    * refresh path. Exact because the partials are algebraic: decimal sums
    * and counts combine per key under any arrival order, so
    * refresh(agg(old), agg(delta)) == agg(old U delta) — which is exactly
    * what the oracle checks. Both inputs carry (keys..., sumCol, cntCol).
    */
  def refreshSumCount(base: DataFrame, delta: DataFrame, keys: Seq[String],
                      sumCol: String, cntCol: String): DataFrame =
    base.unionByName(delta)
      .groupBy(keys.map(col): _*)
      .agg(ExactAgg.sumExact(col(sumCol)).as(sumCol),
        sum(col(cntCol)).as(cntCol))

  /** Robust per-key outlier gate: median/MAD (median absolute deviation)
    * flagging — the outlier detector that mean/stddev gates get wrong,
    * because one extreme value drags the mean AND inflates the stddev until
    * the gate stops firing; the median/MAD pair has a 50% breakdown point.
    * Per key: exact median, exact MAD, the count of values beyond
    * `nSigma` x MAD of the median, and a boolean gate on the outlier
    * fraction — the dq1/dq3 posture (exact anchors + an oracle-assertable
    * verdict).
    *
    * Determinism: interpolated percentiles of identical doubles are
    * IEEE-identical across engines (the a8 discipline), and every
    * comparison happens on the raw values — rounding is display-only.
    *
    * Scale shape: three passes (median -> MAD -> count), each a map-side-
    * combinable aggregate with key-count-sized results broadcast back —
    * the honest cost of exact order statistics; swap percentile_approx in
    * per the ax2 contract when a single pass matters more than exactness.
    */
  def madOutlierGate(df: DataFrame, keyCol: String, valCol: String,
                     nSigma: Double, maxOutlierFrac: Double): DataFrame = {
    val med = df.groupBy(col(keyCol))
      .agg(expr(s"percentile($valCol, 0.5)").as("med"))
    val ad = df.join(broadcast(med), Seq(keyCol))
      .withColumn("__ad", abs(col(valCol).cast("double") - col("med")))
    val mad = ad.groupBy(col(keyCol))
      .agg(expr("percentile(__ad, 0.5)").as("mad"))
    ad.join(broadcast(mad), Seq(keyCol))
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"), max(col("med")).as("__med"),
        max(col("mad")).as("__mad"),
        sum(when(col("__ad") > lit(nSigma) * col("mad"), 1L).otherwise(0L))
          .as("n_outliers"))
      .select(col(keyCol), col("n"), round(col("__med"), 6).as("med"),
        round(col("__mad"), 6).as("mad"), col("n_outliers"),
        round(col("n_outliers").cast("double") / col("n").cast("double"), 6)
          .as("outlier_frac"),
        (col("n_outliers").cast("double") / col("n").cast("double")
          <= maxOutlierFrac).as("gate_ok"))
  }

  /** The ONE funnel gate parameterization (Gopher rule constants) shared
    * by every funnel-family operator — [[curationFunnel]],
    * [[curationFunnelNovelty]] and [[rejectionReasons]] reconcile count-
    * for-count ONLY while they gate identically, so the tuple lives once.
    */
  private def funnelGopherKeep(textCol: String): org.apache.spark.sql.Column =
    TextOps.gopherRules(col(textCol), 30L, 10000L, 4.0, 5.0, 2L)._4

  /** Curation-funnel report: the survivor count of each stage of the
    * standard pre-training filter chain — Gopher rule gate
    * ([[TextOps.gopherRules]]), quality-score threshold
    * ([[TextOps.qualityScore]]), and fingerprint dedup
    * ([[TextOps.fingerprint]] canonicals) — applied SEQUENTIALLY, as ONE
    * row of monotone non-increasing counts. The funnel is the first
    * artifact a curation run reports (how much did each gate cost?);
    * keeping it one deterministic row keeps it oracle-checkable.
    *
    * Scale shape: every stage predicate is per-row Column algebra, so all
    * four counts come from ONE aggregation over ONE scan (the dp1/dq1
    * discipline) — n_unique is a conditional COUNT(DISTINCT md5), so only
    * 32-char fingerprint keys of quality survivors ride the distinct
    * exchange. No stage materializes an intermediate corpus.
    */
  def curationFunnel(docs: DataFrame, idCol: String, textCol: String,
                     minQuality: Double): DataFrame = {
    val keep = funnelGopherKeep(textCol)
    val staged = docs.select(
      keep.as("g"),
      (keep && TextOps.qualityScore(col(textCol)) >= minQuality).as("gq"),
      TextOps.fingerprint(col(textCol)).as("fp"))
    staged.agg(
      count(lit(1)).as("n_input"),
      sum(when(col("g"), 1L).otherwise(0L)).as("n_gopher"),
      sum(when(col("gq"), 1L).otherwise(0L)).as("n_quality"),
      countDistinct(when(col("gq"), col("fp"))).as("n_unique"))
  }

  /** [[curationFunnel]] extended with a NOVELTY stage: the local gates
    * (Gopher rules, quality threshold, keep-first fingerprint dedup) prune
    * the corpus FIRST, then [[Dedup.ngramNovelty]] — a corpus-wide
    * first-holder reduce — runs over the SURVIVORS ONLY, and the final
    * count keeps docs whose novelty clears `minNovelty`. One extra column:
    * n_novel (docs among the unique survivors with novelty >= minNovelty;
    * gramless survivors have NULL novelty and never count).
    *
    * This stage ordering is the funnel's scale argument, made explicit:
    * the per-row gates fuse into one scan (fn1's shape) and the expensive
    * global operator pays for the PRUNED set — at 100 TB the difference
    * between "novelty over everything" and "novelty over the quality
    * survivors" is the dominant cost line of the whole chain. Dedup before
    * novelty also keeps the first-holder credit meaningful: exact copies
    * are gone, so low novelty now flags REWORDED or quoted content, not
    * byte-dups.
    */
  def curationFunnelNovelty(docs: DataFrame, idCol: String, textCol: String,
                            minQuality: Double, n: Int,
                            minNovelty: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keep = funnelGopherKeep(textCol)
    val staged = docs.select(
      col(idCol).as("sid"), col(textCol).as("text"),
      keep.as("g"),
      (keep && TextOps.qualityScore(col(textCol)) >= minQuality).as("gq"),
      TextOps.fingerprint(col(textCol)).as("fp"))
    // keep-first per fingerprint among quality survivors — the d1/d2
    // canonical rule (minimum id wins), materialized because the novelty
    // stage needs the survivor DOCUMENTS, not just their count
    val unique = staged.filter(col("gq"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("fp")).orderBy(col("sid"))))
      .filter(col("rn") === 1)
      .select(col("sid"), col("text"))
    val novel = Dedup.ngramNovelty(unique, "sid", "text", n)
      .agg(coalesce(sum(when(col("novelty") >= minNovelty, 1L).otherwise(0L)),
        lit(0L)).as("n_novel")) // empty survivor set reports 0, not NULL
    staged.agg(
        count(lit(1)).as("n_input"),
        sum(when(col("g"), 1L).otherwise(0L)).as("n_gopher"),
        sum(when(col("gq"), 1L).otherwise(0L)).as("n_quality"),
        countDistinct(when(col("gq"), col("fp"))).as("n_unique"))
      .crossJoin(broadcast(novel))
  }

  /** Curation DASHBOARD CUBE: per (lang, source) — plus each one-dim
    * rollup and the grand total — document/token counts and the funnel
    * survival ladder (Gopher pass, quality pass, distinct fingerprints
    * among survivors), ALL from one scan + one grouping-sets aggregate.
    * This is the mixing-weight dashboard a curation run publishes: which
    * language x source cells carry the tokens, and how much survives each
    * gate. Rolled-up dimensions render as `<all>` so the contract is
    * NULL-free.
    *
    * Scale shape: the cube is Spark's Expand over one scan (4 grouping
    * sets x rows map-side, then one combinable aggregate keyed by
    * |langs| x |sources| — dashboard-sized). The only distinct is the
    * fingerprint count, quality-survivor keys only.
    */
  def curationCube(docs: DataFrame, textCol: String, langCol: String,
                   sourceCol: String, minQuality: Double): DataFrame = {
    val keep = funnelGopherKeep(textCol)
    val staged = docs.select(
      col(langCol).as("lang"), col(sourceCol).as("source"),
      TextOps.wsTokenCount(col(textCol)).cast("long").as("n_tok"),
      keep.as("g"),
      (keep && TextOps.qualityScore(col(textCol)) >= minQuality).as("gq"),
      TextOps.fingerprint(col(textCol)).as("fp"))
    staged.cube(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"),
        sum(when(col("g"), 1L).otherwise(0L)).as("n_gopher"),
        sum(when(col("gq"), 1L).otherwise(0L)).as("n_quality"),
        countDistinct(when(col("gq"), col("fp"))).as("n_unique"))
      .select(coalesce(col("lang"), lit("<all>")).as("lang"),
        coalesce(col("source"), lit("<all>")).as("source"),
        col("n_docs"), col("n_tokens"), col("n_gopher"), col("n_quality"),
        col("n_unique"))
  }

  /** Exact ROC-AUC per group — "did the quality classifier actually
    * separate curated from crawl?" answered as one integer ratio per
    * language, the eval every filter deployment (GPT-3's curated-vs-crawl
    * gate, CCNet's LM filter) needs before its threshold goes live.
    *
    * AUC via the Mann-Whitney rank-sum identity with midrank tie handling:
    * AUC = (Σ_pos R − P(P+1)/2) / (P·N). Half-integer midranks are avoided
    * by DOUBLING ranks: for each distinct score s with t total rows, p of
    * them positive, and C rows strictly below, the doubled rank-sum
    * contribution is p·(2C + t + 1) — an integer. Output per group:
    * `pos`, `neg`, and the exact fraction `auc_num` = 2ΣR − P(P+1),
    * `auc_den` = 2PN (AUC = num/den; den = 0 when a group is one-sided).
    * Products run in decimal(38,0) — p·(2C+t+1) is corpus² at a fully-tied
    * score, past long range at 100 TB. Null labels count as negative; the
    * score must be an integral fixed-point (the t22/lm4 scorer contract).
    *
    * Scale shape: ranks never materialize per row — the sufficient
    * statistic is the (group, score) tie-group table, and the strictly-
    * below count C is a prefix sum over it, built TWO-LEVEL (the
    * tokenBudgetPerKey discipline): score-range buckets (integer width,
    * monotone, equal scores share a bucket), one (group, bucket) count
    * whose driver-side ascending exclusive scan gives per-bucket bases
    * (groups × buckets longs), then a within-bucket window plus the
    * broadcast base. A per-group-only window would funnel each group's
    * distinct scores — per-doc-unique for a dense scorer — through ONE
    * task, and a handful of languages IS the corpus at 100 TB.
    */
  def rocAuc(scored: DataFrame, groupCol: String, labelCol: String,
             scoreCol: String, buckets: Int = 0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val nBuckets =
      if (buckets > 0) buckets else graft.core.BucketMath.defaultBuckets(scored)
    // tie-group sufficient statistics; checkpoint-cut — feeds min/max, the
    // bucket-count collect AND the final pass (the tokenBudgetPerKey
    // determinism contract: one materialization, three readers)
    val g = graft.core.Storage.cut(
      scored.groupBy(col(groupCol).as("__g"),
          col(scoreCol).cast("long").as("__s"))
        .agg(count(lit(1)).as("__t"),
          sum(when(col(labelCol), 1L).otherwise(0L)).as("__p")),
      eager = true)
    val mm = g.agg(min(col("__s")), max(col("__s"))).head()
    if (mm.isNullAt(0)) {
      // min skips nulls, so a null min means EITHER no rows OR all scores
      // null — the latter must hit the same fail-loud contract as a
      // partial-null input, not silently return an empty frame
      if (!g.isEmpty) {
        graft.core.Storage.freeCheckpoint(g)
        throw new IllegalArgumentException(
          s"$scoreCol contains NULLs — an unscored row has no rank; " +
            "filter or score upstream")
      }
      val empty = g.select(col("__g").as(groupCol), col("__t").as("pos"),
        col("__t").as("neg"), col("__t").cast(dec).as("auc_num"),
        col("__t").cast(dec).as("auc_den")).limit(0)
      graft.core.Storage.freeCheckpoint(g)
      return empty
    }
    val (lo, hi) = (mm.getLong(0), mm.getLong(1))
    // overflow-safe bucket index: (s−lo) div width is monotone and equal
    // scores share a bucket, so base + local prefix IS the per-group prefix
    // (exact integral DIV; BucketMath routes the offset through
    // DECIMAL(38,0) when hi−lo exceeds Long range)
    val width = graft.core.BucketMath.widthFor(lo, hi, nBuckets)
    val withB = g.withColumn("__kb",
      graft.core.BucketMath.bucketOf("__s", lo, hi, width))
    val keyField = withB.schema("__g").copy(name = "__g")
    val bucketCounts = withB.groupBy(col("__g"), col("__kb"))
      .agg(sum(col("__t")).as("__n")).collect().map { r =>
        require(!r.isNullAt(0),
          s"$groupCol contains NULLs — AUC over an undefined group")
        require(!r.isNullAt(1),
          s"$scoreCol contains NULLs — an unscored row has no rank; " +
            "filter or score upstream")
        (r.get(0), r.getLong(1), r.getLong(2))
      }
    // ASCENDING bucket order: the base of bucket b is the row mass of every
    // lower-scoring bucket b' < b for that group
    val bases = bucketCounts.groupBy(_._1).toSeq.flatMap { case (k, bs) =>
      bs.sortBy(_._2).scanLeft((k, Long.MinValue, 0L, 0L)) {
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
    val baseDf = scored.sparkSession.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(bases).asJava), baseSchema)
    val w = Window.partitionBy(col("__g"), col("__kb")).orderBy(col("__s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val pre = withB.join(broadcast(baseDf), Seq("__g", "__kb"))
      .withColumn("__cb",
        col("__base") + coalesce(sum(col("__t")).over(w), lit(0L)))
    pre.groupBy(col("__g").as(groupCol))
      .agg(sum(col("__p")).as("pos"),
        (sum(col("__t")) - sum(col("__p"))).as("neg"),
        sum(col("__p").cast(dec) *
          (col("__cb") * 2L + col("__t") + 1L).cast(dec)).as("__r2"))
      .select(col(groupCol), col("pos"), col("neg"),
        (col("__r2") - col("pos").cast(dec) * (col("pos") + 1L).cast(dec))
          .as("auc_num"),
        (col("pos").cast(dec) * col("neg").cast(dec) * 2L).as("auc_den"))
  }

  /** Calibration / reliability table per group: equal-WIDTH integer score
    * bins (not quantile bins — no rank, no window, one map-side-combinable
    * aggregate at any scale), per (group, bin) the row count and positive
    * count. The empirical positive rate n_pos/n per bin against the bin's
    * score range is the reliability diagram a threshold deployment reads
    * next to [[rocAuc]] (AUC says the ORDER is right; calibration says the
    * SCORES mean something). Bin width = ⌊(hi−lo)/nBins⌋+1 from the global
    * score min/max (BigInt — the spread is data-dependent), so every bin
    * index is ⌊(s−lo)/width⌋ ∈ [0, nBins]: pure integer arithmetic, engine-
    * reproducible; `bin_lo_fp` ships each bin's inclusive lower edge.
    * Empty bins emit no row (the contract a sparse log-odds range needs —
    * materializing groups × nBins rows helps nobody). Null labels count
    * negative (the rocAuc convention).
    */
  def calibrationBins(scored: DataFrame, groupCol: String, labelCol: String,
                      scoreCol: String, nBins: Int): DataFrame = {
    require(nBins >= 2 && nBins <= (1 << 20),
      s"nBins must be in [2, 2^20], got $nBins")
    val s = graft.core.Storage.cut(
      scored.select(col(groupCol), col(scoreCol).cast("long").as("__s"),
        when(col(labelCol), 1L).otherwise(0L).as("__y")), eager = true)
    val mm = s.agg(min(col("__s")), max(col("__s"))).head()
    if (mm.isNullAt(0)) {
      // all-scores-null is a scoring bug, not an empty input (the rocAuc
      // distinction): fail loud when rows exist
      if (!s.isEmpty) {
        graft.core.Storage.freeCheckpoint(s)
        throw new IllegalArgumentException(
          s"$scoreCol contains NULLs — an unscored row has no bin; " +
            "filter or score upstream")
      }
      val empty = s.select(col(groupCol), col("__s").as("bin"),
        col("__s").as("bin_lo_fp"), col("__s").as("n"),
        col("__s").as("n_pos")).limit(0)
      graft.core.Storage.freeCheckpoint(s) // limit(0) folds to LocalRelation
      return empty
    }
    val (lo, hi) = (mm.getLong(0), mm.getLong(1))
    val width = graft.core.BucketMath.widthFor(lo, hi, nBins)
    // exact integral division (Spark DIV == DuckDB //): a decimal `/` +
    // floor rounds the quotient at scale 6 first and can mis-bin a score
    // sitting within 5e-7 of a bin edge — and `bin` is an OUTPUT column.
    // BucketMath widens the offset (and the bin_lo product) to
    // DECIMAL(38,0) when hi−lo exceeds Long range. PARTIAL nulls hit the
    // same fail-loud contract as all-null (a silent NULL-bin row hid a
    // 99%-null scorer; raise_error is codegen'd and free on the valid
    // path — the exactGroupWeightedRank idiom)
    s.withColumn("bin",
        when(col("__s").isNull,
          raise_error(lit(s"$scoreCol contains NULLs — an unscored row " +
            "has no bin; filter or score upstream")))
          .otherwise(graft.core.BucketMath.bucketOf("__s", lo, hi, width)))
      .groupBy(col(groupCol), col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("__y")).as("n_pos"))
      .select(col(groupCol), col("bin"),
        graft.core.BucketMath.bucketLoOf("bin", lo, hi, width)
          .as("bin_lo_fp"),
        col("n"), col("n_pos"))
  }

  /** Confusion counts per group at the model's native threshold
    * (score > 0 — where naive-Bayes log-odds flips): tp/fp/fn/tn in one
    * map-side-combinable aggregate. Precision, recall, F1 and accuracy are
    * ratios of these four integers — ship the sufficient statistic (the e4
    * discipline), not lossy rates. Null labels count negative.
    */
  def confusionCounts(scored: DataFrame, groupCol: String, labelCol: String,
                      scoreCol: String): DataFrame = {
    // null-safe on BOTH inputs: an unscored row predicts negative (a
    // bare `score > 0` is NULL on null scores and silently drops the row
    // from every quadrant, breaking tp+fp+fn+tn == n)
    val pos = coalesce(col(scoreCol) > 0L, lit(false))
    val y = coalesce(col(labelCol), lit(false))
    scored.groupBy(col(groupCol))
      .agg(sum(when(pos && y, 1L).otherwise(0L)).as("tp"),
        sum(when(pos && !y, 1L).otherwise(0L)).as("fp"),
        sum(when(!pos && y, 1L).otherwise(0L)).as("fn"),
        sum(when(!pos && !y, 1L).otherwise(0L)).as("tn"))
  }

  /** Spearman rank correlation per group between two integer-valued
    * columns, ties broken deterministically by `idCol` — the "permutation
    * Spearman" an eval harness uses to ask whether two rankers agree
    * (quality score vs a judge, length vs richness): both variables get
    * the rank of their (value, id) sort position, so every rank is an
    * exact integer (no average-rank fractions) and rho is
    * engine-reproducible bit-for-bit.
    *
    * Ranks are NOT a per-group window: per-doc-unique values make each
    * group's window ONE task at 100 TB (the rocAuc rationale). Each
    * variable ranks two-level instead — integer value-range buckets from
    * the global min/max (equal values share a bucket), per-(group, bucket)
    * counts whose driver-side ascending exclusive scan gives bucket base
    * ranks (groups × buckets longs), then row_number within
    * (group, bucket) ordered by (value, id) on top of the broadcast base.
    * Σd² accumulates in DECIMAL(38,0) (exact to ~2e9 rows per group);
    * rho = 1 − 6·Σd² / (n(n²−1)) is then a fixed sequence of IEEE double
    * ops both engines replay identically. NULL in either variable fails
    * loud — an unranked row has no rank; rho is NULL below n = 2.
    */
  def spearmanByGroup(df: DataFrame, grpCol: String, xCol: String,
                      yCol: String, idCol: String,
                      buckets: Int = 0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val dec19 = org.apache.spark.sql.types.DataTypes.createDecimalType(19, 0)
    val nBuckets =
      if (buckets > 0) buckets else graft.core.BucketMath.defaultBuckets(df)
    val s = graft.core.Storage.cut(
      df.select(col(grpCol).as("__g"), col(xCol).cast("long").as("__x"),
        col(yCol).cast("long").as("__y"), col(idCol).as("__id")),
      eager = true)
    if (s.isEmpty) {
      val empty = s.groupBy(col("__g").as(grpCol))
        .agg(count(lit(1)).as("n"), lit(0.0).as("sum_d2"), lit(0.0).as("rho"))
        .limit(0)
      graft.core.Storage.freeCheckpoint(s)
      return empty
    }
    // per-variable bucket layout + broadcast base ranks, both off the one
    // checkpoint cut; BOTH variables' min/max ride ONE combined aggregate
    // (each extra driver action is a full pass over the checkpoint)
    val mm = s.agg(min(col("__x")), max(col("__x")),
      min(col("__y")), max(col("__y"))).head()
    def basesFor(valCol: String, kbCol: String, baseCol: String,
                 errName: String, mmOffset: Int): (DataFrame, Column) = {
      if (mm.isNullAt(mmOffset))
        throw new IllegalArgumentException(
          s"$errName contains NULLs — an unranked row has no rank; " +
            "filter or score upstream")
      val (lo, hi) = (mm.getLong(mmOffset), mm.getLong(mmOffset + 1))
      val width = graft.core.BucketMath.widthFor(lo, hi, nBuckets)
      // PARTIAL nulls fail loud in-kernel (the calibrationBins idiom —
      // raise_error is codegen'd and free on the valid path)
      val kb = when(col(valCol).isNull,
        raise_error(lit(s"$errName contains NULLs — an unranked row has " +
          "no rank; filter or score upstream")))
        .otherwise(graft.core.BucketMath.bucketOf(valCol, lo, hi, width))
      val counts = s.withColumn(kbCol, kb).groupBy(col("__g"), col(kbCol))
        .agg(count(lit(1)).as("__n")).collect().map { r =>
          require(!r.isNullAt(0),
            s"$grpCol contains NULLs — rank over an undefined group")
          (r.get(0), r.getLong(1), r.getLong(2))
        }
      val bases = counts.groupBy(_._1).toSeq.flatMap { case (k, bs) =>
        bs.sortBy(_._2).scanLeft((k, Long.MinValue, 0L, 0L)) {
          case ((_, _, acc, n), (_, b, m)) => (k, b, acc + n, m)
        }.drop(1).map { case (k2, b, base, _) =>
          org.apache.spark.sql.Row(k2, b, base)
        }
      }
      val baseSchema = org.apache.spark.sql.types.StructType(Seq(
        s.schema("__g"),
        org.apache.spark.sql.types.StructField(
          kbCol, org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField(
          baseCol, org.apache.spark.sql.types.LongType, nullable = false)))
      val baseDf = s.sparkSession.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(bases).asJava),
        baseSchema)
      (baseDf, kb)
    }
    val (bxDf, kbx) = basesFor("__x", "__kbx", "__bx", xCol, 0)
    val (byDf, kby) = basesFor("__y", "__kby", "__by", yCol, 2)
    val wx = Window.partitionBy(col("__g"), col("__kbx"))
      .orderBy(col("__x"), col("__id"))
    val wy = Window.partitionBy(col("__g"), col("__kby"))
      .orderBy(col("__y"), col("__id"))
    val d = col("__rx").cast(dec19) - col("__ry").cast(dec19)
    s.withColumn("__kbx", kbx).withColumn("__kby", kby)
      .join(broadcast(bxDf), Seq("__g", "__kbx"))
      .join(broadcast(byDf), Seq("__g", "__kby"))
      .withColumn("__rx", col("__bx") + row_number().over(wx))
      .withColumn("__ry", col("__by") + row_number().over(wy))
      .groupBy(col("__g").as(grpCol))
      .agg(count(lit(1)).as("n"), sum((d * d).cast(dec)).as("__sd2"))
      .select(col(grpCol), col("n"),
        col("__sd2").cast("double").as("sum_d2"),
        when(col("n") >= 2L,
          lit(1.0) - lit(6.0) * col("__sd2").cast("double") /
            (col("n").cast("double") *
              (col("n").cast("double") * col("n").cast("double") - lit(1.0))))
          .as("rho"))
  }

  /** Exact AVERAGE PRECISION per group (the area under the precision-
    * recall curve a retrieval/filter eval reports beside [[rocAuc]] —
    * AP weights the head of the ranking, which is what a top-k serving
    * cutoff actually experiences): rank by (score desc, id asc), and over
    * POSITIVE rows average precision-at-k = cum_pos(k)/k. Every term is
    * one positive floor division ⌊10⁶·cum_pos/k⌋ of exact integers and
    * ap_fp their integer mean — engine-reproducible bitwise, no float
    * summation order to disagree about.
    *
    * Ranks and positive prefixes are two-level (the rocAuc/spearman
    * posture, never a per-group window): per-(group, bucket) row and
    * positive counts, a driver-side DESCENDING exclusive scan giving each
    * bucket its rows-above and positives-above bases (groups × buckets
    * longs), then one within-bucket window ordered (score desc, id)
    * supplying row_number and the inclusive positive running sum on top of
    * the broadcast bases. NULL scores fail loud; a group with no positives
    * reports ap_fp NULL.
    */
  def averagePrecisionByGroup(df: DataFrame, grpCol: String, labelCol: String,
                              scoreCol: String, idCol: String,
                              buckets: Int = 0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nBuckets =
      if (buckets > 0) buckets else graft.core.BucketMath.defaultBuckets(df)
    val s = graft.core.Storage.cut(
      df.select(col(grpCol).as("__g"), col(scoreCol).cast("long").as("__s"),
        when(coalesce(col(labelCol), lit(false)), 1L).otherwise(0L).as("__y"),
        col(idCol).as("__id")),
      eager = true)
    if (s.isEmpty) {
      val empty = s.groupBy(col("__g").as(grpCol))
        .agg(count(lit(1)).as("n"), count(lit(1)).as("n_pos"),
          count(lit(1)).as("ap_fp"))
        .limit(0)
      graft.core.Storage.freeCheckpoint(s)
      return empty
    }
    val mm = s.agg(min(col("__s")), max(col("__s"))).head()
    if (mm.isNullAt(0))
      throw new IllegalArgumentException(
        s"$scoreCol contains NULLs — an unscored row has no rank; " +
          "filter or score upstream")
    val (lo, hi) = (mm.getLong(0), mm.getLong(1))
    val width = graft.core.BucketMath.widthFor(lo, hi, nBuckets)
    val kb = when(col("__s").isNull,
      raise_error(lit(s"$scoreCol contains NULLs — an unscored row has " +
        "no rank; filter or score upstream")))
      .otherwise(graft.core.BucketMath.bucketOf("__s", lo, hi, width))
    val counts = s.withColumn("__kb", kb).groupBy(col("__g"), col("__kb"))
      .agg(count(lit(1)).as("__t"), sum(col("__y")).as("__p")).collect()
      .map { r =>
        require(!r.isNullAt(0),
          s"$grpCol contains NULLs — rank over an undefined group")
        (r.get(0), r.getLong(1), r.getLong(2), r.getLong(3))
      }
    // DESCENDING exclusive scan: bucket b's bases = rows/positives in
    // HIGHER-scoring buckets (rank 1 is the best score)
    val bases = counts.groupBy(_._1).toSeq.flatMap { case (k, bs) =>
      bs.sortBy(-_._2).scanLeft((k, Long.MinValue, 0L, 0L, 0L, 0L)) {
        case ((_, _, accT, accP, t, p), (_, b, t2, p2)) =>
          (k, b, accT + t, accP + p, t2, p2)
      }.drop(1).map { case (k2, b, baseT, baseP, _, _) =>
        org.apache.spark.sql.Row(k2, b, baseT, baseP)
      }
    }
    val lt = org.apache.spark.sql.types.LongType
    val baseSchema = org.apache.spark.sql.types.StructType(Seq(
      s.schema("__g"),
      org.apache.spark.sql.types.StructField("__kb", lt, nullable = false),
      org.apache.spark.sql.types.StructField("__bt", lt, nullable = false),
      org.apache.spark.sql.types.StructField("__bp", lt, nullable = false)))
    val baseDf = s.sparkSession.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(bases).asJava),
      baseSchema)
    val w = Window.partitionBy(col("__g"), col("__kb"))
      .orderBy(col("__s").desc, col("__id").asc)
    val wr = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    s.withColumn("__kb", kb)
      .join(broadcast(baseDf), Seq("__g", "__kb"))
      .withColumn("__k", col("__bt") + row_number().over(w))
      .withColumn("__cp", col("__bp") + sum(col("__y")).over(wr))
      .groupBy(col("__g").as(grpCol))
      .agg(count(lit(1)).as("n"), sum(col("__y")).as("n_pos"),
        sum(when(col("__y") === 1L,
          expr("CAST((1000000 * __cp) DIV __k AS BIGINT)"))).as("__aps"))
      .select(col(grpCol), col("n"), col("n_pos"),
        when(col("n_pos") > 0L, expr("CAST(__aps DIV n_pos AS BIGINT)"))
          .as("ap_fp"))
  }

  /** Wilson score-interval LOWER BOUND for a binomial rate (Wilson 1927 —
    * the "sort by confident rating" statistic: a 2/2 pass rate must rank
    * below a 90/100, which the raw ratio gets wrong). Pure Column algebra
    * over exact integer (n, c); every step is a correctly-rounded IEEE
    * double op in a FIXED expression order, so the oracle twin spelling
    * the same formula (all literals cast to DOUBLE — DuckDB types bare
    * decimals as DECIMAL) reproduces it bit-for-bit. NULL when n = 0.
    */
  def wilsonLower(n: Column, c: Column, z: Double = 1.96): Column = {
    val zc = lit(z)
    val z2 = zc * zc
    val nd = n.cast("double")
    val p = c.cast("double") / nd
    when(n > 0L,
      (p + z2 / (nd * lit(2.0)) -
        zc * sqrt((p * (lit(1.0) - p) + z2 / (nd * lit(4.0))) / nd)) /
        (lit(1.0) + z2 / nd))
  }

  /** REGRESSION eval metrics per group — MAE, RMSE and R² for a value
    * predictor (the eval family's regression counterpart to the
    * classification suite e7/e10/e15). Determinism: the per-row error
    * terms |y−ŷ|, (y−ŷ)² and (y−ȳ)² are doubles from one fixed IEEE
    * expression each, CAST to DECIMAL(25,6) PER ROW (one rounding) and
    * summed exactly — a raw double sum would be shuffle-order-dependent.
    * ȳ is the group's exact-decimal-sum mean (one division). Finals are
    * one division (+ sqrt) each under the round-6 convention; R² is NULL
    * when SST = 0 (a constant group has no variance to explain). NULL
    * y/ŷ fails loud — a silently skipped error term skews every metric.
    * Two group-keyed aggregates + one broadcast mean join; map-side
    * combinable at any scale.
    */
  def regressionMetrics(scored: DataFrame, groupCol: String, yCol: String,
                        yhatCol: String): DataFrame = {
    val dec6 = org.apache.spark.sql.types.DataTypes.createDecimalType(25, 6)
    val dec4 = org.apache.spark.sql.types.DataTypes.createDecimalType(25, 4)
    def checked(c: String) = when(col(c).isNull,
      raise_error(lit(s"$c contains NULLs — an unobserved value has no " +
        "error term; filter upstream")))
      .otherwise(col(c).cast("double"))
    val base = graft.core.Storage.cut(
      scored.select(col(groupCol), checked(yCol).as("__y"),
        checked(yhatCol).as("__p")),
      eager = true)
    val means = base.groupBy(col(groupCol))
      .agg((sum(col("__y").cast(dec4)).cast("double") / count(lit(1)))
        .as("__ybar"))
    base.join(broadcast(means), Seq(groupCol))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        sum(abs(col("__y") - col("__p")).cast(dec6)).as("__sae"),
        sum(((col("__y") - col("__p")) * (col("__y") - col("__p")))
          .cast(dec6)).as("__sse"),
        sum(((col("__y") - col("__ybar")) * (col("__y") - col("__ybar")))
          .cast(dec6)).as("__sst"))
      .select(col(groupCol), col("n"),
        round(col("__sae").cast("double") / col("n"), 6).as("mae"),
        round(sqrt(col("__sse").cast("double") / col("n")), 6).as("rmse"),
        when(col("__sst") > 0,
          round(lit(1.0) - col("__sse").cast("double") /
            col("__sst").cast("double"), 6)).as("r2"))
  }

  /** COHEN'S KAPPA per group — chance-corrected agreement between the
    * model's native-threshold predictions and the labels (Cohen 1960):
    * κ = (p_o − p_e)/(1 − p_e), shipped as the EXACT integer fraction
    *   kappa_num = N·(tp+tn) − [(tp+fp)(tp+fn) + (fn+tn)(fp+tn)]
    *   kappa_den = N² − [(tp+fp)(tp+fn) + (fn+tn)(fp+tn)]
    * (the rocAuc num/den discipline — accuracy without the base-rate
    * illusion a 95%-negative corpus gives plain accuracy). Products ride
    * DECIMAL(38,0) (N² overflows a long at ~3e9 rows per group) and cast
    * back to long for output. ABORT BOUND (documented, not clamped — these
    * are exact rationals and a clamp would silently corrupt kappa):
    * beyond ~3e9 rows per group the long casts of kappa_num/kappa_den
    * overflow and Spark 4's ANSI cast fails the job loudly; pre-aggregate
    * or sample groups past that scale. kappa_den = 0 (degenerate
    * marginals) ships as-is for the consumer to treat as undefined. One
    * aggregate on top of [[confusionCounts]] — same shape, map-side
    * combinable.
    */
  def cohensKappa(scored: DataFrame, groupCol: String, labelCol: String,
                  scoreCol: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val cm = confusionCounts(scored, groupCol, labelCol, scoreCol)
    val n = (col("tp") + col("fp") + col("fn") + col("tn")).as("__n")
    val pe = (col("tp") + col("fp")).cast(dec) * (col("tp") + col("fn")).cast(dec) +
      (col("fn") + col("tn")).cast(dec) * (col("fp") + col("tn")).cast(dec)
    cm.withColumn("__n", n)
      .select(col(groupCol), col("__n").as("n"),
        (col("__n").cast(dec) * (col("tp") + col("tn")).cast(dec) - pe)
          .cast("long").as("kappa_num"),
        (col("__n").cast(dec) * col("__n").cast(dec) - pe)
          .cast("long").as("kappa_den"))
  }

  /** Per-document curation DECISION LOG — the per-row dual of
    * [[curationFunnel]]'s aggregate report: every document gets the FIRST
    * gate that rejected it (funnel order), or `kept`. This is the
    * provenance artifact an auditable curation run ships alongside the
    * pruned corpus ("why is doc X not in the training set?"), and the
    * debugging surface when a source's survival rate drops.
    *
    * Verdicts: `gopher` (failed the rule gate), `low_quality` (passed
    * rules, score < minQuality), `duplicate` (quality survivor whose
    * fingerprint was first claimed by a lower id — the d2 keep-first
    * rule), `kept`. Counts reconcile with [[curationFunnel]] by
    * construction: n_gopher = n - #gopher, n_quality = n_gopher -
    * #low_quality, n_unique = #kept (spec-asserted).
    *
    * Scale shape: the gates stay one scan; the duplicate verdict needs
    * one shuffle on the fingerprint (an unordered per-partition MIN —
    * cheaper than the rank window, no sort) — the same exchange d2's
    * dedup pays.
    */
  def rejectionReasons(docs: DataFrame, idCol: String, textCol: String,
                       minQuality: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keep = funnelGopherKeep(textCol)
    val staged = docs.select(
      col(idCol).as("sid"), keep.as("g"),
      (keep && TextOps.qualityScore(col(textCol)) >= minQuality).as("gq"),
      TextOps.fingerprint(col(textCol)).as("fp"))
    val minGq = min(when(col("gq"), col("sid")))
      .over(Window.partitionBy(col("fp")))
    staged
      .withColumn("verdict",
        when(!col("g"), "gopher")
          .when(!col("gq"), "low_quality")
          .when(col("sid") =!= minGq, "duplicate")
          .otherwise("kept"))
      .select(col("sid"), col("verdict"))
  }

  /** DSIR importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling", arXiv:2302.03169 §3):
    * per raw document the log importance ratio between a TARGET hashed
    * n-gram bag model and the RAW pool's own, in exact micro-nats —
    *
    *   dsir_fp(d) = Σ_b c_b(d) · (ln((ct_b+1)/(T+m)) − ln((cr_b+1)/(R+m)))
    *
    * with c_b(d) the doc's feature count in bucket b, features = unigrams
    * + bigrams hashed into m buckets (the paper's featurization, hashed
    * with the corpus-wide 48-bit fingerprint convention), ct/cr the
    * target/raw bucket totals, add-one smoothing over the dense bucket
    * space. A high weight means "looks like the target distribution,
    * unlike the raw pool" — the data-selection signal DSIR resamples by.
    * Both lns are independent integer LnFp kernels (the t22/sm9
    * discipline: one rounding each from exact integer operands), so the
    * weight is engine-reproducible bit-for-bit.
    *
    * Scale shape (the t22 classifier posture): features hash to 8-byte
    * bucket ids IN-SCAN (text never shuffles), both bucket-count
    * aggregates combine map-side, the 2m-bucket model broadcasts, and the
    * per-doc weight is one (sid, b)-count plus a broadcast join and a
    * map-side sum. Raw features are checkpoint-cut once and feed both the
    * pool counts and the per-doc counts. Zero-feature documents report
    * (n_feats 0, dsir_fp 0) — an empty product's log is zero, not a gap.
    */
  def dsirWeights(raw: DataFrame, target: DataFrame, idCol: String,
                  textCol: String, nBuckets: Int): DataFrame = {
    require(nBuckets >= 2 && nBuckets <= (1 << 20),
      s"nBuckets must be in [2, 2^20], got $nBuckets")
    val ln = graft.plans.LnFpFunctions.lnMicro _
    val m = nBuckets.toLong
    val tc = dsirFeats(target, idCol, textCol, nBuckets)
      .groupBy(col("b")).agg(count(lit(1)).as("ct"))
    val rf = graft.core.Storage.cut(
      dsirFeats(raw, idCol, textCol, nBuckets), eager = false)
    val rc = rf.groupBy(col("b")).agg(count(lit(1)).as("cr"))
    val dense = raw.sparkSession.range(nBuckets).select(col("id").as("b"))
      .join(tc, Seq("b"), "left").join(rc, Seq("b"), "left")
      .select(col("b"), coalesce(col("ct"), lit(0L)).as("ct"),
        coalesce(col("cr"), lit(0L)).as("cr"))
    val tot = dense.agg(sum(col("ct")).as("tn"), sum(col("cr")).as("rn"))
    val w = dense.crossJoin(broadcast(tot)).select(col("b"),
      (ln(col("ct") + lit(1L), col("tn") + lit(m))
        - ln(col("cr") + lit(1L), col("rn") + lit(m))).as("w_fp"))
    val perDoc = rf.groupBy(col("sid"), col("b")).agg(count(lit(1)).as("c"))
    val scored = perDoc.join(broadcast(w), Seq("b"))
      .groupBy(col("sid"))
      .agg(sum(col("c")).as("n_feats"), sum(col("c") * col("w_fp")).as("dsir_fp"))
    raw.select(col(idCol).as("sid"))
      .join(scored, Seq("sid"), "left")
      .select(col("sid"), coalesce(col("n_feats"), lit(0L)).as("n_feats"),
        coalesce(col("dsir_fp"), lit(0L)).as("dsir_fp"))
  }

  /** DSIR selection: keep every document whose weight clears the exact
    * ascending qNum/qDen order statistic of the weight multiset (3/4 =
    * "the top quarter, ties kept") — deterministic where the paper's
    * Gumbel top-k is randomized, and the threshold is a DATA ELEMENT from
    * [[ApproxOps.exactGroupRank]]'s two-level walk (no corpus sort, no
    * value buffer; the one-row collect is the IVF-centroid plan-time-
    * constant posture).
    */
  def dsirSelect(weights: DataFrame, qNum: Long, qDen: Long): DataFrame = {
    // checkpoint-cut: the weights lineage (two feature passes) feeds both
    // the rank walk and the kept projection — one materialization, two
    // readers (the rocAuc discipline); session sweep reclaims the leaf
    val w = graft.core.Storage.cut(weights, eager = true)
    val ranked = ApproxOps.exactGroupRank(
      w.withColumn("__g", lit("all")), "__g", "dsir_fp", qNum, qDen)
      .collect()
    if (ranked.isEmpty) return w.withColumn("kept", lit(false)).limit(0)
    val v = ranked.head.getAs[Long]("val")
    w.withColumn("kept", col("dsir_fp") >= v)
  }

  /** Hashed DSIR features: unigrams + space-joined bigrams over the raw
    * token positions (both parts non-empty), bucketed by the 48-bit
    * fingerprint IN-SCAN — (sid, b) is all that ever shuffles.
    */
  private def dsirFeats(df: DataFrame, idCol: String, textCol: String,
                        nBuckets: Int): DataFrame = {
    val base = df.select(col(idCol).as("sid"), split(col(textCol), " ").as("w"))
    val uni = base.select(col("sid"), explode(col("w")).as("feat"))
      .filter(length(col("feat")) > 0)
    val bi = base
      .select(col("sid"), col("w"),
        explode(when(size(col("w")) >= 2,
          sequence(lit(1), size(col("w")) - 1))).as("i"))
      .select(col("sid"), element_at(col("w"), col("i")).as("l"),
        element_at(col("w"), col("i") + 1).as("r"))
      .filter(length(col("l")) > 0 && length(col("r")) > 0)
      .select(col("sid"), concat(col("l"), lit(" "), col("r")).as("feat"))
    uni.unionByName(bi).select(col("sid"),
      (graft.operators.Dedup.hash48(col("feat")) % nBuckets).as("b"))
  }

  /** k-anonymity / l-diversity audit (Sweeney 2002; Machanavajjhala et al.
    * 2007) over quasi-identifier columns — the training-data compliance
    * gate: an equivalence class (one distinct QI combination) re-identifies
    * its members when it is small (|class| < k) and leaks its sensitive
    * attribute when that attribute barely varies inside it
    * (distinct-sensitive < l). ONE summary row:
    * (n_rows, n_classes, min_class_size, n_small_classes, rows_at_risk,
    * min_l_diversity, n_low_diversity, k_anonymous, l_diverse).
    *
    * Scale shape: one QI-keyed aggregate (count + exact distinct-sensitive,
    * both partial-aggregating) then a class-table summary — classes are
    * orders of magnitude fewer than rows, and nothing else crosses an
    * exchange. NULL is a QI value like any other (a null-QI class can
    * re-identify too); null sensitive values don't count toward diversity.
    */
  def kAnonymityAudit(df: DataFrame, qiCols: Seq[String],
                      sensitiveCol: String, k: Long, l: Long): DataFrame = {
    // empty input = vacuously compliant: the sums coalesce to 0 so the
    // gate booleans are TRUE, never NULL (a release gate reading
    // k_anonymous must get a verdict; min_* stay NULL — no classes exist)
    kAnonClasses(df, qiCols, sensitiveCol)
      .agg(coalesce(sum(col("n")), lit(0L)).as("n_rows"),
        count(lit(1)).as("n_classes"),
        min(col("n")).as("min_class_size"),
        coalesce(sum(when(col("n") < k, 1L).otherwise(0L)), lit(0L))
          .as("n_small_classes"),
        coalesce(sum(when(col("n") < k, col("n")).otherwise(0L)), lit(0L))
          .as("rows_at_risk"),
        min(col("l_div")).as("min_l_diversity"),
        coalesce(sum(when(col("l_div") < l, 1L).otherwise(0L)), lit(0L))
          .as("n_low_diversity"))
      .withColumn("k_anonymous", col("n_small_classes") === 0L)
      .withColumn("l_diverse", col("n_low_diversity") === 0L)
  }

  /** The violating equivalence classes behind [[kAnonymityAudit]]'s
    * summary — (qi..., n, l_div) for every class under k rows or under l
    * distinct sensitive values. The actionable artifact (suppress or
    * generalize exactly these); output is violation-sized, not row-sized.
    */
  def kAnonymityViolations(df: DataFrame, qiCols: Seq[String],
                           sensitiveCol: String, k: Long,
                           l: Long): DataFrame =
    kAnonClasses(df, qiCols, sensitiveCol)
      .filter(col("n") < k || col("l_div") < l)

  private def kAnonClasses(df: DataFrame, qiCols: Seq[String],
                           sensitiveCol: String): DataFrame = {
    require(qiCols.nonEmpty, "at least one quasi-identifier column")
    df.groupBy(qiCols.map(col): _*)
      .agg(count(lit(1)).as("n"),
        countDistinct(col(sensitiveCol)).as("l_div"))
  }

  /** RECURSIVE (c, l)-diversity audit (Machanavajjhala et al. 2007,
    * "ℓ-Diversity: Privacy Beyond k-Anonymity", §4.2) — the criterion
    * distinct-l ([[kAnonymityAudit]]'s `l_diverse`) misses: a class can
    * hold l distinct sensitive values yet be 99% ONE value, so an
    * attacker's single guess is nearly certain. With per-class sensitive
    * counts sorted descending r1 ≥ … ≥ rm, the class passes iff
    * r1 < c·(r_l + … + r_m) — the most frequent value must not dominate
    * the tail. c rides as the rational cNum/cDen so the verdict is a pure
    * cross-multiplied INTEGER comparison; fewer than l distinct values
    * fails by definition (empty tail coalesces to 0).
    *
    * Output: one row per equivalence class — (qi…, n_rows, m_values, r1,
    * tail_sum, recursive_ok), class-count-sized.
    *
    * Scale shape: one (qi, sensitive) count aggregate, then the rank over
    * each class's VALUE-COUNT table (bounded by per-class sensitive
    * cardinality, and the rank filter is the w2 WindowGroupLimit shape —
    * only r1 and the rank-≥-l tail are consumed), then one class-keyed
    * aggregate. Rows never cross an exchange twice; ties in count break
    * by sensitive value, and the verdict is tie-order-free anyway (equal
    * counts contribute equal tail mass whichever side of rank l they
    * land). NULL sensitive values do NOT count toward diversity (the
    * [[kAnonymityAudit]] family contract — an unknown value must not let
    * a homogeneous class pass), so those rows drop before grouping and
    * n_rows counts KNOWN-value rows.
    */
  def recursiveLDiversity(df: DataFrame, qiCols: Seq[String],
                          sensitiveCol: String, l: Int, cNum: Long,
                          cDen: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(qiCols.nonEmpty, "at least one quasi-identifier column")
    require(l >= 2, s"recursive (c, l)-diversity needs l >= 2, got $l")
    require(cNum > 0 && cDen > 0, s"c must be positive: $cNum/$cDen")
    val byClass = Window.partitionBy(qiCols.map(col): _*)
      .orderBy(col("__cnt").desc, col(sensitiveCol).asc)
    df.filter(col(sensitiveCol).isNotNull)
      .groupBy((qiCols :+ sensitiveCol).map(col): _*)
      .agg(count(lit(1)).as("__cnt"))
      .withColumn("__rn", row_number().over(byClass))
      .groupBy(qiCols.map(col): _*)
      .agg(sum(col("__cnt")).as("n_rows"),
        count(lit(1)).as("m_values"),
        max(when(col("__rn") === 1, col("__cnt"))).as("r1"),
        coalesce(sum(when(col("__rn") >= l, col("__cnt"))), lit(0L))
          .as("tail_sum"))
      .withColumn("recursive_ok",
        col("tail_sum") * lit(cNum) > col("r1") * lit(cDen))
  }

  /** FLEISS' KAPPA (Fleiss 1971 — chance-corrected agreement for a FIXED
    * NUMBER of ratings per item from possibly-different raters; the
    * multi-rater generalization of e15's two-rater Cohen):
    *
    *   P̄  = Σ_i Σ_c n_ic(n_ic−1) / (N·n·(n−1))   (observed agreement)
    *   P̄e = Σ_c (m_c / (N·n))²                    (chance agreement)
    *   κ  = (P̄ − P̄e) / (1 − P̄e)
    *
    * Every building block (A = Σ n_ic(n_ic−1), S = Σ m_c², D = N·n(n−1),
    * M = N·n) is an EXACT integer aggregate, so κ is a fixed chain of
    * IEEE ops over integer-valued doubles — identical on any engine,
    * round-6 (cross-multiplying to one rational overflows a long at
    * A·M² ~ 6·10^19 around 5·10^5 items, so unlike e15 the exact pieces
    * ship as columns and κ ships as the one derived double). Items whose
    * rating count differs from `n` FAIL LOUD — Fleiss is undefined there,
    * and silently dropping them would bias P̄e.
    *
    * Scale shape: one (item, category) count, one item-keyed aggregate,
    * one category-keyed aggregate, one global row — all
    * map-side-combinable, no windows, no joins beyond two one-row
    * scalar attaches.
    */
  def fleissKappa(ratings: DataFrame, itemCol: String, categoryCol: String,
                  n: Int): DataFrame = {
    require(n >= 2, s"Fleiss' kappa needs n >= 2 ratings per item, got $n")
    val nic = ratings.groupBy(col(itemCol).as("__i"), col(categoryCol).as("__c"))
      .agg(count(lit(1)).as("__nic"))
    val perItem = nic.groupBy(col("__i"))
      .agg(sum(col("__nic")).as("__ni"),
        sum(col("__nic") * (col("__nic") - 1L)).as("__ai"))
      .withColumn("__ai", when(col("__ni") =!= n.toLong,
          raise_error(concat(lit(s"fleissKappa: item "),
            col("__i").cast("string"),
            lit(s" has "), col("__ni").cast("string"),
            lit(s" ratings, expected $n — undefined; fix upstream"))))
        .otherwise(col("__ai")))
    val perCat = nic.groupBy(col("__c"))
      .agg(sum(col("__nic")).as("__mc"))
      .agg(sum(col("__mc") * col("__mc")).as("s_sum"))
    val totals = perItem.agg(count(lit(1)).as("n_items"),
      sum(col("__ai")).as("a_sum"))
    val m = col("n_items") * lit(n.toLong)            // M = N·n
    val d = m * lit((n - 1).toLong)                   // D = N·n·(n−1)
    val pbar = col("a_sum").cast("double") / nullif(d.cast("double"), lit(0.0))
    val pe = col("s_sum").cast("double") /
      nullif((m * m).cast("double"), lit(0.0))
    totals.crossJoin(broadcast(perCat))
      .select(col("n_items"), lit(n.toLong).as("n_raters"),
        col("a_sum"), col("s_sum"),
        round((pbar - pe) / nullif(lit(1.0) - pe, lit(0.0)), 6).as("kappa"))
  }

  /** Krippendorff's alpha, nominal data (Krippendorff 2004) — the
    * agreement coefficient that generalizes past two raters (e15) and
    * past fixed-chance assumptions (e17): alpha = 1 − D_o/D_e over the
    * coincidence matrix. This implementation requires a UNIFORM `n`
    * ratings per item (the planned-annotation shape; it fails loud
    * otherwise — the fleissKappa discipline), which makes every term an
    * exact integer over the common 1/(n−1) factor:
    *
    *   D_o ∝ do_num   = N·n·(n−1) − Σ_u Σ_c n_uc(n_uc−1)
    *   D_e ∝ pairs_neq = n_tot² − Σ_c n_c²            (n_tot = N·n)
    *   alpha = 1 − (n_tot−1)·do_num / ((n−1)·pairs_neq)
    *
    * One (item, category) count, two dimension-sized rollups, a single
    * round-6 division at the end — the exact-integer e-family contract.
    * A degenerate corpus where every rating is one category has
    * pairs_neq = 0 and alpha NULL (agreement is undefined, not 1.0).
    */
  def krippendorffAlpha(ratings: DataFrame, itemCol: String,
                        categoryCol: String, n: Int): DataFrame = {
    require(n >= 2, s"Krippendorff's alpha needs n >= 2 ratings per item, got $n")
    val nic = ratings.groupBy(col(itemCol).as("__i"), col(categoryCol).as("__c"))
      .agg(count(lit(1)).as("__nic"))
    val perItem = nic.groupBy(col("__i"))
      .agg(sum(col("__nic")).as("__ni"),
        sum(col("__nic") * (col("__nic") - 1L)).as("__ai"))
      .withColumn("__ai", when(col("__ni") =!= n.toLong,
          raise_error(concat(lit("krippendorffAlpha: item "),
            col("__i").cast("string"),
            lit(" has "), col("__ni").cast("string"),
            lit(s" ratings, expected $n — undefined; fix upstream"))))
        .otherwise(col("__ai")))
    val totals = perItem.agg(count(lit(1)).as("n_items"),
      sum(col("__ai")).as("__a_sum"))
    val perCat = nic.groupBy(col("__c"))
      .agg(sum(col("__nic")).as("__mc"))
      .agg(sum(col("__mc")).as("__n_tot"),
        sum(col("__mc") * col("__mc")).as("__s_sum"))
    val doNum = col("n_items") * lit(n.toLong) * lit((n - 1).toLong) -
      col("__a_sum")
    val pairsNeq = col("__n_tot") * col("__n_tot") - col("__s_sum")
    totals.crossJoin(broadcast(perCat))
      .select(col("n_items"), lit(n.toLong).as("n_raters"),
        doNum.as("do_num"), pairsNeq.as("pairs_neq"),
        round(lit(1.0) - (col("__n_tot") - 1L).cast("double") *
          doNum.cast("double") /
          nullif((lit((n - 1).toLong) * pairsNeq).cast("double"), lit(0.0)),
          6).as("alpha"))
  }

  /** Unbiased pass@k (Chen et al. 2021, the HumanEval estimator): per
    * problem with n samples of which c pass,
    * pass@k = 1 − C(n−c, k)/C(n, k) — the probability that at least one
    * of k samples drawn WITHOUT replacement passes. Computed as the
    * numerically-stable falling-factorial product 1 − Π_{i<k}(n−c−i)/(n−i)
    * in EXACT integer micro-probabilities: both products accumulate in
    * DECIMAL(38,0) (one ordered multiply chain, no binomials — C(n,k)
    * overflows where the ratio doesn't) and one floor division lands the
    * result, so any engine agrees bitwise. n − c < k short-circuits to
    * exactly 1e6 (every k-subset contains a pass); k > n is undefined
    * (NULL) — you cannot draw k from n.
    *
    * Output: (problem, n_samples, n_correct, pass<k>_fp...) — one row per
    * problem, one column per requested k. ONE aggregation over one scan;
    * no window, no join. Bound: the denominator product needs
    * n^max(k)·1e6 < 10^38 — n ≤ ~10^3 samples/problem at k = 10, the
    * realistic eval shape (it is a per-problem sample count, not a
    * corpus size).
    */
  def passAtK(df: DataFrame, problemCol: String, correctCol: String,
              ks: Seq[Int]): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ >= 1), s"ks must be >= 1, got $ks")
    def pass(k: Int): Column = {
      def prod(term: String): String =
        s"aggregate(sequence(0, ${k - 1}), CAST(1 AS DECIMAL(38, 0)), " +
          s"(acc, i) -> acc * CAST($term AS DECIMAL(38, 0)))"
      when(col("n_samples") < k, lit(null).cast("long"))
        .when(col("n_correct") > col("n_samples") - k, lit(1000000L))
        .otherwise(lit(1000000L) - expr(
          s"CAST((${prod("n_samples - n_correct - i")} * 1000000) div " +
            s"${prod("n_samples - i")} AS BIGINT)"))
    }
    val base = df.groupBy(col(problemCol).as("problem"))
      .agg(count(lit(1)).as("n_samples"),
        sum(when(col(correctCol), 1L).otherwise(0L)).as("n_correct"))
    ks.foldLeft(base)((acc, k) => acc.withColumn(s"pass${k}_fp", pass(k)))
  }
}
