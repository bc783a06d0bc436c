package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate aggregates for corpus-scale profiling: HyperLogLog++
  * count-distinct and quantile-summary percentiles — the sketches a 100 TB
  * pipeline uses where exact aggregation would shuffle every distinct value.
  *
  * Verification strategy: sketch INTERNALS are engine-private (register
  * layouts, summary compression), so no cross-engine oracle can match the raw
  * approximate value. What IS portable is the accuracy contract. Each
  * operator therefore emits the exact answer alongside a boolean that the
  * approximation landed within its documented bound; the oracle computes the
  * exact columns and asserts the boolean is literally true — a hash-checkable
  * verification of the GUARANTEE, with the exact columns anchoring row
  * content. The booleans are deterministic even though sketch merge order is
  * not: HLL register merges are commutative, and the quantile-summary rank
  * error holds under any merge order.
  */
object ApproxOps {

  /** EXACT per-group order statistic without a per-group sort or a
    * per-group value buffer — the scale counterpart to both this file's
    * quantile SKETCHES (when the answer must be exact) and Spark's
    * `percentile` aggregate (whose ObjectHashAggregate buffers every value
    * of a group in executor memory — untenable when one group is most of a
    * 100 TB corpus). Returns, per group, the value at ascending rank
    * ceil(qNum·n / qDen) of the integer `valCol` multiset (qNum/qDen = 1/2
    * is the lower median, 9/10 the lower p90) — an element of the data,
    * exact by construction, no interpolation.
    *
    * Shape (the shuffleOrder two-level prefix discipline, applied to an
    * aggregate instead of a rank): range-bucket the value (min/max-derived
    * width), count per (group, bucket), exclusive-scan on the driver
    * (groups × buckets longs) to locate each group's target bucket and
    * residual rank, then resolve the exact value from the VALUE-level
    * counts of the target buckets only — a second aggregate whose collect
    * is bounded by distinct values per bucket width (≤ (max−min)/buckets
    * + 1 per group; raise `buckets` to tighten). No window anywhere
    * (plan-asserted); ties need no ordering — the multiset value at rank r
    * is order-free.
    */
  def exactGroupRank(df: DataFrame, grpCol: String, valCol: String,
                     qNum: Long, qDen: Long, buckets: Int = 0): DataFrame =
    groupRankCore(df, grpCol, valCol, lit(1L), qNum, qDen, buckets)

  /** WEIGHTED exact per-group order statistic — [[exactGroupRank]] with a
    * per-row nonnegative integer weight: returns, per group, the value at
    * ascending cumulative-WEIGHT rank ceil(qNum·W/qDen) (W = Σ weights).
    * qNum/qDen = 1/2 with token-count weights is the token-weighted median
    * document length — "the median TOKEN lives in a doc this long", the
    * corpus statistic that unweighted medians misstate by a factor of the
    * length skew. Zero-weight rows never host the rank (their cumulative
    * mass is unchanged); `n`/`rank` report total weight and the target
    * cumulative weight. Same two-level shape, same no-window plan.
    */
  def exactGroupWeightedRank(df: DataFrame, grpCol: String, valCol: String,
                             weightCol: String, qNum: Long, qDen: Long,
                             buckets: Int = 0): DataFrame = {
    // fail loud in-scan on null/negative weights: a negative weight makes
    // the cumulative walk non-monotone (an opaque NoSuchElement or a
    // silently wrong value downstream); raise_error is codegen'd and free
    // on the valid path
    val w = col(weightCol).cast("long")
    val checked = when(w.isNull || w < 0L,
      raise_error(concat(lit(s"$weightCol must be a nonnegative integer, got "),
        coalesce(col(weightCol).cast("string"), lit("NULL"))))).otherwise(w)
    groupRankCore(df, grpCol, valCol, checked, qNum, qDen, buckets)
  }

  /** MULTIPLE exact per-group order statistics from ONE two-level walk —
    * [[exactGroupRank]] amortized: a production length/score profile wants
    * p25/p50/p75/p99 together, and every quantile shares the same
    * (group, bucket) counts and the same target-bucket value counts, so k
    * quantiles cost ONE bucket-count pass + ONE value resolve over the
    * union of target buckets instead of k full walks. Output one row per
    * group x quantile: (grp, q_num, q_den, n, rank, val) — each `val` is a
    * data element at ascending rank ceil(q_num·n/q_den), exact, no
    * interpolation, identical to the single-quantile operator by
    * construction (spec-asserted).
    */
  def exactGroupQuantiles(df: DataFrame, grpCol: String, valCol: String,
                          quantiles: Seq[(Long, Long)],
                          buckets: Int = 0): DataFrame =
    groupRanksCore(df, grpCol, valCol, lit(1L), quantiles, buckets)

  private def groupRankCore(df: DataFrame, grpCol: String, valCol: String,
                            weight: org.apache.spark.sql.Column,
                            qNum: Long, qDen: Long, buckets: Int): DataFrame =
    groupRanksCore(df, grpCol, valCol, weight, Seq((qNum, qDen)), buckets)
      .drop("q_num", "q_den")

  private def groupRanksCore(df: DataFrame, grpCol: String, valCol: String,
                             weight: org.apache.spark.sql.Column,
                             quantiles: Seq[(Long, Long)],
                             buckets: Int): DataFrame = {
    require(quantiles.nonEmpty, "at least one quantile")
    require(quantiles.forall { case (qn, qd) => qn >= 1 && qn <= qd },
      s"every quantile must be in (0, 1]: got $quantiles")
    require(quantiles.distinct.size == quantiles.size,
      s"duplicate quantiles: $quantiles")
    val nBuckets =
      if (buckets > 0) buckets else graft.core.BucketMath.defaultBuckets(df)
    // fail loud in-scan on a null value (the calibrationBins contract): a
    // partial null would bucket to a NULL __kb and die later as an opaque
    // driver-side NPE; an ALL-null input now also names the bug instead of
    // returning empty
    val checkedVal = when(col(valCol).isNull,
      raise_error(lit(s"$valCol contains NULLs — a rank over them is " +
        "undefined; filter upstream"))).otherwise(col(valCol).cast("long"))
    val keyed = graft.core.Storage.cut(
      df.select(col(grpCol).cast("string").as("grp"),
        checkedVal.as("__k"), weight.as("__w")),
      eager = true)
    val mm = keyed.agg(min(col("__k")), max(col("__k"))).head()
    if (mm.isNullAt(0))
      return keyed.withColumn("q_num", lit(0L)).withColumn("q_den", lit(0L))
        .withColumn("n", lit(0L)).withColumn("rank", lit(0L))
        .withColumnRenamed("__k", "val")
        .select(col("grp"), col("q_num"), col("q_den"), col("n"),
          col("rank"), col("val")).limit(0)
    val (lo, hi) = (mm.getLong(0), mm.getLong(1))
    // overflow-safe width + bucket index (hi−lo wraps a Long for
    // adversarial value ranges; BucketMath widens to DECIMAL(38,0) there)
    val width = graft.core.BucketMath.widthFor(lo, hi, nBuckets)
    val withB = keyed.withColumn("__kb",
      graft.core.BucketMath.bucketOf("__k", lo, hi, width))
    val counts = withB.groupBy(col("grp"), col("__kb"))
      .agg(sum(col("__w")).as("__n")).collect().map { r =>
        require(!r.isNullAt(0),
          s"$grpCol contains NULLs — a per-group rank over them is undefined")
        (r.getString(0), r.getLong(1), r.getLong(2))
      }
    // per (group, quantile): total n, target rank r, the bucket holding
    // rank r and the residual rank within it — ALL quantiles walk the same
    // per-group bucket prefix, computed once.
    // a group whose total mass is zero (all-zero weights) has NO rank to
    // host — emit no row for it rather than a bogus (n=0, rank=0, min-val)
    val targets = counts.groupBy(_._1).toSeq.flatMap { case (g, bs) =>
      val n = bs.map(_._3).sum
      if (n <= 0) Seq.empty
      else {
        var acc = 0L
        val pref = bs.sortBy(_._2).map { case (_, kb, m) =>
          val prev = acc; acc += m; (kb, prev, acc)
        }
        quantiles.zipWithIndex.map { case ((qn, qd), qi) =>
          val r = (qn * n + qd - 1) / qd
          val (b, base) = pref.find(_._3 >= r).map(t => (t._1, t._2)).get
          (g, qi.toLong, n, r, b, r - base)
        }
      }
    }
    val tDf = broadcast(df.sparkSession
      .createDataFrame(targets.map(t => (t._1, t._2, t._3, t._4)))
      .toDF("grp", "__qi", "n", "rank"))
    // Iterative hot-bucket resolve: narrow each target's value range by
    // re-bucketing WITHIN it until min == max pins the value. Driver state
    // per iteration is <= pending-targets x nBuckets counted rows — bounded
    // under ANY skew. (The previous shape collected value-level counts for
    // the union of target buckets, which is unbounded when a corpus's
    // distinct values concentrate in one bucket — the r14 VERDICT #3
    // adversarial-skew hole.) Each iteration is ONE aggregate over only
    // the rows still inside a pending range, and because the sub-bucket
    // hosting the residual rank narrows to its ACTUAL [min, max] value
    // span, a typical target resolves in a single pass — the same pass
    // count as the value-level collect it replaces.
    def boundsOf(b: Long): (Long, Long) = (
      (BigInt(lo) + BigInt(b) * BigInt(width)).toLong,
      ((BigInt(lo) + (BigInt(b) + 1) * BigInt(width) - 1) min BigInt(hi)).toLong)
    // (grp, qi, rangeLo, rangeHi inclusive, residual rank within range)
    var pending: Seq[(String, Long, Long, Long, Long)] =
      targets.map { case (g, qi, _, _, b, rr) =>
        val (bLo, bHi) = boundsOf(b); (g, qi, bLo, bHi, rr)
      }
    val resolvedBuf = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
    var depth = 0
    while (pending.nonEmpty) {
      depth += 1
      // every level divides the span by >= nBuckets (>= 2), so 66 levels
      // more than exhaust a Long's range — non-convergence is a bug
      require(depth <= 66, s"rank resolve failed to converge at depth $depth")
      val (single, multi) = pending.partition(p => p._3 == p._4)
      resolvedBuf ++= single.map(p => (p._1, p._2, p._3))
      pending = if (multi.isEmpty) Nil
      else {
        // at least 2 sub-buckets: with nBuckets = 1 the re-bucket would be
        // a no-op (one sub-bucket spanning the whole range) and the walk
        // could never narrow — span shrinks by >= subB per level otherwise
        val subB = math.max(nBuckets, 2)
        val pDf = broadcast(df.sparkSession.createDataFrame(
          multi.map { case (g, qi, plo, phi, _) =>
            (g, qi, plo, phi, graft.core.BucketMath.widthFor(plo, phi, subB))
          }).toDF("grp", "__qi", "__plo", "__phi", "__pw"))
        // __k - __plo fits a Long: every pending span is at most one
        // level-one bucket's width - 1 < Long.MaxValue (BucketMath.widthFor
        // clamps), so the sub-bucket DIV stays pure BIGINT
        val subCounts = keyed.join(pDf, Seq("grp"))
          .filter(col("__k") >= col("__plo") && col("__k") <= col("__phi"))
          .withColumn("__sb", expr("(__k - __plo) div __pw"))
          .groupBy(col("grp"), col("__qi"), col("__sb"))
          .agg(sum(col("__w")).as("__n"),
            min(col("__k")).as("__mn"), max(col("__k")).as("__mx"))
          .collect()
          .map(r => ((r.getString(0), r.getLong(1)),
            (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
          .groupBy(_._1).view.mapValues(_.map(_._2).sortBy(_._1)).toMap
        multi.flatMap { case (g, qi, _, _, rr) =>
          var acc = 0L
          val (_, _, mn, mx) = subCounts((g, qi)).iterator.find {
            case (_, m, _, _) => acc + m >= rr || { acc += m; false }
          }.get
          if (mn == mx) { resolvedBuf += ((g, qi, mn)); None }
          else Some((g, qi, mn, mx, rr - acc))
        }
      }
    }
    val vDf = broadcast(df.sparkSession.createDataFrame(resolvedBuf.toSeq)
      .toDF("grp", "__qi", "val"))
    val qDf = broadcast(df.sparkSession
      .createDataFrame(quantiles.zipWithIndex.map { case ((qn, qd), qi) =>
        (qi.toLong, qn, qd)
      }).toDF("__qi", "q_num", "q_den"))
    tDf.select(col("grp"), col("__qi"), col("n"), col("rank"))
      .join(vDf, Seq("grp", "__qi")).join(qDf, Seq("__qi"))
      .select(col("grp"), col("q_num"), col("q_den"), col("n"),
        col("rank"), col("val"))
  }

  /** Per-key exact distinct count + whether HLL++ (`rsd` relative standard
    * deviation) lands within `tol` of it. Two aggregations on purpose: the
    * exact one is the oracle anchor, the sketch one is the operator under
    * test. At scale the exact branch is the one you'd drop.
    *
    * `tol` is an empirically-validated MARGIN, not a guarantee: HLL++'s rsd
    * is a standard deviation, so a tol of k x rsd is a ~k-sigma bound that
    * new data can legitimately exceed — callers asserting `approx_ok` (the
    * oracle queries do) should size tol generously relative to rsd (the
    * shipped queries use 2.5+ sigma on fixed fixtures) or gate on key
    * cardinality. An all-null key (n_exact = 0) is approx_ok iff the sketch
    * also says 0 — not NULL, which a bare division would produce.
    */
  def distinctWithinTol(df: DataFrame, keyCol: String, valCol: String,
                        rsd: Double, tol: Double): DataFrame =
    df.groupBy(col(keyCol))
      .agg(
        countDistinct(col(valCol)).as("n_exact"),
        approx_count_distinct(col(valCol), rsd).as("n_approx"))
      .select(col(keyCol), col("n_exact"),
        when(col("n_exact") === 0, col("n_approx") === 0)
          .otherwise(abs(col("n_approx") - col("n_exact")).cast("double") /
            col("n_exact") <= tol).as("approx_ok"))

  /** KMV (k-minimum-values) distinct sketch per key: keep the k SMALLEST
    * distinct 48-bit hashes of the value; with hashes uniform on [0, 2^48),
    * the k-th smallest h_k estimates the distinct count as
    * (k - 1) * 2^48 / h_k (the classic KMV/bottom-k estimator). Two
    * properties HLL lacks make it worth carrying alongside ax1:
    * DETERMINISM — hashes are md5-derived constants, so the raw estimate
    * itself is oracle-checkable bit-for-bit (no accuracy-contract
    * indirection) — and SET ALGEBRA — bottom-k sketches merge under set
    * union ([[kmvUnionIntersect]]), giving distinct-union and
    * Jaccard-intersection estimates.
    *
    * Scale shape: values reduce to distinct (key, 8-byte hash) pairs BEFORE
    * any shuffle; the per-key bottom-k is a rank window (WindowGroupLimit
    * keeps only k rows per key below the sort), so sketch state is k longs
    * per key. Keys with fewer than k distinct values report the EXACT
    * count (the sketch saw everything).
    */
  def kmvDistinctByKey(df: DataFrame, keyCol: String, valCol: String,
                       k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 2, s"k must be >= 2, got $k")
    val ranked = df
      .select(col(keyCol), Dedup.hash48(col(valCol)).as("h")).distinct()
      .withColumn("rn", row_number().over(
        Window.partitionBy(col(keyCol)).orderBy(col("h"))))
      .filter(col("rn") <= k)
    ranked.groupBy(col(keyCol))
      .agg(count(lit(1)).as("sketch_size"), max(col("h")).as("kth_hash"))
      .select(col(keyCol), col("sketch_size"),
        when(col("sketch_size") < k, col("sketch_size").cast("double"))
          .otherwise(lit((k - 1).toDouble * 281474976710656.0) /
            col("kth_hash").cast("double")).as("kmv_est"))
  }

  /** [[kmvDistinctByKey]] as ONE map-side-combinable aggregate — the native
    * `graft_kmv` TypedImperativeAggregate holds the bottom-k buffer
    * directly, so there is no distinct pre-shuffle and no rank window: each
    * map partition keeps k longs per key and the merge tree moves k longs
    * per node. Identical output contract (and identical DuckDB oracle —
    * bottom-k is merge-order-independent, so the two plans agree
    * bit-for-bit); this is also the form a streaming query can hold per
    * window in the state store.
    */
  def kmvDistinctByKeyNative(df: DataFrame, keyCol: String, valCol: String,
                             k: Int): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    df.groupBy(col(keyCol))
      .agg(graft.plans.GraftFunctions
        .kmvSketch(Dedup.hash48(col(valCol)), k).as("__sk"))
      .select(col(keyCol), size(col("__sk")).cast("long").as("sketch_size"),
        kmvEstimate(col("__sk"), k).as("kmv_est"))
  }

  /** The standard KMV estimate off a bottom-k sketch array: exact size when
    * the sketch saw everything, (k-1) * 2^48 / h_k otherwise.
    */
  def kmvEstimate(sketch: Column, k: Int): Column =
    when(size(sketch) < k, size(sketch).cast("double"))
      .otherwise(lit((k - 1).toDouble * 281474976710656.0) /
        element_at(sketch, -1).cast("double"))

  /** Distinct-union and intersection estimates from merged bottom-k
    * sketches: SU = the k smallest hashes of HA UNION HB; the union size
    * estimates as KMV on SU, the Jaccard similarity as
    * |SU ∩ HA ∩ HB| / |SU| (every SU member is a uniform sample of the
    * union), and the intersection as jaccard x union. One row out. When the
    * union has fewer than k distinct hashes the sketch saw everything and
    * all five numbers are exact. All arithmetic is a fixed expression over
    * integers, so the oracle hash-matches.
    */
  def kmvUnionIntersect(a: DataFrame, b: DataFrame, valCol: String,
                        k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 2, s"k must be >= 2, got $k")
    val two = 281474976710656.0 // 2^48
    // global bottom-k as orderBy+limit: plans as TakeOrderedAndProject
    // (per-partition top-k, driver merges k items) — never a
    // single-partition global sort over the distinct-hash set
    def bottomK(df: DataFrame): DataFrame = df
      .select(Dedup.hash48(col(valCol)).as("h")).distinct()
      .orderBy(col("h")).limit(k)
    val sa = bottomK(a)
    val sb = bottomK(b)
    // merge: bottom-k of the union of the two sketches (= bottom-k of
    // HA UNION HB, because any union-bottom-k hash is within its own
    // side's bottom-k)
    val su = sa.unionByName(sb).distinct().orderBy(col("h")).limit(k)
    val both = su.join(sa, Seq("h"), "left_semi").join(sb, Seq("h"), "left_semi")
    val est = su.agg(count(lit(1)).as("u_size"), max(col("h")).as("kth"))
      .crossJoin(broadcast(both.agg(count(lit(1)).as("n_both"))))
      .select(
        when(col("u_size") < k, col("u_size").cast("double"))
          .otherwise(lit((k - 1).toDouble * two) / col("kth").cast("double"))
          .as("n_union_est"),
        // empty union: jaccard is 0 by convention, not a division abort
        // (ANSI mode turns n/0 into a job failure)
        when(col("u_size") === 0, lit(0.0))
          .otherwise(col("n_both").cast("double") / col("u_size").cast("double"))
          .as("jaccard_est"),
        col("u_size"), col("n_both"))
    est.select(col("n_union_est"), col("jaccard_est"),
      (col("jaccard_est") * col("n_union_est")).as("n_intersect_est"),
      col("u_size").as("sketch_size"), col("n_both").as("n_shared"))
  }

  /** Bottom-m hash-rank sample quantiles per key: rank every row by the
    * 48-bit md5 of its (salted) id, keep the m smallest ranks per key — a
    * MERGEABLE uniform sample without replacement (the bottom-m of a union
    * is the bottom-m of the merged per-part bottom-m's: the KMV discipline
    * of [[kmvDistinctByKey]] applied to row sampling) — and report order
    * statistics of the sampled values as quantile estimates. Unlike
    * percentile_approx's engine-private summaries, sample membership and
    * therefore every estimate is md5-determined, so the whole output is
    * oracle-checkable bit-for-bit (the accuracy-contract indirection of
    * [[percentileWithinWindow]] isn't needed).
    *
    * Estimate rule: quantile q over the sorted n-row sample is the value at
    * 0-based index floor(q * (n - 1)). Keys with <= m rows report EXACT
    * order statistics (the sample is the population). `idCol` must be
    * row-unique (sample membership is decided by its hash alone).
    *
    * Scale shape: the per-key bottom-m is a rank window — WindowGroupLimit
    * keeps only m rows per key BELOW the sort, map-side — so the exchange
    * carries at most m rows per (key, map partition) and per-key state is
    * one m-array. Cost is bounded by keys x m, never by row count; sample
    * error is the standard sqrt(q(1-q)/m) binomial band.
    */
  def kmvQuantilesByKey(df: DataFrame, keyCol: String, idCol: String,
                        valCol: String, m: Int, qs: Seq[Double],
                        salt: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(m >= 2, s"m must be >= 2, got $m")
    require(qs.nonEmpty && qs.forall(q => q >= 0.0 && q <= 1.0), s"bad qs $qs")
    // output columns are named q<round(q*100)>: two quantiles within 0.005
    // (e.g. 0.50 and 0.504) would collide into one duplicated column name
    // and an invalid frame — fail loudly instead
    val labels = qs.map(q => s"q${math.round(q * 100)}")
    require(labels.distinct.size == labels.size,
      s"quantile labels collide after rounding to whole percents: $qs -> $labels — " +
        "space requested quantiles at least 0.005 apart")
    val ranked = df
      .select(col(keyCol), col(valCol),
        Dedup.hash48(concat(lit(salt + ":"), col(idCol).cast("string"))).as("r"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col(keyCol)).orderBy(col("r"))))
      .filter(col("rn") <= m)
    val qCols = qs.map { q =>
      val idx = (floor(lit(q) * (col("n_sample") - 1)) + 1).cast("int")
      element_at(col("vals"), idx).as(s"q${math.round(q * 100)}")
    }
    ranked.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_sample"),
        sort_array(collect_list(col(valCol))).as("vals"))
      .select(col(keyCol) +: col("n_sample") +: qCols: _*)
  }

  /** Count-min frequency estimates for every distinct item, with the exact
    * count and the sketch's one-sided guarantee as oracle anchors. The
    * sketch is the native [[graft.plans.CountMin]] aggregate — a
    * d x w counter matrix whose cells are pure order-insensitive sums, so
    * unlike HLL/percentile summaries the whole estimate is bit-deterministic
    * and the oracle hash-checks the NUMBERS, not just a contract boolean.
    * `never_under` (est >= exact, CMS's defining property) is still emitted
    * so the guarantee is asserted row-by-row.
    *
    * Scale shape: the sketch pass keeps ONE d x w matrix per partition and
    * merges matrices — no per-key state, the 100 TB path. The exact branch
    * (a per-item groupBy) exists as the oracle anchor and the collision
    * observer; at scale it is the branch you drop, leaving probe-only
    * estimates against the broadcast one-row sketch.
    */
  def cmsEstimates(items: DataFrame, itemCol: String, w: Int, d: Int): DataFrame = {
    require(d >= 1 && d <= 3, s"d must be in [1,3], got $d")
    require(w >= 2 && w <= 65536, s"w must be in [2,65536], got $w")
    val it = items.select(col(itemCol).as("item")).filter(col("item").isNotNull)
    val sk = it.agg(graft.plans.GraftFunctions.countMin(col("item"), w, d).as("sk"))
    it.groupBy(col("item")).agg(count(lit(1)).as("n_exact"))
      .crossJoin(broadcast(sk))
      .select(col("item"), col("n_exact"),
        cmsProbe(col("sk"), col("item"), w, d).as("cms_est"))
      .withColumn("never_under", col("cms_est") >= col("n_exact"))
  }

  /** Point estimate from a CMS matrix column: min over the d rows at the
    * item's md5-slice positions — probe ANY value against a persisted or
    * windowed sketch after the fact (the matrix answers queries the
    * aggregation never saw coming, unlike a watched-key counter).
    */
  def cmsProbe(sk: Column, item: Column, w: Int, d: Int): Column =
    (0 until d).map { j =>
      element_at(element_at(sk, j + 1),
        (call_function("shiftright", Dedup.hash48(item), lit(16 * j))
          .bitwiseAND(lit(0xffffL)) % w).cast("int") + 1)
    }.reduce(least(_, _))

  /** Per-key count + whether the approximate percentile `p` (quantile
    * summaries with `accuracy`) lies within the exact [lo, hi] percentile
    * window — the rank-error contract restated over values.
    */
  def percentileWithinWindow(df: DataFrame, keyCol: String, valCol: String,
                             p: Double, lo: Double, hi: Double,
                             accuracy: Int): DataFrame =
    df.groupBy(col(keyCol))
      .agg(
        count(col(valCol)).as("n_values"),
        percentile_approx(col(valCol), lit(p), lit(accuracy)).as("p_approx"),
        expr(s"percentile($valCol, $lo)").as("p_lo"),
        expr(s"percentile($valCol, $hi)").as("p_hi"))
      .select(col(keyCol), col("n_values"),
        (col("p_approx") >= col("p_lo") && col("p_approx") <= col("p_hi"))
          .as("approx_ok"))
}
