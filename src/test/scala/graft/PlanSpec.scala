package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions.{col, concat, count, lit}

/** Physical-plan guards: the properties that make these queries survive a
  * 100x scale-up are asserted here, so a regression in plan shape (lost
  * pushdown, a broadcast turning into a shuffle join, a sort sneaking in)
  * fails CI — not a cluster bill.
  */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String = {
    val df: DataFrame = SparkEntry.queries(name)(spark, sf)
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))
  }

  test("p4_time_cutoff: cutoff reaches the scan THROUGH the ts conversion") {
    val p = plan("p4_time_cutoff")
    // The events fixture has shipped as TIMESTAMP(NANOS) (read as raw long;
    // NanosPredicatePushdown rewrites ts < L onto the nanos) and as naive
    // timestamp[us] (TIMESTAMP_NTZ; Spark unwraps the NTZ->LTZ cast under
    // the UTC session TZ). Either way the cutoff must reach PushedFilters —
    // post-scan filtering would read 100% of rows at 100 TB.
    assert(p.contains("LessThan(ts,1705276800000000000") ||
           p.contains("LessThan(ts,2024-01-15T00:00"), p)
  }

  test("s5_column_slice: scan reads only the projected columns") {
    val p = plan("s5_column_slice")
    assert(!p.contains("l_returnflag"), p) // unprojected column never read
    assert(p.contains("l_extendedprice"), p)
  }

  test("j1/j2/j3: dimension joins broadcast (no fact-side shuffle)") {
    Seq("j1_semi_join", "j2_broadcast_join_agg", "j3_anti_join").foreach { q =>
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q:\n$p")
      assert(!p.contains("SortMergeJoin"), s"$q:\n$p")
    }
  }

  test("a1_group_sum: partial (map-side) aggregation before the shuffle") {
    val p = plan("a1_group_sum")
    assert(p.contains("HashAggregate"), p)
    assert(p.contains("Exchange"), p)
    // partial+final pairs: at least two HashAggregate nodes
    assert("HashAggregate".r.findAllIn(p).length >= 2, p)
  }

  test("o5_top_k: planned as TakeOrderedAndProject, not a global sort") {
    val p = plan("o5_top_k")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("j5_interval_join: equi key keeps it a hash join (range as residual)") {
    val p = plan("j5_interval_join")
    assert(p.contains("HashJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("j7_range_join_banded: the keyless range join is a hash join on bands, not a nested loop") {
    val p = plan("j7_range_join_banded")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("__band"), p) // the band id is the join key
  }

  test("j4_asof_join: single shuffle per side, no nested-loop") {
    val p = plan("j4_asof_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("Window"), p)
  }

  test("d1_dedup_exact: md5-keyed aggregate combines map-side (16-byte shuffle keys)") {
    val p = plan("d1_dedup_exact")
    assert("HashAggregate".r.findAllIn(p).length >= 2, p) // partial + final
    assert(p.contains("md5"), p)
  }

  test("s3_knn_ivf: candidate generation joins on cell id, never cross-product") {
    val p = plan("s3_knn_ivf")
    assert(!p.contains("CartesianProduct"), p)
    // the candidate join must be keyed on cell id — either a keyed shuffle
    // (large inputs) or a cid-keyed broadcast hash join (small inputs);
    // cell ASSIGNMENT must not shuffle (it's per-row array algebra now)
    assert(p.contains("hashpartitioning(cid") ||
      """Left keys \[1\]: \[cid""".r.findFirstIn(p).nonEmpty, p)
    assert(!p.contains("hashpartitioning(sid"), s"cell assignment must not shuffle:\n$p")
  }

  test("x2/x3 multiway joins: dims broadcast, one fact-fact shuffle, top-k not global sort") {
    val p2 = plan("x2_topk_revenue")
    assert(p2.contains("TakeOrderedAndProject"), p2) // top-k never global-sorts
    assert(p2.contains("BroadcastHashJoin"), p2)     // customer dim broadcasts
    assert(p2.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThan(l_shipdate"), p2)
    val p3 = plan("x3_region_revenue")
    // at most ONE keyed exchange pair (the fact-fact lineitem x orders join;
    // at tiny sf even that side broadcasts); dims must never shuffle
    val keyedExchanges = "hashpartitioning\\(".r.findAllIn(p3).length
    assert(keyedExchanges <= 2, s"more than the lineitem+orders exchanges:\n$p3")
    assert(!p3.contains("CartesianProduct"), p3)
    assert(p3.contains("BroadcastHashJoin"), p3)
  }

  test("runtime bloom filter prunes the fact side of a selective shuffled join") {
    // At 100 TB a selective dim filter on a non-broadcastable join should
    // inject a bloom filter into the fact scan (row-level runtime filtering
    // before the shuffle). Default-on in this session's config; thresholds
    // lowered here because the test inputs are tiny.
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
      .map(k => k -> spark.conf.get(k))
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      val part = graft.core.Tables.part(spark, sf).filter(col("p_size") <= 2)
      val joined = graft.core.Tables.lineitem(spark, sf)
        .join(part, col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand")).agg(count(lit(1)).as("n"))
      val p = joined.queryExecution.optimizedPlan.toString
      assert(p.contains("might_contain") && p.contains("bloom_filter_agg"),
        s"no runtime bloom filter injected:\n$p")
    } finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("dp1/dq1: expectations cost ONE scan; profile scans prune to one column each") {
    // dq1: every rule folds into a single aggregate over a single scan
    val pq = plan("dq1_expectations")
    assert("Location: InMemoryFileIndex".r.findAllIn(pq).length == 1,
      s"dq1_expectations re-scans the table:\n$pq")
    // dp1 (round 19): one branch per profiled column — a HASH aggregate to
    // distinct values, not the old Expand + SortAggregate (min/max over a
    // string column keeps a var-length buffer no hash aggregate supports,
    // so the single-scan form sorted k copies of every row). Each branch's
    // scan must prune to exactly its own column, so the k scans together
    // read the same bytes the one 3-column scan did.
    // (a SortAggregate remains for the distinct-SIZED min/max rollup —
    // var-length string buffers can't hash-aggregate — but never over raw
    // rows: the Expand that multiplied every row k-ways must stay gone)
    val pp = plan("dp1_profile")
    assert(!pp.contains("Expand"),
      s"dp1_profile regressed to the Expand shape:\n$pp")
    assert(pp.contains("HashAggregate"),
      s"dp1_profile's row-count-sized phase must hash-aggregate:\n$pp")
    val reads = pp.linesIterator.filter(_.startsWith("ReadSchema")).toSeq
    assert(reads.nonEmpty && reads.forall(r => r.count(_ == ':') == 2),
      s"dp1_profile branch scan reads more than its own column:\n${reads.mkString("\n")}")
  }

  test("w2_rownum_topn: per-group top-n gets WindowGroupLimit (rank filter pushed below the sort)") {
    val p = plan("w2_rownum_topn")
    // Spark 3.5+ plans rn <= k as WindowGroupLimit: each partition keeps k
    // rows per group BEFORE the window sort's exchange — at scale this is
    // the difference between shuffling k rows per group and every row
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("pk1_sequence_pack: no single-task global window (the prefix sum is two-level)") {
    val p = plan("pk1_sequence_pack")
    // a naive global running sum plans Exchange SinglePartition under the
    // Window — the exact bottleneck the two-level prefix sum exists to avoid.
    // The final orderBy is presentation-only (range partitioned), so the only
    // SinglePartition allowed is none at all.
    assert(!p.contains("Exchange SinglePartition"), p)
    assert(p.contains("Window"), p)
  }

  test("sm7_shuffle_order: no single-task global window (rank is two-level)") {
    val p = plan("sm7_shuffle_order")
    // a naive ROW_NUMBER() OVER (ORDER BY hash) plans Exchange
    // SinglePartition under the Window — the bottleneck the two-level rank
    // exists to avoid. The presentation orderBy is range-partitioned.
    assert(!p.contains("Exchange SinglePartition"), p)
    assert(p.contains("Window"), p)
  }

  test("sp2_temporal_purged_split: both cutoffs reach the scan as one Or filter") {
    val p = plan("sp2_temporal_purged_split")
    // post-scan filtering of the time slice would read 100% of events at
    // 100 TB; the OR of the two range predicates must push (nanos fixtures
    // via NanosPredicatePushdown, NTZ fixtures natively)
    assert(p.contains("Or(LessThan(ts,"), p)
  }

  test("e7_roc_auc: no single-task per-group window (the rank prefix is two-level)") {
    val p = plan("e7_roc_auc")
    // a naive per-language rank window plans Exchange SinglePartition per
    // group task; the two-level (group, score-bucket) prefix never does.
    assert(!p.contains("Exchange SinglePartition"), p)
    assert(p.contains("Window"), p)
  }

  test("ax8_cms_counts: sketch matrices merge map-side (partial+final agg), never per-key rows") {
    val p = plan("ax8_cms_counts")
    // the sketch branch must plan as ObjectHashAggregate partial -> one
    // matrix-sized row per partition -> final merge; a per-key shuffle of
    // raw items would defeat the whole point of a bounded-state sketch
    assert(p.contains("partial_graft_count_min"), p)
    assert("ObjectHashAggregate".r.findAllIn(p).length >= 2, p)
  }

  test("ax7_kmv_quantile: bottom-m rank filter runs below the key exchange (WindowGroupLimit x2)") {
    val p = plan("ax7_kmv_quantile")
    // partial WindowGroupLimit under the Exchange caps the shuffle at m rows
    // per (key, map partition); its absence means every row rides the shuffle
    assert("WindowGroupLimit".r.findAllIn(p).length >= 2, p)
    val exIdx = p.indexOf("+- Exchange")
    val wglIdx = p.lastIndexOf("WindowGroupLimit")
    assert(exIdx >= 0 && wglIdx > exIdx, p) // a WGL sits BELOW an exchange
  }

  test("bf1_bloom_prefilter: bitmap test filters in-scan; exact verify is a broadcast join") {
    val p = plan("bf1_bloom_prefilter")
    // the corpus side must test the literal bitmap (shiftright probes)
    // BEFORE its distinct exchange — only bloom survivors ride a shuffle —
    // and the benchmark side joins as a broadcast, never a shuffle join
    assert(p.contains("shiftright"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("s22_lsh_multiprobe: probe fan-out is per-row explode, bucket join never a cartesian") {
    val p = plan("s22_lsh_multiprobe")
    // the XOR flip expansion must be a Generate on the probe side (query
    // rows only), not a join against a flip table; candidates stay a
    // (tbl, bucket)-keyed hash join; top-k gets WindowGroupLimit
    assert("Generate".r.findAllIn(p).length >= 2, p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("fn1_curation_funnel: the whole funnel costs ONE table scan") {
    val p = plan("fn1_curation_funnel")
    // formatted plans print each node twice (tree line + detail block)
    assert("Scan parquet".r.findAllIn(p).length == 2, p)
  }

  test("t19_blocklist: one Aho-Corasick pass inside the scan stage, no pre-explode shuffle") {
    val p = plan("t19_blocklist")
    assert(p.contains("graft_aho_corasick"), p)
    assert("Scan parquet".r.findAllIn(p).length == 2, p) // one scan node
    // the only exchange is the presentation sort — matching runs map-side
    assert("Exchange".r.findAllIn(p).length <= 2, p) // one exchange node
  }

  test("t22_quality_classifier: model passes shuffle 8-byte buckets, never text") {
    val p = plan("t22_quality_classifier")
    assert(p.contains("graft_ln_micro"), p)
    assert("HashAggregate".r.findAllIn(p).length >= 2, p) // partial + final
    // features travel as (did, bucket) longs; document text must stay
    // inside the scan stage (the d14 text-free-shuffle contract)
    val exchanges = p.linesIterator.filter(_.contains("Arguments: hashpartitioning")).toSeq
    assert(exchanges.nonEmpty, p)
    assert(!exchanges.exists(_.contains("text#")),
      s"text column travels through a shuffle:\n${exchanges.mkString("\n")}")
  }

  test("e2_retrieval_metrics: integer metrics, equi-joined hits, no cartesian blowup") {
    val p = plan("e2_retrieval_metrics")
    assert(p.contains("graft_ln_micro"), p) // DCG discounts via the kernel
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("WindowGroupLimit"), p) // both top-k inputs stay capped
  }

  test("e4_ngram_overlap: per-pair kernel — no gram aggregate, no window, " +
      "no cartesian") {
    val p = plan("e4_ngram_overlap")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("windowspecdefinition"), p)
    // round 19: the whole per-order statistic comes out of ONE codegen'd
    // per-row kernel over the pair-joined texts — the former (id, ord,
    // gram) count aggregates and clip join (four gram-keyed exchanges) are
    // gone. The only exchange the pair join may add carries the texts ONCE
    // (the e8/chrF posture); at this fixture scale it broadcasts.
    assert(p.contains("graft_wordgram_stats"), p)
    assert(!p.contains("HashAggregate"),
      s"gram aggregates reappeared in the kernel plan:\n$p")
    val gramKeyed = p.linesIterator
      .filter(_.contains("Arguments: hashpartitioning")).filter(_.contains("gram#"))
    assert(gramKeyed.isEmpty,
      s"gram-keyed exchange reappeared:\n${gramKeyed.mkString("\n")}")
  }

  test("e5_corpus_bleu: logs via the integer kernel on group-sized rows, " +
      "no cartesian") {
    val p = plan("e5_corpus_bleu")
    assert(p.contains("graft_ln_micro"), p) // LnFp kernel, not libm
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("windowspecdefinition"), p)
  }

  test("e6_rouge_l: native LCS kernel in-plan, one pair join, no window") {
    val p = plan("e6_rouge_l")
    assert(p.contains("graft_lcs_tokens"), p) // the DP runs native, not HOF
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("windowspecdefinition"), p)
  }

  test("fts4_phrase_search: slot fan-out in-scan, only watched-term longs shuffle") {
    val p = plan("fts4_phrase_search")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // the slot marks are a literal-array Generate, not a join against a
    // terms table; text stays inside the scan stage
    assert(p.contains("Generate"), p)
    val exchanges = p.linesIterator.filter(_.contains("Arguments: hashpartitioning")).toSeq
    assert(exchanges.nonEmpty, p)
    assert(!exchanges.exists(_.contains("text#")),
      s"text column travels through a shuffle:\n${exchanges.mkString("\n")}")
  }

  test("t23_perplexity_buckets: rank window is (group, bucket)-partitioned, " +
      "never group-only") {
    val p = plan("t23_perplexity_buckets")
    assert(p.contains("Window"), p)
    assert(!p.contains("Exchange SinglePartition"), p)
    // the r12 scale finding: a window partitioned by the group alone
    // serializes each LANGUAGE through one task at 100 TB. Every window
    // spec must carry the prefix bucket key alongside the group.
    val specs = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(specs.nonEmpty, p)
    assert(specs.forall(_.contains("__kb#")),
      s"group-only window (no __kb bucket key):\n${specs.mkString("\n")}")
  }

  test("ch3_cdc_chunks: native boundary kernel in-plan, no pre-chunk shuffle") {
    val p = plan("ch3_cdc_chunks")
    assert(p.contains("graft_cdc_boundaries"), p)
    // chunking is map-side: the only exchange is the presentation sort
    assert(!p.contains("Arguments: hashpartitioning"), p)
  }

  test("t18_token_entropy: ln kernel per (doc, type) behind a map-side combine") {
    val p = plan("t18_token_entropy")
    assert(p.contains("graft_ln_micro"), p)
    assert("HashAggregate".r.findAllIn(p).length >= 2, p) // partial + final
  }

  test("pk2_banded_pack: banded prefix sum never plans a single-task window") {
    val p = plan("pk2_banded_pack")
    assert(!p.contains("Exchange SinglePartition"), p)
    assert(p.contains("Window"), p)
  }

  test("sm11_weighted_k_per_stratum: per-stratum top-k gets WindowGroupLimit") {
    val p = plan("sm11_weighted_k_per_stratum")
    // partial WGL below the stratum exchange caps shuffled rows at k per
    // (stratum, map partition)
    assert("WindowGroupLimit".r.findAllIn(p).length >= 2, p)
  }

  test("sm12_token_budget: running-sum window is (source, bucket)-partitioned, " +
      "never source-only") {
    val p = plan("sm12_token_budget")
    assert(!p.contains("Exchange SinglePartition"), p)
    assert(p.contains("Window"), p)
    // a handful of sources IS the corpus at 100 TB — the running sum must
    // ride the two-level score-range buckets, not a per-source sort
    val specs = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(specs.nonEmpty, p)
    assert(specs.forall(_.contains("__kb#")),
      s"source-only window (no __kb bucket key):\n${specs.mkString("\n")}")
  }

  test("sm13_target_mix: quota rank window is (stratum, bucket)-partitioned, " +
      "never stratum-only") {
    val p = plan("sm13_target_mix")
    assert(!p.contains("Exchange SinglePartition"), p)
    // quotas are stratum-sized, so WindowGroupLimit cannot prune a
    // stratum-only rank — the md5 range buckets are the only scale path
    val specs = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(specs.nonEmpty, p)
    assert(specs.forall(_.contains("__kb#")),
      s"stratum-only window (no __kb bucket key):\n${specs.mkString("\n")}")
  }

  test("d14_decontaminate: only hashed gram keys shuffle, never text") {
    val p = plan("d14_decontaminate")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // every exchange below the overlap join carries (g) or (sid, g) longs;
    // the document text column must not appear in any exchange output
    val exchanges = p.linesIterator.filter(_.contains("Arguments: hashpartitioning")).toSeq
    assert(exchanges.nonEmpty, p)
    assert(!exchanges.exists(_.contains("text#")),
      s"text column travels through a shuffle:\n${exchanges.mkString("\n")}")
    // the benchmark semi-join filters corpus grams MAP-SIDE, below any
    // exchange: walking UP from the corpus scan, the nearest join/exchange
    // ancestor must be the broadcast semi-join, not a corpus-wide distinct
    // shuffle (the 100 TB lever — only matched grams may shuffle)
    val lines = p.split("\n\n").head.linesIterator.toVector
    val scanIdx = lines.indexWhere(_.contains("Scan parquet")) // probe side prints first
    val nearest = (scanIdx - 1) to 0 by -1 collectFirst {
      case i if lines(i).contains("BroadcastHashJoin") => "bhj"
      case i if lines(i).contains("Exchange") => "exchange"
    }
    assert(nearest.contains("bhj"),
      s"corpus grams must pass the semi-join BEFORE any shuffle, got $nearest:\n${lines.mkString("\n")}")
  }

  test("d21_ngram_novelty: hashed gram keys shuffle with map-side combine, never text") {
    val p = plan("d21_ngram_novelty")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    val exchanges = p.linesIterator.filter(_.contains("Arguments: hashpartitioning")).toSeq
    assert(exchanges.nonEmpty, p)
    assert(!exchanges.exists(_.contains("text#")),
      s"text column travels through a shuffle:\n${exchanges.mkString("\n")}")
    // both reduces (per-doc totals, first-holder min) combine map-side:
    // partial aggregates must appear below their exchanges
    assert(p.contains("partial_count") || p.contains("Partial"),
      s"gram aggregates must combine map-side:\n$p")
  }

  test("d24_cross_source_leakage: gram keys shuffle, text never does, no cartesian") {
    val p = plan("d24_cross_source_leakage")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    val exchanges = p.linesIterator.filter(_.contains("Arguments: hashpartitioning")).toSeq
    assert(exchanges.nonEmpty, p)
    assert(!exchanges.exists(_.contains("text#")),
      s"text column travels through a shuffle:\n${exchanges.mkString("\n")}")
  }

  test("sm9 hashed contract stays ALL-INTEGER (the round-12 cross-engine-float lesson)") {
    // two rounds of driver-red taught this: any float column in sm9's
    // hashed output can flip across DuckDB builds. The operator emits only
    // integral columns now — this guard keeps it that way.
    val df = SparkEntry.queries("sm9_importance_resample")(spark, sf)
    val nonIntegral = df.schema.fields.filterNot(f =>
      f.dataType == org.apache.spark.sql.types.LongType ||
        f.dataType == org.apache.spark.sql.types.IntegerType)
    assert(nonIntegral.isEmpty,
      s"sm9 output must be all-integer, found: ${nonIntegral.mkString(", ")}")
  }

  test("minhash/simhash signatures are per-row native kernels (no shingle explode shuffle)") {
    val p = plan("d3_minhash_candidates")
    assert(p.contains("graft_minhash_sig"), p)
    // the signature stage must not explode shingles into an aggregate:
    // the only exchanges are the band-bucket self-join's
    assert(!p.contains("Generate explode"), p)
  }

  test("dot-product kernel participates in whole-stage codegen") {
    val df = SparkEntry.queries("s1_knn_bruteforce")(spark, sf)
    df.collect() // AQE: codegen annotations only exist on the final plan
    val p = df.queryExecution.executedPlan.toString
    // the '*(n)' star marks a WholeStageCodegen stage; the dot-product call
    // must appear inside one, not in an interpreted Project
    assert("""\*\(\d+\) Project \[[^\n]*graft_dot_long""".r.findFirstIn(p).nonEmpty, p)
  }

  test("u4_scd2_history: both SCD2 windows share ONE key exchange and sort") {
    val p = plan("u4_scd2_history")
    // change detection (lag) and range close (lead) use the same
    // (key, order) window spec — the second Window must reuse the first's
    // hashpartitioning and sort. Only the presentation orderBy's range
    // exchange may appear beyond the one key exchange.
    val keyed = p.linesIterator.count(_.contains("Arguments: hashpartitioning"))
    assert(keyed == 1, s"SCD2 must cost one key exchange, got $keyed:\n$p")
    assert("Window \\(".r.findAllIn(p).length == 2, p)
  }

  test("x9_cheapest_supplier: correlated min decorrelates to ONE scan + ONE exchange") {
    val p = plan("x9_cheapest_supplier")
    // window-min form: a single lineitem scan; the aggregate-join-back form
    // would scan the fact twice and shuffle three times
    assert("Location: InMemoryFileIndex".r.findAllIn(p).length == 3, p) // lineitem+part+supplier
    val keyed = p.linesIterator.count(_.contains("Arguments: hashpartitioning"))
    assert(keyed == 1, s"expected one p_partkey exchange, got $keyed:\n$p")
    assert(!p.contains("SortMergeJoin"), p) // dims broadcast
  }

  test("x10_waiting_orders: exists/not-exists are equi-keyed semi/anti joins") {
    val p = plan("x10_waiting_orders")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("LeftAnti"), p)
  }

  test("x11_big_quantity_orders: HAVING aggregate feeds the join, top-20 never global-sorts") {
    val p = plan("x11_big_quantity_orders")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert("HashAggregate".r.findAllIn(p).length >= 2, p) // partial + final
  }

  test("x12_dominant_suppliers: aggregate and window share ONE fact exchange") {
    val p = plan("x12_dominant_suppliers")
    // the l_partkey pre-partitioning satisfies both the (partkey, suppkey)
    // aggregate and the per-part window; only the dimension-sized s_name
    // aggregate may add a keyed exchange
    val keyed = p.linesIterator.count(_.contains("hashpartitioning(l_partkey"))
    assert(keyed == 1, s"expected one l_partkey exchange, got $keyed:\n$p")
    assert(!p.contains("SortMergeJoin"), p) // supplier dim broadcasts
  }

  test("s8_pq_adc_knn: encoding is shuffle-free, top-k gets WindowGroupLimit") {
    val p = plan("s8_pq_adc_knn")
    // PQ encode is per-row array algebra against a broadcast codebook: the
    // only keyed shuffle allowed is the per-query top-k window's qid
    // exchange; the candidate table itself must never hash-shuffle
    assert(!p.contains("hashpartitioning(sid"), s"encode must not shuffle:\n$p")
    assert(!p.contains("hashpartitioning(nid"), s"codes must not shuffle:\n$p")
    assert(p.contains("WindowGroupLimit"), p) // rank<=k pushed below the sort
  }

  test("s9_ivfpq_knn: materialized index self-cleans (only the result leaf persists)") {
    // the operator pins its shared index state (Storage.cut) so the member
    // and probe branches run the scan + cell ranking ONCE; the
    // freeingIntermediates wrapper must release those corpus-sized blocks
    // on exit, keeping only the small top-k result. (Join-shape guards
    // live in SimilaritySpec against the un-pinned plan.)
    graft.core.Storage.freeAll(spark, blocking = true)
    SparkEntry.queries("s9_ivfpq_knn")(spark, sf).count()
    val persisted = spark.sparkContext.getPersistentRDDs
    assert(persisted.size <= 1,
      s"index intermediates leaked: ${persisted.keySet}")
  }

  test("x16_forecast_revenue: all three range predicates push to the parquet scan") {
    val p = plan("x16_forecast_revenue")
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), p)
    assert(p.contains("LessThan(l_shipdate"), p)
    assert(p.contains("GreaterThanOrEqual(l_discount,0.05)"), p)
    assert(p.contains("LessThan(l_quantity,24"), p)
  }

  test("x18_nation_profit: dims broadcast, lineitem-orders is the only fact exchange") {
    // at fixture scale the optimizer would broadcast orders too; disabling
    // the size-based threshold leaves only the EXPLICIT broadcast() hints —
    // the plan a 100 TB run would see, where orders outgrows any broadcast
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val p = try plan("x18_nation_profit")
      finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    // part/supplier/nation all ride broadcasts; the one shuffle join is the
    // fact-fact lineitem-orders equi-join, plus the final group-by exchange.
    // (Formatted explain prints each node once in the tree and once in the
    // details section — count the numbered detail headers.)
    assert("""\(\d+\) BroadcastHashJoin""".r.findAllIn(p).length == 3, p)
    assert("""\(\d+\) (SortMergeJoin|ShuffledHashJoin)""".r.findAllIn(p).length == 1, p)
    // the p_name filter prunes part BEFORE its broadcast
    assert(p.contains("StringContains(p_name,gear)") || p.contains("Contains(p_name, gear)"), p)
  }

  test("x21_bracket_revenue: Catalyst splits the OR-of-ANDs onto BOTH scans") {
    val p = plan("x21_bracket_revenue")
    // the brand/size disjunction must reach the part scan and the quantity
    // disjunction must reach the lineitem scan as pushed filters — the Q19
    // plan property that saves two full scans at 100 TB
    assert(p.contains("Or(And(EqualTo(p_brand,Brand#12)"), p)
    assert("""Or\(And\(GreaterThanOrEqual\(l_quantity,1""".r.findFirstIn(p).nonEmpty
      || p.contains("Or(And(GreaterThanOrEqual(l_quantity"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("x22_returned_revenue: top-20 plans as TakeOrderedAndProject, no cartesian") {
    val p = plan("x22_returned_revenue")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("EqualTo(l_returnflag,R)"), p) // flag pushed to the scan
  }

  test("x23_important_stock: threshold branch REUSES the per-part exchange") {
    // Q11's shape hazard is computing the same filtered aggregate twice
    // (per-part rows + the global scalar). The plan must share ONE lineitem
    // exchange via ReusedExchange, with the scalar riding a one-row
    // broadcast nested loop — the only place a BNLJ is the right plan.
    val df = SparkEntry.queries("x23_important_stock")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(p.contains("ReusedExchange"),
      s"threshold must not re-scan the fact table:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("s10_ivfpq_trained: trained index self-cleans like the seeded one") {
    // the Lloyd rounds add per-round pinned frames inside
    // kmeansCentroidsFrom's loop body; the freeingIntermediates wrapper
    // must still release everything corpus-sized on exit
    graft.core.Storage.freeAll(spark, blocking = true)
    SparkEntry.queries("s10_ivfpq_trained")(spark, sf).count()
    val persisted = spark.sparkContext.getPersistentRDDs
    assert(persisted.size <= 1,
      s"trained index intermediates leaked: ${persisted.keySet}")
  }

  test("ax5 native KMV: one partial+final aggregate pair, no distinct pre-shuffle") {
    // the window-based plan (ax3) needs a distinct aggregate AND a rank
    // window; the native aggregate must plan as ONE partial/final
    // ObjectHashAggregate pair over the scan — the single-pass shape that
    // moves k longs per partition instead of the distinct-hash set.
    // Inspect the TREE section only (formatted explain repeats every node
    // in the details section).
    val tree = plan("ax5_kmv_native").split("\n\n").head
    val aggs = tree.linesIterator.count(l =>
      l.contains("ObjectHashAggregate") || l.contains("SortAggregate"))
    assert(aggs == 2, s"expected exactly partial+final aggregate:\n$tree")
    assert(!tree.contains("Window"), s"no rank window in the native path:\n$tree")
    val exchanges = tree.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 2, s"one lang exchange (+ output sort) max:\n$tree")
  }

  test("pq-adc kernel participates in whole-stage codegen") {
    val df = SparkEntry.queries("s8_pq_adc_knn")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert("""\*\(\d+\) Project \[[^\n]*graft_pq_adc""".r.findFirstIn(p).nonEmpty, p)
  }

  test("every KernelCall row runs as one static call inside whole-stage codegen") {
    // one call per kernel row of the registry; `t` and `id` come from the
    // range so nothing constant-folds away before execution
    val calls = Map(
      "graft_ln_micro" -> "graft_ln_micro(id + 2, 1L)",
      "graft_gumbel_micro" -> "graft_gumbel_micro(id)",
      "graft_md5_prefix_long" -> "graft_md5_prefix_long(t, 6)",
      "graft_simhash_long" -> "graft_simhash_long(t)",
      "graft_minhash_sig" -> "graft_minhash_sig(t, 2)",
      "graft_winnow_long" -> "graft_winnow_long(t, 3, 2)",
      "graft_cdc_boundaries" -> "graft_cdc_boundaries(t, 2, 3)",
      "graft_lcs_tokens" -> "graft_lcs_tokens(t, t)",
      "graft_html_strip" -> "graft_html_strip(t)",
      "graft_unicode_fix" -> "graft_unicode_fix(t)",
      "graft_chrf_stats" -> "graft_chrf_stats(t, t, 2)",
      "graft_wordgram_stats" -> "graft_wordgram_stats(t, t, 2)",
      "graft_shingle_hashes" -> "graft_shingle_hashes(t, 2, 6)",
      "graft_shingle_hashes_all" -> "graft_shingle_hashes_all(t, 2, 6)",
      "graft_ngram_rows" -> "graft_ngram_rows(t, 2)",
      "graft_word_windows" -> "graft_word_windows(t, 2)",
      "graft_rank_cells" -> ("graft_rank_cells(array(id), 1.0D, array(named_struct(" +
        "'cid', 1L, 'cv', array(1L), 'cnrm', 1.0D)))"),
      "graft_pq_lut" -> ("graft_pq_lut(array(id, id), " +
        "array(array(array(1L), array(2L)), array(array(3L), array(4L))), 2, 2)"),
      "graft_quantize" -> "graft_quantize(array(CAST(id AS double)), 1000)",
      "graft_sq8_codes" ->
        "graft_sq8_codes(array(CAST(id AS double)), array(0.0D), array(10.0D))",
      "graft_dot_long" -> "graft_dot_long(array(id), array(id))",
      "graft_lsh_buckets" -> "graft_lsh_buckets(array(id, 1L), array(1L, -1L, 2L, 3L), 2)",
      "graft_pq_adc" -> "graft_pq_adc(array(id % 2), array(array(5L, 7L)))",
      "graft_pq_adc_direct" ->
        "graft_pq_adc_direct(array(id, id), array(0L), array(array(array(1L, 2L))))",
      "graft_pq_encode" ->
        "graft_pq_encode(array(id, id), array(array(array(1L, 2L), array(3L, 4L))))",
      "graft_aho_corasick" -> "graft_aho_corasick(t, array('a', 'b a'))",
      "graft_subword_count" -> "graft_subword_count(t, array('a', 'b'))",
      "graft_bpe_segment" -> "graft_bpe_segment(t, array('a', ' '))",
      "graft_unigram_segment" -> ("graft_unigram_segment(t, " +
        "array('a', 'b', ' ', '0', '1', '2'), array(-1L, -1L, -1L, -1L, -1L, -1L))"),
      "graft_word_set_count" -> "graft_word_set_count(t, array('a'))",
      "graft_lang_id" -> "graft_lang_id(t, array('x', 'y'), array(array('a'), array('b')))")
    val kernelRows = graft.plans.GraftFunctions.all
      .filter(_.owner == classOf[graft.plans.KernelCall]).map(_.name).toSet
    assert(calls.keySet == kernelRows, kernelRows.diff(calls.keySet))
    // 20 calls per query: a plan string shows only a Project's first 25 fields
    val p = calls.toSeq.grouped(20).map { chunk =>
      val df = spark.sql(chunk.map { case (n, c) => s"$c AS $n" }
        .mkString("SELECT ", ", ", " FROM (SELECT id, concat('a b a ', id) AS t FROM range(3))"))
      df.collect()
      df.queryExecution.executedPlan.toString
    }.mkString("\n")
    calls.keys.foreach { n =>
      assert(("""\*\(\d+\) Project \[[^\n]*static_invoke\(graft\.plans\.GraftFunctions\.""" +
        n + """\(""").r.findFirstIn(p).nonEmpty, s"$n:\n$p")
    }
    // analysis keeps the SQL name: auto-generated column names show the
    // shown arguments only, never a constant the builder took out
    val named = spark.sql("SELECT graft_md5_prefix_long(t, 6), " +
      "graft_word_windows(t, 2) FROM (SELECT 'a b' AS t)")
    assert(named.columns.toSeq ==
      Seq("graft_md5_prefix_long(t)", "graft_word_windows(t, 2)"), named.columns)
  }

  test("matcher kernels: the matcher is hidden, and equal calls group together") {
    // every row is a kernel call but the four aggregate sketches
    val owners = graft.plans.GraftFunctions.all.map(_.owner)
    assert(owners.forall(o => o == classOf[graft.plans.KernelCall] ||
      o == classOf[graft.plans.SketchCall[_]]), owners)
    assert(owners.count(_ == classOf[graft.plans.SketchCall[_]]) == 4, owners)
    val q = "SELECT graft_word_set_count(t, array('a', 'the')), count(*) AS c " +
      "FROM (SELECT concat('a the ', id % 3) AS t FROM range(6)) " +
      "GROUP BY graft_word_set_count(t, array('a', 'the'))"
    val df = spark.sql(q)
    assert(df.columns.toSeq == Seq("graft_word_set_count(t)", "c"), df.columns)
    assert(df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((2L, 6L)))
  }

  test("pq-adc kernel throws on out-of-range codes instead of a wrong distance") {
    import spark.implicits._
    val df = Seq((Array(0L, 9L), Array(Array(1L, 2L), Array(3L, 4L))))
      .toDF("codes", "lut")
      .select(graft.plans.GraftFunctions.pqAdc(col("codes"), col("lut")))
    val e = intercept[Exception](df.collect())
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(c =>
      c.getMessage != null && c.getMessage.contains("out of range")), e)
  }

  test("lm1_ngram_counts: all orders fan out in ONE scan, aggregate is map-side combined") {
    val p = plan("lm1_ngram_counts")
    // one documents scan: the per-order union-of-scans shape re-reads the
    // text column maxOrder times at 100 TB (count detail headers only —
    // each node also appears once in the tree summary)
    assert("\\(\\d+\\) Scan parquet".r.findAllIn(p).length == 1, p)
    // partial+final aggregate pair around the (ord, gram) exchange
    assert("HashAggregate|ObjectHashAggregate|SortAggregate".r
      .findAllIn(p).length >= 2, p)
  }

  test("lm2_kneser_ney: marginals derive from the count table, no window, no cartesian blowup") {
    val p = plan("lm2_kneser_ney")
    assert(!p.contains("Window"), p)
    // the only nested-loop join is the broadcast of the 1-row n1tot total
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("lm3_kneser_ney_trigram: type-keyed equi-join chain, no window, no cartesian blowup") {
    val p = plan("lm3_kneser_ney_trigram")
    assert(!p.contains("Window"), p)
    // the only nested-loop join is the broadcast of the 1-row n1tot total
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("lm4_kn_doc_score: ln kernel evaluates per pair TYPE, not per occurrence") {
    val p = plan("lm4_kn_doc_score")
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the integer ln must sit above the distinct-pair aggregate (one eval
    // per type); an occurrence-level ln would re-run the recurrence per
    // bigram instance — corpus-sized, not type-sized
    val lnLine = p.linesIterator.find(_.contains("graft_ln_micro"))
    assert(lnLine.isDefined, s"no ln kernel in plan:\n$p")
  }

  test("lm6_kn_perplexity_tiers: rank window is (group, bucket)-partitioned, never group-only") {
    val p = plan("lm6_kn_perplexity_tiers")
    val specs = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(specs.nonEmpty, p)
    assert(specs.forall(_.contains("__kb#")),
      s"group-only window (no __kb bucket key):\n${specs.mkString("\n")}")
  }

  test("dot-product kernel throws on dimension mismatch instead of truncating") {
    import spark.implicits._
    val df = Seq((Array(1L, 2L, 3L), Array(1L, 2L))).toDF("a", "b")
      .select(graft.plans.GraftFunctions.dotLong(
        org.apache.spark.sql.functions.col("a"),
        org.apache.spark.sql.functions.col("b")))
    val e = intercept[Exception](df.collect())
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(_.getMessage != null) &&
      causes(e).exists(c => c.getMessage != null && c.getMessage.contains("length mismatch")), e)
  }

  test("d30_exact_substr_spans: pair-free plan — no cartesian, per-DOC window, 8-byte gram keys") {
    val p = plan("d30_exact_substr_spans")
    assert(!p.contains("CartesianProduct"), p)
    // the covered-position semi-join keys on the 48-bit gram hash, never
    // on gram text (token text must not shuffle at 100 TB)
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("hashpartitioning(g#") || p.contains("Left keys [1]: [g#"), p)
    // the islands window partitions by document — doc-bounded state, never
    // a corpus-global sort (an empty partitionSpec would single-task it)
    assert(p.contains("Window"), p)
    // formatted explain prints the spec as windowspecdefinition(<partition
    // cols>, <order>, <frame>): the leading sid# IS the per-doc partition
    // (a global window would open with the order column instead)
    assert(p.contains("windowspecdefinition(sid#"), p)
    // dup-gram count combines map-side before its exchange
    assert("HashAggregate".r.findAllIn(p).length >= 2, p)
  }

  test("t15_bpe_segment: segmentation is ONE native kernel, not per-merge fold layers") {
    val p = plan("t15_bpe_segment")
    assert(p.contains("graft_bpe_segment"), p)
    // the old declarative form left one interpreted aggregate(lambda...)
    // layer per merge in the plan — at production vocab sizes that is an
    // expression-tree explosion, so its absence IS the contract
    assert(!p.contains("aggregate(lambda"), p)
  }

  test("dsir1_importance_weights: windowless — broadcast model, map-side counts only") {
    val p = plan("dsir1_importance_weights")
    assert(!p.contains("Window"), p)
    assert(p.contains("BroadcastExchange"), p) // the 2m-bucket model rides broadcast
    assert("HashAggregate".r.findAllIn(p).length >= 4, p) // partial+final x2 count paths
    assert(!p.contains("CartesianProduct"), p)
  }

  test("s25_binary_sign_knn: shortlist caps via WindowGroupLimit; queries broadcast") {
    val p = plan("s25_binary_sign_knn")
    assert(p.contains("WindowGroupLimit"), p) // per-query hamming top-n, map-side capped
    assert(p.contains("BroadcastExchange"), p)
    assert(!p.contains("CartesianProduct"), p) // the 8-query cross is a broadcast NLJ
  }

  test("lm7_stupid_backoff: windowless type-level join chain (no per-doc or global sort)") {
    val p = plan("lm7_stupid_backoff")
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the totals row is the only single-partition aggregate and it rides a
    // broadcast; the probability chain itself must never funnel
    assert(p.contains("BroadcastExchange"), p)
  }

  test("t25_html_main_content: per-row cleanup, one per-doc aggregate, native strip kernel") {
    val p = plan("t25_html_main_content")
    assert(p.contains("graft_html_strip"), p) // the native kernel, not a regexp chain
    assert(!p.contains("CartesianProduct"), p)
    // cleanup is embarrassingly parallel: exactly one exchange family — the
    // per-doc aggregate (partial + final) plus its id re-attach join; no window
    assert(!p.contains("windowspecdefinition"), p)
    assert("HashAggregate".r.findAllIn(p).length >= 2, p)
  }

  test("t24_unigram_vocab: the served vocabulary is a checkpoint-cut list, corpus-free") {
    val p = plan("t24_unigram_vocab")
    // training state (EM rounds, kernel scans) is checkpoint-cut per the
    // t14 discipline — the FINAL plan must be nothing but the vocab-sized
    // cut + the output order: no scan of documents, no join, no window
    assert(p.contains("Scan ExistingRDD"), p)
    assert(!p.contains("parquet") && !p.contains("Join") &&
      !p.contains("CartesianProduct"), p)
  }

  test("t26_unigram_segment: apply is ONE plan-literal kernel pass over distinct words") {
    val p = plan("t26_unigram_segment")
    assert(p.contains("graft_unigram_segment"), p) // model rides the plan, no join
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
  }

  test("t27_unigram_doc_tokens: kernel at occurrences, NO word-level join, map-side combine") {
    val p = plan("t27_unigram_doc_tokens")
    assert(p.contains("graft_unigram_segment"), p)
    assert(!p.contains("SortMergeJoin"), p) // word->pieces is per-row, never a join
    assert(!p.contains("CartesianProduct"), p)
    assert("HashAggregate".r.findAllIn(p).length >= 2, p) // per-doc partial+final
  }

  test("t28_trained_langid: model broadcasts; argmax window partitions per document") {
    val p = plan("t28_trained_langid")
    assert(p.contains("BroadcastExchange"), p) // dense langs x buckets model
    assert(!p.contains("CartesianProduct"), p)
    // the argmax window is doc-partitioned (|langs| rows of state per doc),
    // never a global sort over the score grid: the spec's leading did# IS
    // the partition (vacuous-guard lesson — 'partitionSpec=[]' never
    // appears in formatted explain output)
    assert(p.contains("windowspecdefinition(did#"), p)
  }

  test("lm8/lm9 served scorers: served counts aggregate exchange-free on the gram bucketing") {
    Seq("lm8_kn_served", "lm9_sb_served").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
      // the totals rows ride broadcasts (the lm4/lm7 chain shape)
      assert(p.contains("BroadcastExchange"), s"$q:\n$p")
    }
  }

  test("d31_exact_substr_dedup: rebuild is one sid-keyed join, no cartesian") {
    val p = plan("d31_exact_substr_dedup")
    assert(!p.contains("CartesianProduct"), p)
    // span arrays meet text on sid (one equi join); token text never
    // enters the dup-gram exchanges (those carry g/pos only — d30's assert)
    assert(p.contains("hashpartitioning(sid") || p.contains("Left keys [1]: [sid"), p)
  }

  test("e12_rank_correlation: rank windows are (group, bucket)-partitioned, bases broadcast") {
    val p = plan("e12_rank_correlation")
    assert(!p.contains("CartesianProduct"), p)
    // per-doc-unique values: a lang-only window would funnel each language
    // through one task (the lm6/rocAuc contract) — every window spec must
    // carry a bucket key next to the group key
    val specs = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(specs.nonEmpty, p)
    assert(specs.forall(s => s.contains("__kbx#") || s.contains("__kby#")),
      s"group-only rank window:\n${specs.mkString("\n")}")
    assert(p.contains("BroadcastExchange"), p) // the base-rank tables
  }

  test("fts9_min_span: postings prune to query terms in-scan; argmin is WindowGroupLimit") {
    val p = plan("fts9_min_span")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("WindowGroupLimit"), p) // per-doc rank-1 prunes pre-exchange
    // the argmin window partitions per document, never a global span sort
    // (the in-scan array_contains prune sits below the postings checkpoint
    // cut, so it can't appear in this serve plan — it's the fts6 posture,
    // exercised by TextOpsSpec's brute-force equivalence)
    assert(p.contains("windowspecdefinition(did#"), p)
  }

  test("d34_soft_dedup_weights: cluster sizes via aggregate + join, never a fp window") {
    val p = plan("d34_soft_dedup_weights")
    // a count-over-fp window would pin a hot boilerplate fingerprint's
    // billions of rows in one task; the aggregate+join shape splits under
    // AQE skew handling
    assert(!p.contains("windowspecdefinition"), p)
    assert(p.contains("HashAggregate") || p.contains("SortAggregate"), p)
  }

  test("u6_cdc_apply: snapshot + changelog fold in ONE key-partitioned window pass") {
    val p = plan("u6_cdc_apply")
    assert(!p.contains("CartesianProduct"), p)
    val specs = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(specs.nonEmpty && specs.forall(_.contains("o_orderkey#")),
      s"CDC window must partition on the merge key:\n${specs.mkString("\n")}")
    // one wide stage: the union shuffles on the key once for the window;
    // only the final presentation sort adds a (range) exchange
    val exchanges = p.linesIterator
      .count(_.contains("Arguments: hashpartitioning"))
    assert(exchanges == 1, s"expected 1 hash exchange, got $exchanges:\n$p")
  }

  test("dq5_referential_integrity: key-only anti joins, scalar attaches broadcast") {
    val p = plan("dq5_referential_integrity")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("LeftAnti"), p)
    // the 1x1 stats x orphans attach is the documented broadcast idiom
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
  }

  test("fts11_fuzzy_search: expansion scoring broadcasts matched terms, no cartesian join") {
    val p = plan("fts11_fuzzy_search")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastExchange"), p) // matched set + dfreq + stats
    assert(p.contains("TakeOrderedAndProject"), p) // top-k never global-sorts
  }

  test("a18_unpivot_measures: melt is ONE Expand over ONE scan, not a union of scans") {
    val p = plan("a18_unpivot_measures")
    assert(p.contains("Expand"), p)
    val scans = p.linesIterator.count(_.trim.startsWith("Location: InMemoryFileIndex"))
    assert(scans == 1, s"expected 1 lineitem scan, got $scans:\n$p")
  }

  test("w11_funnel_steps: summary is a single-row aggregate exploded driver-bounded") {
    val p = plan("w11_funnel_steps")
    assert(!p.contains("CartesianProduct"), p)
    // all step windows partition on the user key — never unpartitioned
    val specs = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(specs.nonEmpty && specs.forall(_.contains("user_id#")),
      s"non-user-partitioned funnel window:\n${specs.mkString("\n")}")
  }

  test("t30_paragraph_dedup: per-row array algebra — the OPERATOR plans zero exchanges") {
    // the query's trailing orderBy adds a range exchange; the operator
    // itself must keep the text in the scan stage (the d31 rebuild posture)
    val p = graft.operators.TextOps.paragraphDedup(
        graft.core.Tables.documents(spark, sf), "doc_id", "text", sep = " ")
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"paragraphDedup must not shuffle:\n$p")
  }

  test("d35/dp5: canonicalize is map-side; ONE hash exchange each, partial-agg combined") {
    val dedup = graft.operators.UrlOps.canonicalDedup(
        graft.core.Tables.documents(spark, sf)
          .withColumn("u", concat(lit("https://h.com/"), col("doc_id"))),
        "doc_id", "u")
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(dedup).length == 1, dedup)
    assert(dedup.contains("partial_min") || dedup.contains("partial_count"),
      s"dedup aggregate must combine map-side:\n$dedup")
    val roll = graft.operators.UrlOps.hostRollup(
        graft.core.Tables.documents(spark, sf)
          .withColumn("u", concat(lit("https://h.com/"), col("doc_id"))),
        "u", "text", 0.5)
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(roll).length == 1, roll)
    assert(roll.contains("partial_sum"),
      s"rollup aggregate must combine map-side:\n$roll")
  }

  test("w15_cohort_retention: no activity self-join, user-keyed windows only") {
    val p = plan("w15_cohort_retention")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin") &&
      !p.contains("BroadcastHashJoin"),
      s"cohort matrix must not self-join the activity table:\n$p")
    val specs = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(specs.nonEmpty && specs.forall(_.contains("user_id#")), p)
  }

  test("b1_bitext_mining: no cartesian; margin stats attach via broadcast") {
    val p = plan("b1_bitext_mining")
    assert(!p.contains("CartesianProduct"), p)
    // shortlist pairs meet full vectors by hash join, never nested loop on
    // a data-sized side (BNLJ appears only under codebook/centroid
    // constants — the check_bnlj.py allowlisted class)
    assert(p.contains("BroadcastExchange"), p)
  }
}
