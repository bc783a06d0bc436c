package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog and runs away fast"),
    (2L, "the quick brown fox jumps over the lazy dog and runs away quickly"), // near-dup of 1
    (3L, "completely different words appear here with nothing shared at all"),
    (4L, "the quick brown fox jumps over the lazy dog and runs away fast") // exact dup of 1
  ).toDF("doc_id", "text")

  test("exact dedup groups identical texts, keeps min id") {
    val out = Dedup.exact(docs, "doc_id", "text").collect()
    assert(out.length == 3)
    val dup = out.find(_.getAs[Long]("n_copies") == 2).get
    assert(dup.getAs[Long]("keeper_id") == 1L)
  }

  test("soft dedup keeps every row, weights sum to one per cluster") {
    val out = Dedup.softDedupWeights(docs, "doc_id", "text").collect()
    assert(out.length == 4) // nothing dropped — that's the point
    val byId = out.map(r => r.getAs[Long]("doc_id") ->
      (r.getAs[Long]("n_copies"), r.getAs[Double]("weight"))).toMap
    assert(byId(1L) == ((2L, 0.5)) && byId(4L) == ((2L, 0.5)))
    assert(byId(2L) == ((1L, 1.0)) && byId(3L) == ((1L, 1.0)))
    // gradient-mass invariant: per-cluster weights sum to exactly 1 copy
    val mass = out.groupBy(_.getAs[String]("fp"))
      .map(_._2.map(_.getAs[Double]("weight")).sum)
    assert(mass.forall(m => math.abs(m - 1.0) < 1e-12))
  }

  test("brute-force jaccard finds the planted near-dup pair") {
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .select("ida", "idb").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 4L))) // exact dups have jaccard 1.0
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("minhash LSH candidates cover everything brute-force confirms (recall)") {
    val confirmed = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .select("ida", "idb").as[(Long, Long)].collect().toSet
    val cands = Dedup.minhashCandidates(docs, "doc_id", "text", 3)
      .as[(Long, Long)].collect().toSet
    assert(confirmed.subsetOf(cands))
  }

  test("minhash-verified equals brute force on the driver fixture (sf0.001)") {
    val d = graft.core.Tables.documents(spark, sf)
    val brute = Dedup.jaccardPairs(d, "doc_id", "text", 3, 0.5)
      .select("ida", "idb").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minhashVerifiedPairs(d, "doc_id", "text", 3, 0.5)
      .select("ida", "idb").as[(Long, Long)].collect().toSet
    assert(lsh == brute) // verify stage kills false positives; bands catch all >=0.5 here
  }

  test("prefix-filter pairs equal brute force exactly (values too, sf0.001)") {
    val d = graft.core.Tables.documents(spark, sf)
    val brute = Dedup.jaccardPairs(d, "doc_id", "text", 3, 0.5)
      .select("ida", "idb", "jaccard").as[(Long, Long, Double)].collect().toSet
    val pf = Dedup.prefixFilterPairs(d, "doc_id", "text", 3, 0.5)
      .select("ida", "idb", "jaccard").as[(Long, Long, Double)].collect().toSet
    assert(pf == brute) // exact algorithm: identical pairs AND ratios
  }

  test("prefix-filter recall holds at a low threshold (widest prefixes)") {
    val d = graft.core.Tables.documents(spark, sf)
    val brute = Dedup.jaccardPairs(d, "doc_id", "text", 3, 0.3)
      .select("ida", "idb").as[(Long, Long)].collect().toSet
    val pf = Dedup.prefixFilterPairs(d, "doc_id", "text", 3, 0.3)
      .select("ida", "idb").as[(Long, Long)].collect().toSet
    assert(pf == brute)
  }

  test("prefix-filter on the planted fixture: near-dups found, disjoint doc excluded") {
    val pairs = Dedup.prefixFilterPairs(docs, "doc_id", "text", 3, 0.5)
      .select("ida", "idb").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 4L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("prefix-filter positional bound prunes candidates and loses no true pair") {
    // pins the r20 PPJoin positional filter (Xiao et al. WWW'08 §3.2): the
    // candidate stage rebuilt here with and without the positional
    // predicate must satisfy (a) with ⊆ without, (b) strictly fewer
    // candidates on the corpus fixture (the filter actually bites), while
    // the operator's equality-to-brute-force tests above prove recall
    import org.apache.spark.sql.expressions.Window
    val threshold = 0.5
    val d = graft.core.Tables.documents(spark, sf)
    val sh = Dedup.wordShingleHashes(d, "doc_id", "text", 3)
    val sizes = sh.groupBy($"sid").agg(count(lit(1)).as("nsh"))
    val dfreq = sh.groupBy($"g").agg(count(lit(1)).as("gdf"))
    val w = Window.partitionBy($"sid").orderBy($"gdf", $"g")
    val prefix = sh.join(dfreq, Seq("g"))
      .withColumn("rn", row_number().over(w))
      .join(sizes, Seq("sid"))
      .filter($"rn" <= $"nsh" - floor(lit(threshold) * $"nsh") + 1)
      .select($"sid", $"g", $"nsh", $"rn")
      .localCheckpoint(true)
    def cands(positional: Boolean) = {
      val base = col("a.g") === col("b.g") && col("a.sid") < col("b.sid") &&
        least(col("a.nsh"), col("b.nsh")) >=
          lit(threshold) * greatest(col("a.nsh"), col("b.nsh"))
      val cond = if (!positional) base else base &&
        (lit(1L) + least(col("a.nsh") - col("a.rn"),
          col("b.nsh") - col("b.rn"))) * lit(1.0 + threshold) >=
          lit(threshold) * (col("a.nsh") + col("b.nsh")) - lit(1e-6)
      prefix.as("a").join(prefix.as("b"), cond)
        .select(col("a.sid").as("ida"), col("b.sid").as("idb")).distinct()
        .as[(Long, Long)].collect().toSet
    }
    val without = cands(positional = false)
    val withPos = cands(positional = true)
    assert(withPos.subsetOf(without))
    assert(withPos.size < without.size,
      s"positional filter pruned nothing: ${withPos.size} of ${without.size}")
    val brute = Dedup.jaccardPairs(d, "doc_id", "text", 3, threshold)
      .select("ida", "idb").as[(Long, Long)].collect().toSet
    assert(brute.subsetOf(withPos),
      "positional filter dropped a true pair from the candidate set")
  }

  test("prefix-filter plan: per-doc prefix window, no cartesian, text never " +
      "shuffles (un-checkpointed probe — the query's own plan truncates at " +
      "the result cut, the d23 pattern)") {
    val d = graft.core.Tables.documents(spark, sf)
    val p = Dedup.prefixFilterPipeline(d, "doc_id", "text", 3, 0.5,
        checkpoint = false)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // the prefix rank is per-DOCUMENT state: its window must partition by
    // sid (never corpus-global, never a low-cardinality group)
    val specs = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(specs.nonEmpty, p)
    assert(specs.forall(_.contains("sid#")),
      s"prefix window not sid-partitioned:\n${specs.mkString("\n")}")
    assert(!p.contains("Exchange SinglePartition"), p)
    // candidate generation joins hashed prefixes — never a cartesian
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    // the dedup-family contract: text never travels through a shuffle
    val exchanges =
      p.linesIterator.filter(_.contains("Arguments: hashpartitioning")).toSeq
    assert(!exchanges.exists(_.contains("text#")),
      s"text column travels through a shuffle:\n${exchanges.mkString("\n")}")
  }

  test("minhash signature agreement estimates true jaccard (sketch quality)") {
    val d = graft.core.Tables.documents(spark, sf)
    val truePairs = Dedup.jaccardPairs(d, "doc_id", "text", 3, 0.3)
      .select("ida", "idb", "jaccard").as[(Long, Long, Double)].collect()
    assume(truePairs.nonEmpty)
    val sig = Dedup.minhashSignatures(d, "doc_id", "text", 3).collect()
      .map(r => r.getLong(0) -> (0 until Dedup.NumHashes).map(i => r.getLong(i + 1)))
      .toMap
    val errs = truePairs.map { case (a, b, j) =>
      val agree = sig(a).zip(sig(b)).count { case (x, y) => x == y }
      math.abs(agree.toDouble / Dedup.NumHashes - j)
    }
    // E[agreement] = jaccard; with 32 hashes, stddev <= ~0.09 per pair
    assert(errs.sum / errs.length < 0.12,
      s"mean |estimate - true| = ${errs.sum / errs.length}")
  }

  test("dedupCorpus keeps the canonical doc per cluster, drops exact and near dups") {
    val kept = Dedup.dedupCorpus(docs, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L)) // 2 (near-dup) and 4 (exact dup) dropped, 1 canonical
  }

  test("dedupCorpus catches exact duplicates of sub-shingle-length docs") {
    val shorties = Seq(
      (1L, "hello world"), // < 3 words: invisible to the shingle pipeline
      (2L, "hello world"),
      (3L, "totally different text with many more words here")
    ).toDF("doc_id", "text")
    val kept = Dedup.dedupCorpus(shorties, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L))
  }

  test("incremental dedup equals the full pipeline filtered to batch-touching pairs") {
    val docs = graft.core.Tables.documents(spark, sf)
    val newBatch = docs.filter(col("doc_id") % 4 === 0)
    val corpus = docs.filter(col("doc_id") % 4 =!= 0)
    val incremental = Dedup.incrementalNearDupPairs(
      newBatch, corpus, Dedup.bandIndex(corpus, "doc_id", "text", 3),
      "doc_id", "text", 3, 0.5)
      .select("ida", "idb").as[(Long, Long)].collect().toSet
    val full = Dedup.minhashVerifiedPairs(docs, "doc_id", "text", 3, 0.5)
      .filter(col("ida") % 4 === 0 || col("idb") % 4 === 0)
      .select("ida", "idb").as[(Long, Long)].collect().toSet
    assert(incremental == full)
    assert(incremental.nonEmpty, "fixture must contain batch-touching near-dups")
  }

  test("bucketed band index: corpus side of the incremental candidate join is exchange-free") {
    val table = "b_band_index"
    graft.sources.Bucketing.ensureCleanTable(spark, table)
    val docs = graft.core.Tables.documents(spark, sf)
    val newBatch = docs.filter(col("doc_id") % 4 === 0)
    val corpus = docs.filter(col("doc_id") % 4 =!= 0)
    Dedup.writeBandIndex(corpus, "doc_id", "text", 3, table, 4)

    // the plan contract: batch bands shuffle TO the bucket layout (one
    // Exchange), the corpus index reads bucket-aligned (zero Exchange) —
    // force the shuffle-join path, the fixture is broadcast-small
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val cands = Dedup.crossBandCandidates(
        Dedup.bandIndex(newBatch, "doc_id", "text", 3), spark.table(table))
      cands.collect()
      // AQE's toString repeats the tree under "== Initial Plan ==" — count
      // exchanges in the final plan section only
      val plan = cands.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert(plan.contains("SortMergeJoin"), plan)
      assert(plan.contains("Bucketed: true"), plan)
      assert("Exchange".r.findAllIn(plan).size == 1,
        s"corpus side of the candidate join must not re-shuffle:\n$plan")

      // and the bucketed index produces the exact same verified pairs as the
      // freshly-computed one
      val fromBucketed = Dedup.incrementalNearDupPairs(
        newBatch, corpus, spark.table(table), "doc_id", "text", 3, 0.5)
        .select("ida", "idb").as[(Long, Long)].collect().toSet
      val fromFresh = Dedup.incrementalNearDupPairs(
        newBatch, corpus, Dedup.bandIndex(corpus, "doc_id", "text", 3),
        "doc_id", "text", 3, 0.5)
        .select("ida", "idb").as[(Long, Long)].collect().toSet
      assert(fromBucketed == fromFresh)
      assert(fromBucketed.nonEmpty, "fixture must contain batch-touching near-dups")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("appendBandIndex: the exchange-free corpus read survives index growth") {
    val table = "b_band_index_grow"
    graft.sources.Bucketing.ensureCleanTable(spark, table)
    val docs = graft.core.Tables.documents(spark, sf)
    val corpus = docs.filter(col("doc_id") % 4 =!= 0)
    val batchA = docs.filter(col("doc_id") % 8 === 0)
    val batchB = docs.filter(col("doc_id") % 8 === 4)
    Dedup.writeBandIndex(corpus, "doc_id", "text", 3, table, 4)
    // grow the index the way a streaming ingest does
    Dedup.appendBandIndex(batchA, "doc_id", "text", 3, table, 4)

    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val cands = Dedup.crossBandCandidates(
        Dedup.bandIndex(batchB, "doc_id", "text", 3), spark.table(table))
      cands.collect()
      val plan = cands.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert(plan.contains("Bucketed: true"), plan)
      assert("Exchange".r.findAllIn(plan).size == 1,
        s"appended index must still read bucket-aligned:\n$plan")
      // appended rows are really in the index: batchB-vs-batchA candidates
      // are only reachable through the appended bands
      val viaIndex = cands.as[(Long, Long)].collect().toSet
      val direct = Dedup.crossBandCandidates(
        Dedup.bandIndex(batchB, "doc_id", "text", 3),
        Dedup.bandIndex(corpus.unionByName(batchA), "doc_id", "text", 3))
        .as[(Long, Long)].collect().toSet
      assert(viaIndex == direct)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      graft.sources.Bucketing.ensureCleanTable(spark, table)
    }
  }

  test("partitioned bucketed index: committed-prefix read stays exchange-free") {
    // the ds2 plan contract: an ingest_batch-partitioned AND (band, bkey)-
    // bucketed index, read behind the idempotent path's committed-prefix
    // filter, must STILL satisfy the candidate join bucket-aligned — i.e.
    // exactly-once storage does not cost the corpus-side Exchange
    val table = "b_band_index_part"
    graft.sources.Bucketing.ensureCleanTable(spark, table)
    val docs = graft.core.Tables.documents(spark, sf)
    val corpus = docs.filter(col("doc_id") % 4 =!= 0)
    val batchA = docs.filter(col("doc_id") % 8 === 0)
    val batchB = docs.filter(col("doc_id") % 8 === 4)
    Dedup.writeBandIndexPartitioned(corpus, "doc_id", "text", 3, table, 4)
    Dedup.overwriteBandIndexBatch(batchA, "doc_id", "text", 3, table, 4, batch = 0L)

    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val committed = spark.table(table).filter(col("ingest_batch") < 1L)
      val cands = Dedup.crossBandCandidates(
        Dedup.bandIndex(batchB, "doc_id", "text", 3), committed)
      cands.collect()
      val plan = cands.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert(plan.contains("Bucketed: true"), plan)
      assert("Exchange".r.findAllIn(plan).size == 1,
        s"committed-prefix read must not re-shuffle the index:\n$plan")
      // the partition filter is pruning, not a data filter: only the seed +
      // batch-0 partitions are listed
      assert(plan.contains("PartitionFilters"), plan)
      // and answers match the monolithic freshly-built index
      val viaIndex = cands.as[(Long, Long)].collect().toSet
      val direct = Dedup.crossBandCandidates(
        Dedup.bandIndex(batchB, "doc_id", "text", 3),
        Dedup.bandIndex(corpus.unionByName(batchA), "doc_id", "text", 3))
        .as[(Long, Long)].collect().toSet
      assert(viaIndex == direct && viaIndex.nonEmpty)
      // retry replaces, never duplicates: same batch rewritten, same rows
      val before = spark.table(table).count()
      Dedup.overwriteBandIndexBatch(batchA, "doc_id", "text", 3, table, 4, batch = 0L)
      assert(spark.table(table).count() == before, "retry must replace its partition")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      graft.sources.Bucketing.ensureCleanTable(spark, table)
    }
  }

  test("connectedComponents labels chains transitively with the component min") {
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("ida", "idb")
    val labels = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L))
  }

  test("connectedComponents converges on a 300-deep chain within the default budget") {
    // a path graph is the worst case for plain min-label propagation
    // (O(diameter) rounds — 300 here, far past maxIter = 25); only the
    // pointer-jumping O(log diameter) path can label it inside the budget.
    // Orientation is adversarial: the min id sits at the FAR end.
    val pairs = (1L until 300L).map(i => (i + 1, i)).toDF("ida", "idb")
    val labels = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(labels.size == 300 && labels.values.forall(_ == 1L),
      labels.filter(_._2 != 1L).take(5).toString)
  }

  test("simhash: identical docs hash equal, near-dups within small hamming") {
    val sim = Dedup.simhash(docs, "doc_id", "text").cache()
    val m = sim.as[(Long, Long)].collect().toMap
    assert(m(1L) == m(4L))
    def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    assert(hamming(m(1L), m(2L)) < hamming(m(1L), m(3L)))
  }

  test("simhashPairs finds exact dup with hamming 0") {
    val pairs = Dedup.simhashPairs(Dedup.simhash(docs, "doc_id", "text"), 6)
      .select("ida", "idb", "hamming").as[(Long, Long, Long)].collect()
    assert(pairs.exists(p => p._1 == 1L && p._2 == 4L && p._3 == 0L))
  }

  test("simhashPairs banding is parameterizable; pigeonhole recall holds per width") {
    val sim = Dedup.simhash(docs, "doc_id", "text")
    // exact dups (hamming 0) survive every legal banding by pigeonhole
    for (chunks <- Seq(2, 3, 4, 6)) {
      val pairs = Dedup.simhashPairs(sim, 6, numChunks = chunks)
        .select("ida", "idb", "hamming").as[(Long, Long, Long)].collect()
      assert(pairs.exists(p => p._1 == 1L && p._2 == 4L && p._3 == 0L),
        s"lost the exact dup at numChunks=$chunks")
    }
    // recall guarantee: every TRUE pair at hamming <= chunks-1 is found —
    // check the cluster-scale 3 x 16-bit banding against driver-computed
    // ground truth (guarantee d <= 2 there)
    val sigs = sim.as[(Long, Long)].collect()
    val truePairs = (for {
      (a, sa) <- sigs; (b, sb) <- sigs
      if a < b && java.lang.Long.bitCount(sa ^ sb) <= 2
    } yield (a, b)).toSet
    val at3 = Dedup.simhashPairs(sim, 2, numChunks = 3)
      .select("ida", "idb").as[(Long, Long)].collect().toSet
    assert(truePairs.subsetOf(at3),
      s"3-chunk banding missed guaranteed pairs: ${truePairs -- at3}")
    intercept[IllegalArgumentException] {
      Dedup.simhashPairs(sim, 6, numChunks = 5) // 5 does not divide 48
    }
  }

  test("boilerplateStats: duplicated spans count as boilerplate, unique text scores 0") {
    // docs 1 and 4 are exact dups (every 5-gram shared, df = 2);
    // doc 3 shares nothing; doc 2 diverges from 1 only in the last word,
    // so its final 5-grams (the ones covering "quickly") are unique.
    val out = Dedup.boilerplateStats(docs, "doc_id", "text", 5, 2L)
      .collect().map(r => r.getAs[Long]("sid") ->
        ((r.getAs[Long]("n_grams"), r.getAs[Long]("n_boiler"),
          r.getAs[Double]("boiler_frac")))).toMap
    assert(out(1L)._3 == 1.0)
    assert(out(4L)._3 == 1.0)
    assert(out(3L)._2 == 0L && out(3L)._3 == 0.0)
    assert(out(2L)._3 > 0.0 && out(2L)._3 < 1.0)
    // 13-word docs have 9 distinct 5-grams
    assert(out(1L)._1 == 9L)
    // a doc shorter than n words has zero grams and frac 0, not a crash
    val short = Seq((9L, "too short")).toDF("doc_id", "text")
    val s = Dedup.boilerplateStats(short, "doc_id", "text", 5, 2L).collect().head
    assert(s.getAs[Long]("n_grams") == 0L && s.getAs[Double]("boiler_frac") == 0.0)
  }

  test("ngramNovelty: first holder gets the credit, verbatim repeats score 0, partial copies in between") {
    val docs = Seq(
      (1L, "a b c d e"),       // introduces all 3 of its 3-grams
      (2L, "a b c d e"),       // verbatim repeat of 1 -> novelty 0
      (3L, "a b c x y z"),     // shares "a b c" with doc 1, adds 3 new grams
      (4L, "one two")          // shorter than n -> no grams, novelty NULL
    ).toDF("doc_id", "text")
    val out = Dedup.ngramNovelty(docs, "doc_id", "text", 3)
      .collect().map(r => r.getAs[Long]("sid") ->
        ((r.getAs[Long]("n_grams"), r.getAs[Long]("n_novel"),
          Option(r.getAs[java.lang.Double]("novelty"))))).toMap
    assert(out(1L) == ((3L, 3L, Some(1.0))))
    assert(out(2L) == ((3L, 0L, Some(0.0))))
    assert(out(3L)._1 == 4L && out(3L)._2 == 3L) // "a b c" credited to doc 1
    assert(out(3L)._3.contains(0.75))
    assert(out(4L) == ((0L, 0L, None)))
    // totals conserve: every distinct gram is credited exactly once
    val totalNovel = out.values.map(_._2).sum
    val distinctGrams = Dedup.wordShingles(docs, "doc_id", "text", 3)
      .select("gram").distinct().count()
    assert(totalNovel == distinctGrams)
  }

  test("crossSourceOverlap: each matrix cell equals a pairwise decontaminate run") {
    val docs = graft.core.Tables.documents(spark, sf)
    val m = Dedup.crossSourceOverlap(docs, "doc_id", "text", "source", 3, 5L)
      .collect().map(r => (r.getAs[String]("src"), r.getAs[String]("other")) ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_gram_hits")))).toMap
    assert(m.nonEmpty, "fixture should contain cross-source gram overlap")
    // spot-check three cells against the one-benchmark operator: docs of
    // src with >= 5 distinct grams overlapping other's docs
    m.keys.take(3).foreach { case (src, other) =>
      val pairwise = Dedup.decontaminate(
          docs.filter(col("source") === src),
          docs.filter(col("source") === other), "doc_id", "text", 3)
        .filter(col("n_overlap") >= 5L)
        .agg(count(lit(1)), sum(col("n_overlap")))
        .collect()(0)
      assert((pairwise.getLong(0), pairwise.getLong(1)) == m((src, other)),
        s"cell ($src, $other): matrix ${m((src, other))} != pairwise " +
          s"(${pairwise.getLong(0)}, ${pairwise.getLong(1)})")
    }
    // the matrix is genuinely asymmetric (containment direction matters)
    assert(m.exists { case ((a, b), v) => m.get((b, a)).exists(_ != v) },
      "expected at least one asymmetric source pair")
  }

  test("containmentPairs: catches a quote Jaccard misses; unrelated docs stay out") {
    // doc 2 quotes 10 consecutive words of doc 1 verbatim inside unrelated
    // text: Jaccard is diluted by doc 1's extra length, containment is the
    // quote's coverage of doc 2
    val quote = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    val docs = Seq(
      (1L, quote + " kilo lima mike november oscar papa quebec romeo sierra tango uniform victor whiskey xray yankee zulu one two three four"),
      (2L, "unrelated lead-in words " + quote),
      (3L, "completely different content with nothing shared at all here today")
    ).toDF("doc_id", "text")
    val pairs = Dedup.containmentPairs(docs, "doc_id", "text",
        n = 3, k = 8, w = 10, minShared = 2L, threshold = 0.4)
      .collect().map(r => (r.getAs[Long]("ida"), r.getAs[Long]("idb")) ->
        r.getAs[Double]("containment")).toMap
    assert(pairs.contains((1L, 2L)), s"quote pair missed: $pairs")
    assert(pairs((1L, 2L)) >= 0.5, s"containment too low: ${pairs((1L, 2L))}")
    assert(!pairs.keySet.exists(p => p._1 == 3L || p._2 == 3L),
      s"unrelated doc flagged: $pairs")
    // and the same pair is BELOW a typical Jaccard near-dup threshold —
    // the case this operator exists for
    val j = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!j.contains((1L, 2L)),
      "fixture invalid: Jaccard already catches the quote, containment adds nothing")
  }

  test("novelty index lifecycle: incremental serve equals from-scratch, survives append, index side exchange-free") {
    val table = "b_novelty_index"
    graft.sources.Bucketing.ensureCleanTable(spark, table)
    val docs = graft.core.Tables.documents(spark, sf)
    val seed = docs.filter(col("doc_id") % 5 =!= 0 && col("doc_id") % 5 =!= 1)
    val b1 = docs.filter(col("doc_id") % 5 === 0)
    val b2 = docs.filter(col("doc_id") % 5 === 1)
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getAs[Long]("sid") ->
        ((r.getAs[Long]("n_grams"), r.getAs[Long]("n_novel")))).toMap
    Dedup.writeNoveltyIndex(seed, "doc_id", "text", 3, table, 4)

    // batch 1 against the seed index == from-scratch over (seed U b1)
    // restricted to b1 ids
    val inc1 = asMap(Dedup.batchNovelty(spark, b1, "doc_id", "text", 3, table))
    val scratch1 = asMap(
      Dedup.ngramNovelty(seed.unionByName(b1), "doc_id", "text", 3)
        .filter(col("sid") % 5 === 0))
    assert(inc1 == scratch1)
    assert(inc1.values.exists(_._2 > 0), "fixture batch must introduce grams")

    // append b1, then batch 2 == from-scratch over (seed U b1 U b2)
    Dedup.appendNoveltyIndex(b1, "doc_id", "text", 3, table, 4)
    val inc2 = asMap(Dedup.batchNovelty(spark, b2, "doc_id", "text", 3, table))
    val scratch2 = asMap(
      Dedup.ngramNovelty(seed.unionByName(b1).unionByName(b2), "doc_id", "text", 3)
        .filter(col("sid") % 5 === 1))
    assert(inc2 == scratch2)

    // plan contract: the index min-merge + serve join never exchange the
    // index side — only batch grams shuffle (force the shuffle-join path)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val bg = Dedup.wordShingles(b2, "doc_id", "text", 3)
        .select(col("sid"), Dedup.hash48(col("gram")).as("g"))
      val joined = bg.groupBy(col("g")).agg(min(col("sid")).as("b_sid"))
        .join(spark.table(table).groupBy(col("g"))
          .agg(min(col("first_sid")).as("idx_sid")), Seq("g"), "left")
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert(plan.contains("Bucketed: true"), plan)
      assert("Exchange".r.findAllIn(plan).size == 1,
        s"index side of the novelty serve must not re-shuffle:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("dedupSpans: first occurrence keeps its span, later copies lose it, full repeats vanish") {
    // span length 4: doc 1 = AAAABBBB, doc 2 = AAAACCCC (shares span AAAA),
    // doc 3 = AAAABBBB (every span is a repeat -> vanishes),
    // doc 4 = DDDD (unique, survives whole)
    val docs = Seq(
      (1L, "AAAABBBB"), (2L, "AAAACCCC"), (3L, "AAAABBBB"), (4L, "DDDD")
    ).toDF("doc_id", "text")
    val out = Dedup.dedupSpans(docs, "doc_id", "text", 4)
      .collect().map(r => r.getAs[Long]("sid") ->
        ((r.getAs[Long]("n_spans"), r.getAs[String]("text_md5")))).toMap
    def md5(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
    assert(out(1L) == ((2L, md5("AAAABBBB")))) // first copy intact
    assert(out(2L) == ((1L, md5("CCCC"))))     // repeated AAAA removed
    assert(!out.contains(3L))                  // nothing survives
    assert(out(4L) == ((1L, md5("DDDD"))))
  }

  test("incrementalHammingPairs: equals the full run restricted to the batch") {
    import spark.implicits._
    val docs = graft.core.Tables.documents(spark, sf)
    val sig = Multimodal.imageDHash(spark,
      Multimodal.attachImageFixture(spark, docs, "doc_id"))
    val table = "graft_hamming_spec"
    graft.sources.Bucketing.ensureCleanTable(spark, table)
    try {
      Dedup.writeHammingIndex(sig.filter($"sid" % 4 =!= 0), "dhash", 56, 4,
        table, nBuckets = 4)
      assert(graft.sources.Bucketing.liveBucketCount(spark, table)
        .contains(4), "index must be bucketed on the candidate keys")
      val inc = Dedup.incrementalHammingPairs(sig.filter($"sid" % 4 === 0),
          spark.table(table), "dhash", 56, 6, 4)
        .as[(Long, Long, Long)].collect().toSet
      val full = Dedup.hammingBandPairs(sig, "dhash", 56, 6, 4)
        .filter($"ida" % 4 === 0 || $"idb" % 4 === 0)
        .as[(Long, Long, Long)].collect().toSet
      assert(inc == full, "incremental must equal full restricted to batch")
      assert(inc.nonEmpty, "fixture must produce batch-touching pairs")
    } finally graft.sources.Bucketing.ensureCleanTable(spark, table)
  }

  test("incrementalHammingPairs: a re-ingested id verifies against its NEW signature only") {
    import spark.implicits._
    // corpus: 1 and 2 share hash 7; 3 is far away. Doc 2 is then
    // re-ingested with hash == 3's — the stale index rows for 2 must not
    // pair it with 1 (old-hash hamming 0), only the new (2,3) must emit.
    val far = 255L << 40
    val corpus = Seq((1L, 7L), (2L, 7L), (3L, far)).toDF("sid", "h")
    val table = "graft_hamming_reingest_spec"
    graft.sources.Bucketing.ensureCleanTable(spark, table)
    try {
      Dedup.writeHammingIndex(corpus, "h", 56, 4, table, nBuckets = 2)
      val batch = Seq((2L, far)).toDF("sid", "h")
      val inc = Dedup.incrementalHammingPairs(batch, spark.table(table),
          "h", 56, maxHamming = 0, numChunks = 4)
        .as[(Long, Long, Long)].collect().toSet
      assert(inc == Set((2L, 3L, 0L)),
        s"stale signature leaked into verification: $inc")
    } finally graft.sources.Bucketing.ensureCleanTable(spark, table)
  }

  test("incrementalCdcPairs: equals the full run restricted to the batch") {
    import spark.implicits._
    val docs = graft.core.Tables.documents(spark, sf)
    val table = "graft_cdc_spec"
    graft.sources.Bucketing.ensureCleanTable(spark, table)
    try {
      // divisor 8 so the tiny fixture yields chunk-sharing pairs
      Dedup.writeCdcIndex(docs.filter($"doc_id" % 5 =!= 0), "doc_id", "text",
        3, 8, table, nBuckets = 4)
      val inc = Dedup.incrementalCdcPairs(docs.filter($"doc_id" % 5 === 0),
          spark.table(table), "doc_id", "text", 3, 8, minShared = 1L)
        .as[(Long, Long, Long)].collect().toSet
      val full = Dedup.cdcOverlapPairs(docs, "doc_id", "text", 3, 8,
          minShared = 1L)
        .filter($"ida" % 5 === 0 || $"idb" % 5 === 0)
        .as[(Long, Long, Long)].collect().toSet
      assert(inc == full, "incremental must equal full restricted to batch")
      assert(inc.nonEmpty, "fixture must produce batch-touching pairs")
    } finally graft.sources.Bucketing.ensureCleanTable(spark, table)
  }

  test("mergeComponents: cluster merges, fresh clusters, untouched passthrough — equals from-scratch") {
    import spark.implicits._
    // existing clusters: {1,2,3} label 1, {10,11} label 10, {20,21} label 20
    val oldPairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L))
      .toDF("ida", "idb")
    val labels0 = Dedup.connectedComponents(oldPairs)
    // new batch: bridges the 1- and 10-clusters, adds a fresh {30,31}
    // cluster, touches nothing in {20,21}
    val newPairs = Seq((3L, 10L), (30L, 31L)).toDF("ida", "idb")
    val merged = Dedup.mergeComponents(labels0, newPairs)
      .as[(Long, Long)].collect().toSet
    val scratch = Dedup.connectedComponents(
        oldPairs.unionByName(newPairs))
      .as[(Long, Long)].collect().toSet
    assert(merged == scratch, "incremental must equal from-scratch labels")
    assert(merged.contains(20L -> 20L) && merged.contains(21L -> 20L),
      "untouched cluster must pass through unchanged")
    assert(merged.filter(_._2 == 1L).map(_._1) ==
      Set(1L, 2L, 3L, 10L, 11L), "bridged clusters must unify under min id")
    assert(merged.contains(30L -> 30L) && merged.contains(31L -> 30L))
  }

  test("exactDupSpans: equals the brute-force duplicated-substring union on fixtures") {
    // A & B share a 9-token run; C repeats a 5-token run of A; D repeats a
    // 5-token run WITHIN itself (within-doc counts, per Lee et al.); E is
    // unique. k = 5.
    val k = 5
    val docs = Seq(
      1L -> "a1 a2 a3 a4 a5 a6 a7 a8 a9 u1 u2 c1 c2 c3 c4 c5 u3",
      2L -> "b1 b2 a1 a2 a3 a4 a5 a6 a7 a8 a9 b3",
      3L -> "c1 c2 c3 c4 c5 x1 x2 x3 x4 x5",
      4L -> "d1 d2 d3 d4 d5 z9 d1 d2 d3 d4 d5",
      5L -> "e1 e2 e3 e4 e5 e6 e7")
    val got = Dedup.exactDupSpans(docs.toDF("doc_id", "text"),
        "doc_id", "text", k)
      .as[(Long, Long, Long, Long)].collect()
      .groupBy(_._1).view
      .mapValues(_.map(r => (r._2, r._3)).toSet).toMap
    // brute force BY DEFINITION (string compare, no hashing): a position is
    // covered iff it lies inside some substring of length >= k occurring at
    // >= 2 (doc, pos) locations corpus-wide; spans = maximal covered runs
    val corpus = docs.map { case (id, t) => id -> t.split(" ") }
    def occurrences(seq: Array[String]): Int = corpus.map { case (_, w) =>
      (0 to w.length - seq.length).count(i =>
        w.slice(i, i + seq.length).sameElements(seq))
    }.sum
    val expected = corpus.map { case (id, w) =>
      val covered = (for {
        l <- k to w.length; i <- 0 to w.length - l
        if occurrences(w.slice(i, i + l)) >= 2
        p <- i until (i + l)
      } yield p).toSet
      val spans = covered.toSeq.sorted
        .foldLeft(List.empty[(Int, Int)]) {
          case ((s, e) :: rest, p) if p == e + 1 => (s, p) :: rest
          case (acc, p) => (p, p) :: acc
        }
        .map { case (s, e) => (s + 1L, e + 1L) }.toSet // 1-based inclusive
      id -> spans
    }.filter(_._2.nonEmpty).toMap
    assert(got == expected, s"got=$got expected=$expected")
    // the hand-checkable shape: A [1,9]+[12,16], B [3,11], C [1,5],
    // D [1,5]+[7,11], E absent
    assert(got(1L) == Set((1L, 9L), (12L, 16L)))
    assert(got(4L) == Set((1L, 5L), (7L, 11L)))
    assert(!got.contains(5L))
    // span_tokens = end - start + 1; docs shorter than k emit nothing
    val short = Dedup.exactDupSpans(
      Seq(6L -> "t1 t2 t3", 7L -> "t1 t2 t3").toDF("doc_id", "text"),
      "doc_id", "text", k)
    assert(short.collect().isEmpty)
  }

  test("exactDupSpans: touching extents merge into one span; adversarial gap stays split") {
    // two duplicated 3-gram extents starting 3 apart TOUCH ([1,3] + [4,6]):
    // one span; starting 4 apart leave a 1-token gap: two spans
    val touch = Seq(
      1L -> "p1 p2 p3 q1 q2 q3 y1 y2",
      2L -> "p1 p2 p3 z0 z1 z2 z3 z4",
      3L -> "q1 q2 q3 w0 w1 w2 w3 w4")
    val gotT = Dedup.exactDupSpans(touch.toDF("doc_id", "text"),
        "doc_id", "text", 3)
      .as[(Long, Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3)).toSet).toMap
    assert(gotT(1L) == Set((1L, 6L)), gotT.toString)
    val gap = Seq(
      1L -> "p1 p2 p3 g0 q1 q2 q3 y1",
      2L -> "p1 p2 p3 z0 z1 z2 z3 z4",
      3L -> "q1 q2 q3 w0 w1 w2 w3 w4")
    val gotG = Dedup.exactDupSpans(gap.toDF("doc_id", "text"),
        "doc_id", "text", 3)
      .as[(Long, Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3)).toSet).toMap
    assert(gotG(1L) == Set((1L, 3L), (5L, 7L)), gotG.toString)
  }

  test("exactSubstrDedup: rebuild equals the brute-force covered-position cut") {
    val k = 5
    val docs = Seq(
      1L -> "a1 a2 a3 a4 a5 a6 a7 a8 a9 u1 u2 c1 c2 c3 c4 c5 u3",
      2L -> "b1 b2 a1 a2 a3 a4 a5 a6 a7 a8 a9 b3",
      3L -> "c1 c2 c3 c4 c5 x1 x2 x3 x4 x5",
      4L -> "d1 d2 d3 d4 d5 z9 d1 d2 d3 d4 d5",
      5L -> "e1 e2 e3 e4 e5 e6 e7",
      6L -> "f1 f2 f3 f4 f5", // fully duplicated with doc 7: keeps nothing
      7L -> "f1 f2 f3 f4 f5")
    val got = Dedup.exactSubstrDedup(docs.toDF("doc_id", "text"),
        "doc_id", "text", k)
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    val corpus = docs.map { case (id, t) => id -> t.split(" ") }
    def occurrences(seq: Array[String]): Int = corpus.map { case (_, w) =>
      (0 to w.length - seq.length).count(i =>
        w.slice(i, i + seq.length).sameElements(seq))
    }.sum
    corpus.foreach { case (id, w) =>
      val covered = (for {
        l <- k to w.length; i <- 0 to w.length - l
        if occurrences(w.slice(i, i + l)) >= 2
        p <- i until (i + l)
      } yield p).toSet
      val kept = w.zipWithIndex.collect { case (t, i) if !covered(i) => t }
      val md5 = java.security.MessageDigest.getInstance("MD5")
        .digest(kept.mkString(" ").getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      assert(got(id) == ((w.length.toLong, kept.length.toLong, md5)),
        s"doc $id: ${got(id)}")
    }
    // the fully-duplicated pair keeps zero tokens (the paper's
    // remove-every-occurrence semantics, not keep-one)
    assert(got(6L)._2 == 0L && got(7L)._2 == 0L)
  }

  test("clusterSizeHistogram: singletons included, sizes and mass by hand") {
    import spark.implicits._
    // graph: {1,2,3} one component, {4,5} another; 6 and 7 never paired
    val comp = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L))
      .toDF("sid", "component")
    val universe = (1L to 7L).map(i => (i, s"doc$i")).toDF("doc_id", "text")
    val out = Dedup.clusterSizeHistogram(comp, universe, "doc_id")
      .orderBy("cluster_size").collect()
      .map(r => (r.getAs[Long]("cluster_size"), r.getAs[Long]("n_clusters"),
        r.getAs[Long]("n_docs")))
    assert(out.toSeq == Seq((1L, 2L, 2L), (2L, 1L, 2L), (3L, 1L, 3L)))
    // total mass equals the universe — nothing dropped, nothing doubled
    assert(out.map(_._3).sum == 7L)
  }

  /** Naive single-threaded reference for corpus-wide keep-first line dedup
    * (shares no code with Dedup.lineDedup). */
  private def lineDedupRef(docs: Seq[(Long, String)], sep: String,
                           minChars: Int): Map[Long, (String, Long, Long)] = {
    val seen = scala.collection.mutable.Set.empty[String]
    docs.sortBy(_._1).map { case (id, text) =>
      val ls = text.split(java.util.regex.Pattern.quote(sep), -1)
      val kept = ls.filter(l => l.length < minChars || seen.add(l))
      id -> (kept.mkString(sep), ls.length.toLong, kept.length.toLong)
    }.toMap
  }

  test("lineDedup: equals the naive global keep-first, short lines exempt, fixpoint") {
    import spark.implicits._
    val docs = Seq(
      (3L, "nav\nalpha beta\nfooter\n\nx"),   // empty line + 1-char tail
      (1L, "nav\ngamma\nfooter"),              // holds first nav+footer
      (2L, "gamma\nnav\ndelta\ngamma"),        // within-doc repeat too
      (4L, ""),                                // empty doc: 1 empty line
      (5L, "alpha beta\nepsilon\n\nzeta"))
    def run(min: Int) = Dedup.lineDedup(docs.toDF("doc_id", "text"),
        "doc_id", "text", "\n", min)
      .collect().map(r => r.getAs[Long]("sid") ->
        (r.getAs[String]("text_dedup"), r.getAs[Long]("n_lines"),
          r.getAs[Long]("n_kept"))).toMap
    for (min <- Seq(1, 2)) {
      val got = run(min)
      assert(got == lineDedupRef(docs, "\n", min), s"minLineChars=$min")
    }
    // fixpoint: dedup of the deduped corpus changes nothing
    val once = run(1)
    val rerun = Dedup.lineDedup(
        once.toSeq.map { case (id, (t, _, _)) => (id, t) }.toDF("doc_id", "text"),
        "doc_id", "text", "\n", 1)
      .collect().map(r => r.getAs[Long]("sid") -> r.getAs[String]("text_dedup"))
      .toMap
    assert(rerun == once.map { case (id, (t, _, _)) => id -> t })
  }

  test("lineDedupIncremental equals the full run on batch docs; replay changes nothing") {
    import spark.implicits._
    val all = (1L to 12L).map(i =>
      i -> s"nav\ndoc$i body line\nfooter ${i % 3}\nshared ${i % 2}")
    val batch = all.filter(_._1 % 4 == 0)
    val corpus = all.filterNot(_._1 % 4 == 0)
    val table = "graft_line_index_spec_" +
      spark.sparkContext.applicationId.replaceAll("[^a-zA-Z0-9]", "_")
    graft.sources.Bucketing.ensureCleanTable(spark, table)
    Dedup.writeLineIndex(corpus.toDF("doc_id", "text"), "doc_id", "text",
      "\n", 1, table, 4)
    def serve() = Dedup.lineDedupIncremental(spark,
        batch.toDF("doc_id", "text"), "doc_id", "text", "\n", 1, table)
      .collect().map(r => r.getAs[Long]("sid") ->
        (r.getAs[String]("text_dedup"), r.getAs[Long]("n_kept"))).toMap
    val inc = serve()
    val full = lineDedupRef(all, "\n", 1)
    assert(inc == full.view.filterKeys(_ % 4 == 0).toMap
      .map { case (id, (t, _, k)) => id -> (t, k) })
    // append the batch, then replay: <= on the merged winner makes the
    // incremental dedup idempotent under append-then-retry
    Dedup.appendLineIndex(batch.toDF("doc_id", "text"), "doc_id", "text",
      "\n", 1, table, 4)
    assert(serve() == inc, "a replayed batch must dedup identically")
  }

  test("lineDedupIngestBatch: ascending-range batches compose to the full run; late replay is a no-op") {
    import spark.implicits._
    val all = (0L to 11L).map(i =>
      i -> s"nav\ndoc$i body line\nfooter ${i % 3}\nshared ${i % 2}")
    val app = spark.sparkContext.applicationId.replaceAll("[^a-zA-Z0-9]", "_")
    val path = java.nio.file.Files.createTempDirectory("graft-ds12-spec")
      .toString + "/state"
    val table = "graft_line_index_ds12_spec_" + app
    graft.sources.Bucketing.ensureCleanTable(spark, table)
    def slice(b: Int) = all.filter { case (id, _) => id / 4 == b }
      .toDF("doc_id", "text")
    (0 to 2).foreach { b =>
      Dedup.lineDedupIngestBatch(spark, slice(b), b.toLong, path,
        "doc_id", "text", "\n", 1, table, 4)
    }
    def served() = Dedup.servedLineDedup(spark, path)
      .collect().map(r => r.getAs[Long]("sid") ->
        (r.getAs[String]("text_dedup"), r.getAs[Long]("n_kept"))).toMap
    val composed = served()
    // the union of landed batches IS the from-scratch whole-corpus run
    val full = Dedup.lineDedup(all.toDF("doc_id", "text"),
        "doc_id", "text", "\n", 1)
      .collect().map(r => r.getAs[Long]("sid") ->
        (r.getAs[String]("text_dedup"), r.getAs[Long]("n_kept"))).toMap
    assert(composed == full,
      "sequential range-batched ingest must equal one whole-corpus lineDedup")
    // injected retry: batch 1 replays AFTER batch 2 committed — identical
    // rows land, the serve is unchanged
    Dedup.lineDedupIngestBatch(spark, slice(1), 1L, path,
      "doc_id", "text", "\n", 1, table, 4)
    assert(served() == composed, "a late-replayed batch must change nothing")
  }

  test("i1 SFT-pair dedup: keep-first per (prompt-cluster, response_fp), both branches") {
    // the composed query over the real fixture dir (sf0.001): the i1
    // invariants must hold row-set-wide — exactly one keeper per
    // (component, response_fp), templated families collapse to one
    // cluster, and a distinct response inside a near-dup prompt cluster
    // SURVIVES (it is a different demonstration, not a duplicate)
    val out = graft.SparkEntry.queries("i1_sft_pair_dedup")(spark, sf)
      .select(col("pair_id"), col("component"), col("response_fp"), col("keep"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getBoolean(3)))
    assert(out.nonEmpty)
    // exactly one keep per (component, response_fp), and it is the min id
    out.groupBy(t => (t._2, t._3)).foreach { case (k, rows) =>
      val keeps = rows.filter(_._4)
      assert(keeps.length == 1, s"group $k has ${keeps.length} keepers")
      assert(keeps.head._1 == rows.map(_._1).min, s"group $k keeper is not min id")
    }
    // the planted family {0,1,2} shares one cluster; 0 keeps, 1 drops
    // (exact-dup response), 2 keeps (distinct response)
    val fam = out.filter(_._1 < 3).sortBy(_._1)
    assert(fam.map(_._2).distinct.length == 1, s"family split: $fam")
    assert(fam.map(_._4).toSeq == Seq(true, false, true), fam.mkString("; "))
  }
}
