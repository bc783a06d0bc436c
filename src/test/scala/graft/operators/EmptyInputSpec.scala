package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Empty-input contracts: a 100 TB pipeline routinely produces empty
  * intermediate frames (a filter that matched nothing, a day with no new
  * data, an empty partition of an incremental run). Every operator must
  * return an empty frame with the right schema — never throw.
  */
class EmptyInputSpec extends SparkSpec {
  import spark.implicits._

  private def noDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
  private def noVecs = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")

  test("dedup family: empty corpus in, empty result out") {
    assert(Dedup.exact(noDocs, "doc_id", "text").count() == 0)
    assert(Dedup.minhashVerifiedPairs(noDocs, "doc_id", "text", 3, 0.5).count() == 0)
    assert(Dedup.dedupSpans(noDocs, "doc_id", "text", 40).count() == 0)
    assert(Dedup.simhash(noDocs, "doc_id", "text").count() == 0)
    val cc = Dedup.connectedComponents(
      Seq.empty[(Long, Long)].toDF("ida", "idb"))
    assert(cc.columns.toSeq == Seq("sid", "component") && cc.count() == 0)
  }

  test("similarity family: empty corpus in, empty result out") {
    assert(Similarity.bruteForceTopK(noVecs, noVecs, "vec_id", "embedding", 5)
      .count() == 0)
    assert(Similarity.pqTopK(noVecs, noVecs, "vec_id", "embedding", 64, 8, 16, 5)
      .count() == 0)
    assert(Similarity.ivfPqTopK(noVecs, "vec_id", "embedding", 64, 16, 4, 8, 16, 5)
      .count() == 0)
    assert(Similarity.lshNearDupPairs(noVecs, "vec_id", "embedding", 64, 4, 8, 0.9)
      .count() == 0)
  }

  test("round-12 operators: empty in, empty out, schema intact") {
    // classifier on an empty corpus: empty scores, dense model still full
    val model = TextOps.trainQualityModel(noDocs, "doc_id", "text",
      lit(true), 16)
    assert(model.count() == 17, "dense model: 16 buckets + prior")
    assert(TextOps.scoreQuality(noDocs, "doc_id", "text", model, 16)
      .count() == 0)
    // semDedup needs a positive cell count on an empty frame (auto would
    // divide by zero rows) — explicit cells return empty with the schema
    val sd = Similarity.semDedup(noVecs, "vec_id", "embedding", 2, 1, 0.9)
    assert(sd.columns.toSeq ==
      Seq("sid", "cid", "cosine", "component", "keep") && sd.count() == 0)
    // phrase search / perplexity buckets / metrics over nothing
    assert(TextOps.phraseSearch(noDocs, "doc_id", "text", Seq("a", "b"))
      .count() == 0)
    assert(TextOps.perplexityBuckets(noDocs, "doc_id", "text", "text")
      .count() == 0)
    val noRanks = Seq.empty[(Long, Long, Long)].toDF("qid", "nid", "rank")
    val rm = Similarity.retrievalMetrics(noRanks, noRanks, 5)
    assert(rm.columns.toSeq ==
      Seq("qid", "n_hits", "mrr_fp", "dcg_fp", "idcg_fp") && rm.count() == 0)
    // incremental components with an empty batch: labels pass through
    val labels = Seq((1L, 1L), (2L, 1L)).toDF("sid", "component")
    assert(Dedup.mergeComponents(labels,
      Seq.empty[(Long, Long)].toDF("ida", "idb"))
      .as[(Long, Long)].collect().toSet == Set(1L -> 1L, 2L -> 1L))
    // an EMPTY persisted FTS index serves zero rows (no ANSI divide-by-
    // zero from the avgdl nobody reads)
    val ftsName = "spec_empty_fts"
    try {
      FtsIndex.writeBm25(noDocs, "doc_id", "text", ftsName, nBuckets = 2)
      assert(FtsIndex.searchBm25(spark, ftsName, Seq("table"), 5).count() == 0)
    } finally
      Seq(FtsIndex.postingsTable(ftsName), FtsIndex.doclensTable(ftsName),
        FtsIndex.metaTable(ftsName))
        .foreach(graft.sources.Bucketing.ensureCleanTable(spark, _))
  }

  test("round-7 operators: empty in, empty out, schema intact") {
    // BPE training on nothing: zero merges, right columns
    val merges = TextOps.bpeMerges(noDocs, "text", rounds = 3)
    assert(merges.columns.toSeq ==
      Seq("rank", "lft", "rgt", "merged", "pair_freq") && merges.count() == 0)
    // apply with an empty merge table degenerates to character split
    assert(Seq("ab").toDF("w")
      .select(TextOps.bpeSegmentCol($"w", Seq.empty).as("p"))
      .as[Seq[String]].head() == Seq("a", "b"))
    // image fixture + dHash + banding on an empty frame
    val sig = Multimodal.imageDHash(spark,
      Multimodal.attachImageFixture(spark, noDocs, "doc_id"))
    assert(sig.count() == 0)
    assert(Dedup.hammingBandPairs(sig, "dhash", 56, 6, 4).count() == 0)
    // trained, residual and external-serve IVF-PQ on an empty corpus
    assert(Similarity.ivfPqTopKTrained(noVecs, "vec_id", "embedding",
      64, 16, 1, 4, 8, 16, 5).count() == 0)
    assert(Similarity.ivfPqResidualTopK(noVecs, "vec_id", "embedding",
      64, 16, 4, 8, 16, 5).count() == 0)
    assert(Similarity.ivfPqSearch(noVecs, noVecs, "vec_id", "embedding",
      64, 16, 1, 4, 8, 16, 5).count() == 0)
    // trained PQ codebook on an empty corpus: one row of m empty books
    val cbEmpty = Similarity.pqTrainKmeans(noVecs, "vec_id", "embedding",
      64, 8, 16, updates = 1)
    assert(cbEmpty.count() == 1)
    // left-outer salted join: empty probe and empty build both behave
    val probe = Seq((1L, "x")).toDF("k", "v")
    val noBuild = Seq.empty[(Long, String)].toDF("bk", "attr")
    assert(Salting.saltedJoinOuter(probe, noBuild, "k", "bk", 4).count() == 1)
    assert(Salting.saltedJoinOuter(noBuild.toDF("k", "v"), probe.toDF("bk", "attr"),
      "k", "bk", 4).count() == 0)
  }

  test("round-8 operators: empty in, empty out, schema intact") {
    // residual serve with an empty QUERY set and an empty CORPUS
    assert(Similarity.ivfPqResidualSearch(noVecs, noVecs, "vec_id",
      "embedding", 64, 16, 4, 8, 16, 5).count() == 0)
    assert(Similarity.ivfPqResidualTopKTrained(noVecs, "vec_id", "embedding",
      64, 16, 1, 4, 8, 16, 5).count() == 0)
    // batched BPE on nothing: zero merges, schema intact
    val bm = TextOps.bpeMergesBatched(noDocs, "text", rounds = 3, batchK = 4)
    assert(bm.columns.toSeq ==
      Seq("rank", "lft", "rgt", "merged", "pair_freq") && bm.count() == 0)
    // KMV: empty input -> empty per-key sketch; set algebra on two empty
    // sides -> one row of zeros (u_size 0 guards the division)
    assert(ApproxOps.kmvDistinctByKey(noDocs, "doc_id", "text", 64).count() == 0)
    val kv = ApproxOps.kmvUnionIntersect(
      noDocs.select($"text".as("v")), noDocs.select($"text".as("v")), "v", 64)
      .collect()(0)
    assert(kv.getAs[Double]("n_union_est") == 0.0)
    assert(kv.getAs[Long]("n_shared") == 0L)
    // windowed heavy hitters on an empty event frame
    val noEvents = Seq.empty[(Long, java.sql.Timestamp, String)]
      .toDF("event_id", "ts", "event_type")
    val hh = HeavyHitters.topValuesByWindow(noEvents, "ts", "event_type",
      "1 hour", 16, 3)
    assert(hh.columns.toSeq ==
      Seq("window_start", "value", "freq", "rank", "n_candidates", "lossless") &&
      hh.count() == 0)
    // cluster-keyed split: empty corpus and empty labels both behave
    val noLabels = Seq.empty[(Long, Long)].toDF("sid", "component")
    assert(Sampling.splitAssignByCluster(noDocs, "doc_id", noLabels,
      "sid", "component", Seq("train" -> 0.8, "val" -> 0.2), "sp").count() == 0)
    val sp = Sampling.splitAssignByCluster(Seq(Tuple1(7L)).toDF("doc_id"),
      "doc_id", noLabels, "sid", "component",
      Seq("train" -> 0.8, "val" -> 0.2), "sp")
    assert(sp.count() == 1 && sp.columns.contains("split"))
  }

  test("etl/sampling operators: empty in, empty out, schema intact") {
    val noOrders = Seq.empty[(Long, Int, String)].toDF("k", "t", "attr")
    val scd = EtlOps.scd2(noOrders, "k", Seq("t"), Seq("attr"))
    assert(scd.columns.toSeq ==
      Seq("k", "attr", "valid_from", "valid_to", "is_current") && scd.count() == 0)
    val sh = Sampling.shuffleOrder(spark, noDocs, "doc_id", "x")
    assert(sh.columns.contains("pos") && sh.count() == 0)
    assert(Sampling.temperatureSample(noDocs.withColumn("source", lit("a")),
      "doc_id", "source", 0.5, "t").count() == 0)
    assert(Packing.assignPacks(spark, noDocs.withColumn("n", lit(1L)),
      "doc_id", "n", 100L).count() == 0)
  }

  test("round-13 operators: empty in, empty out, schema intact") {
    // KN models on an empty corpus: zero probability rows, right columns
    assert(TextOps.knTrigramProbs(noDocs, "doc_id", "text", 1L).columns.toSeq
      == Seq("w1", "w2", "w3", "c", "p_fp"))
    assert(TextOps.knTrigramProbs(noDocs, "doc_id", "text", 1L).count() == 0)
    // scoring an empty corpus: empty; empty TRAIN set degenerates to the
    // uniform continuation prior (p = 1e12, ln = 0) instead of throwing
    assert(TextOps.knDocScore(noDocs, noDocs, "doc_id", "text").count() == 0)
    val docs = Seq((1L, "a b")).toDF("doc_id", "text")
    val uniform = TextOps.knDocScore(noDocs, docs, "doc_id", "text")
      .as[(Long, Long, Long, Option[Long])].collect()
    assert(uniform.toSeq == Seq((1L, 1L, 0L, Some(0L))))
    // tiers over nothing scorable (empty corpus / no-bigram docs)
    assert(TextOps.knPerplexityTiers(noDocs,
      noDocs.withColumn("lang", lit("en")), "doc_id", "text", "lang")
      .count() == 0)
    assert(TextOps.knPerplexityTiers(docs,
      Seq((9L, "solo", "en")).toDF("doc_id", "text", "lang"),
      "doc_id", "text", "lang").count() == 0)
    // hard negatives with no corpus / no queries
    val noLabeled = noVecs.withColumn("label", lit(0L))
    assert(Similarity.hardNegatives(noLabeled, noLabeled,
      "vec_id", "embedding", "label", 5).count() == 0)
    // mixToWeights when a weighted stratum is empty: T* = 0, empty mix
    assert(Sampling.mixToWeights(
      Seq((1L, "en")).toDF("doc_id", "lang"), "doc_id", "lang",
      Map("en" -> 1L, "de" -> 1L), "mx").count() == 0)
    // tokenBudgetPerKey on an empty frame (the min/max probe path)
    assert(Sampling.tokenBudgetPerKey(
      Seq.empty[(String, Long, Long, Double)].toDF("src", "doc_id", "n", "s"),
      "src", "doc_id", "n", "s", 10L).count() == 0)
  }

  test("round-13 eval/graph/sampling operators: empty in, empty out, schema intact") {
    assert(TextOps.chrF(noDocs, noDocs, "doc_id", "text").count() == 0)
    assert(GraphOps.derivationEdges(noDocs, "doc_id", "text", 3).count() == 0)
    val pr = GraphOps.pageRank(Seq.empty[(Long, Long)].toDF("src", "dst"),
      noDocs, "doc_id", iters = 2)
    assert(pr.columns.toSeq == Seq("sid", "rank_fp") && pr.count() == 0)
    val noScored = Seq.empty[(String, Boolean, Long)].toDF("g", "y", "s")
    assert(Quality.rocAuc(noScored, "g", "y", "s").count() == 0)
    assert(Quality.calibrationBins(noScored, "g", "y", "s", 4).count() == 0)
    assert(Quality.confusionCounts(noScored, "g", "y", "s").count() == 0)
    assert(Sampling.expandCopies(
      Seq.empty[(Long, Long)].toDF("doc_id", "n_copies"), "doc_id")
      .count() == 0)
    assert(Sampling.temporalPurgedSplit(
      Seq.empty[(Long, Long, java.sql.Timestamp)]
        .toDF("event_id", "user_id", "ts"),
      "event_id", "user_id", "ts",
      java.sql.Timestamp.valueOf("2024-01-20 00:00:00"),
      java.sql.Timestamp.valueOf("2024-01-22 00:00:00")).count() == 0)
    // epochMix: a weighted stratum on an EMPTY frame is unfillable with
    // replacement — fail loud, never renormalize (the sm15 contract)
    intercept[IllegalArgumentException] {
      Sampling.epochMix(Seq.empty[(Long, String)].toDF("doc_id", "lang"),
        "doc_id", "lang", Map("en" -> 1L), 10L, "em")
    }
  }

  test("round-17 operators: empty in, empty out, schema intact") {
    val noUrls = Seq.empty[(Long, String)].toDF("id", "url")
    val cd = UrlOps.canonicalDedup(noUrls, "id", "url")
    assert(cd.columns.toSeq == Seq("url_canonical", "kept_id", "n_dups") &&
      cd.count() == 0)
    val noTexted = Seq.empty[(Long, String, String)].toDF("id", "url", "text")
    val hr = UrlOps.hostRollup(noTexted, "url", "text", 0.5)
    assert(hr.columns.toSeq ==
      Seq("host", "n_docs", "n_tokens", "quality_micro_sum", "blocked") &&
      hr.count() == 0)
    val pd = TextOps.paragraphDedup(noDocs, "doc_id", "text", sep = "|")
    assert(pd.columns.toSeq ==
      Seq("sid", "text_dedup", "n_paras", "n_kept") && pd.count() == 0)
    val noPairs = Seq.empty[(Long, Long)].toDF("qid", "nid")
    val mined = Bitext.minePairs(noVecs, noVecs, "vec_id", "embedding",
      noPairs, noPairs)
    assert(mined.columns.toSeq ==
      Seq("src_id", "tgt_id", "cos_micro", "margin") && mined.count() == 0)
    val noEvents = Seq.empty[(Long, java.sql.Timestamp)].toDF("user_id", "ts")
    val cr = EventOps.cohortRetention(noEvents, "user_id", "ts")
    assert(cr.columns.toSeq ==
      Seq("cohort_date", "day_offset", "n_active") && cr.count() == 0)
    val noTyped = Seq.empty[(Long, java.sql.Timestamp, String)]
      .toDF("user_id", "ts", "event_type")
    assert(Funnel.conversionLatency(noTyped, "user_id", "ts", "event_type",
      Seq("view", "click", "purchase")).count() == 0)
  }

  test("round-19 operators: empty in, empty out, schema intact") {
    val noPages = Seq.empty[(Long, String)].toDF("id", "page")
    val rp = Html.robotsPolicy(noPages, "id", "page")
    assert(rp.columns.toSeq == Seq("sid", "noindex", "nofollow") && rp.count() == 0)
    val noMedia = Seq.empty[(Long, Array[Byte])].toDF("id", "media")
    assert(Multimodal.decodeJpegMeta(spark, noMedia).count() == 0)
    assert(Multimodal.decodeMp4Meta(spark, noMedia).count() == 0)
    assert(Multimodal.attachJpeg(spark, noDocs, "doc_id", "text").count() == 0)
    assert(Multimodal.attachMp4(spark, noDocs, "doc_id", "text").count() == 0)
  }

  test("degenerate key distributions: two-level ranks survive all-equal sort keys") {
    // every doc identical -> one __k value -> ONE range bucket; ranks must
    // still be the (key, id) permutation and thirds exact
    val same = (1L to 9L).map(i => (i, "x y z", "en")).toDF("doc_id", "text", "lang")
    val out = TextOps.perplexityBuckets(same, "doc_id", "text", "lang")
      .select($"did", $"r", $"bucket").as[(Long, Long, String)].collect()
    assert(out.map(_._2).sorted.toSeq == (1L to 9L).toSeq)
    assert(out.sortBy(_._2).map(_._1).toSeq == (1L to 9L).toSeq, "tie by id")
    assert(out.count(_._3 == "head") == 3 && out.count(_._3 == "tail") == 3)
    // all-equal scores in the token budget: descending ties break by id
    val flat = (1L to 6L).map(i => ("s", i, 10L, 1.0)).toDF("src", "doc_id", "n", "sc")
    val kept = Sampling.tokenBudgetPerKey(flat, "src", "doc_id", "n", "sc", 35L)
      .select($"doc_id", $"cum_tokens").as[(Long, Long)].collect().sortBy(_._1)
    assert(kept.map(_._1).toSeq == (1L to 4L).toSeq,
      "budget 35 keeps docs 1..3 (30) + the crossing doc 4")
    assert(kept.map(_._2).toSeq == Seq(10L, 20L, 30L, 40L))
  }

  test("ds2_ingest_exactly_once: a corpus with no near-duplicate pair gives 0 rows") {
    // 16 documents of disjoint words: no batch lands a pair file, so the
    // pairs directory the query reads back holds no data file
    val dir = java.nio.file.Files.createTempDirectory("graft_ds2_nopairs").toString
    (0L until 16L).map { i =>
      val text = (0 until 10).map(j => s"w${i}x$j").mkString(" ")
      (i, text, "en", "web", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val out = graft.SparkEntry.queries("ds2_ingest_exactly_once")(spark, dir)
    assert(out.columns.toSeq == Seq("ida", "idb", "jaccard", "round"))
    assert(out.count() == 0)
  }
}
