package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class LmIndexSpec extends SparkSpec {
  import spark.implicits._

  private def cleanup(name: String): Unit =
    graft.sources.Bucketing.ensureCleanTable(spark, LmIndex.countsTable(name))

  test("served counts equal ngramLmCounts on the reassembled corpus, retry replaces") {
    val name = "spec_lm"
    val docs = graft.core.Tables.documents(spark, sf)
    try {
      LmIndex.writeLmIndex(docs.filter($"doc_id" % 3 === 0), "text", 3,
        name, nBuckets = 4, seedBatch = 0L)
      LmIndex.ingestLmBatch(docs.filter($"doc_id" % 3 === 1), 1L, "text", 3,
        name, nBuckets = 4)
      LmIndex.ingestLmBatch(docs.filter($"doc_id" % 3 === 2), 2L, "text", 3,
        name, nBuckets = 4)
      def served() = LmIndex.serveLmCounts(spark, name, minCount = 1L)
        .as[(Long, String, Long, Long)].collect().toSet
      val scratch = TextOps.ngramLmCounts(docs, "doc_id", "text", 3, 1L)
        .as[(Long, String, Long, Long)].collect().toSet
      val s0 = served()
      assert(s0 == scratch,
        "served table must be bit-identical to the one-shot count job")
      // injected retry: a replayed batch replaces its partition — counts
      // (the additive half) and continuation counts (the distinct half)
      // both unchanged
      LmIndex.ingestLmBatch(docs.filter($"doc_id" % 3 === 1), 1L, "text", 3,
        name, nBuckets = 4)
      assert(served() == s0, "a replayed batch changed the served counts")
      // minCount prunes at serve with full evidence: a gram with c = 2
      // split across two batches survives minCount = 2
      val c2 = s0.filter(_._3 == 2L).map(_._2)
      val pruned = LmIndex.serveLmCounts(spark, name, minCount = 2L)
        .as[(Long, String, Long, Long)].collect().toSet
      assert(pruned == s0.filter(_._3 >= 2L), "serve-time threshold")
      assert(c2.isEmpty || pruned.exists(r => c2.contains(r._2)))
    } finally cleanup(name)
  }

  test("doc scorers served from the index are bit-equal to from-scratch recounts") {
    val name = "spec_lm_serve"
    val docs = graft.core.Tables.documents(spark, sf)
    val train = docs.filter($"doc_id" % 3 =!= 0)
    try {
      LmIndex.writeLmIndex(train.filter($"doc_id" % 3 === 1), "text", 3,
        name, nBuckets = 4, seedBatch = 0L)
      LmIndex.ingestLmBatch(train.filter($"doc_id" % 3 === 2), 1L, "text", 3,
        name, nBuckets = 4)
      val counts = LmIndex.serveLmCounts(spark, name, minCount = 1L)
      val knServed = TextOps.knDocScoreServed(counts, docs, "doc_id", "text")
        .as[(Long, Long, Long, Option[Long])].collect().toSet
      val knScratch = TextOps.knDocScore(train, docs, "doc_id", "text")
        .as[(Long, Long, Long, Option[Long])].collect().toSet
      assert(knServed == knScratch,
        "KN scores through storage must be bit-equal to the recount")
      val sbServed = TextOps.stupidBackoffDocScoreServed(
          counts, docs, "doc_id", "text")
        .as[(Long, Long, Long, Option[Long])].collect().toSet
      val sbScratch = TextOps.stupidBackoffDocScore(train, docs, "doc_id", "text")
        .as[(Long, Long, Long, Option[Long])].collect().toSet
      assert(sbServed == sbScratch,
        "SB scores through storage must be bit-equal to the recount")
      // the counts feeding the scorers also came through TWO batches, so
      // this transitively proves serve(ingest(a) + ingest(b)) == count(a+b)
    } finally cleanup(name)
  }

  test("streaming ingest equals the batch path (foreachBatch wrapper)") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val name = "spec_lm_stream"
    val docs = graft.core.Tables.documents(spark, sf)
    try {
      LmIndex.writeLmIndex(docs.filter($"doc_id" % 3 === 2), "text", 2,
        name, nBuckets = 4, seedBatch = -1L)
      val b0 = docs.filter($"doc_id" % 3 === 0)
        .select("doc_id", "text").as[(Long, String)].collect()
      val b1 = docs.filter($"doc_id" % 3 === 1)
        .select("doc_id", "text").as[(Long, String)].collect()
      assert(b0.nonEmpty && b1.nonEmpty)
      val input = MemoryStream[(Long, String)]
      val q = microBatches(input.toDF().toDF("doc_id", "text")) { (b, id) =>
        LmIndex.ingestLmBatch(b, id, "text", 2, name, nBuckets = 4)
      }.start()
      try {
        input.addData(b0.toSeq: _*); q.processAllAvailable()
        input.addData(b1.toSeq: _*); q.processAllAvailable()
      } finally q.stop()
      val served = LmIndex.serveLmCounts(spark, name, 1L)
        .as[(Long, String, Long, Long)].collect().toSet
      val scratch = TextOps.ngramLmCounts(docs, "doc_id", "text", 2, 1L)
        .as[(Long, String, Long, Long)].collect().toSet
      assert(served == scratch, "streamed count table diverged from batch")
    } finally cleanup(name)
  }

  test("takedown by batch re-ingest: served table equals counts without the doc") {
    val name = "spec_lm_takedown"
    val docs = graft.core.Tables.documents(spark, sf)
    try {
      LmIndex.writeLmIndex(docs.filter($"doc_id" % 3 === 0), "text", 2,
        name, nBuckets = 4, seedBatch = 0L)
      val b1 = docs.filter($"doc_id" % 3 =!= 0)
      LmIndex.ingestLmBatch(b1, 1L, "text", 2, name, nBuckets = 4)
      val victim = b1.select($"doc_id").as[Long].head()
      // takedown: re-ingest batch 1 WITHOUT the doc (partition replace)
      LmIndex.ingestLmBatch(b1.filter($"doc_id" =!= victim), 1L, "text", 2,
        name, nBuckets = 4)
      val served = LmIndex.serveLmCounts(spark, name, 1L)
        .as[(Long, String, Long, Long)].collect().toSet
      val scratch = TextOps.ngramLmCounts(
          docs.filter($"doc_id" =!= victim), "doc_id", "text", 2, 1L)
        .as[(Long, String, Long, Long)].collect().toSet
      assert(served == scratch,
        "takedown re-ingest must equal a from-scratch count without the doc")
    } finally cleanup(name)
  }

  test("lmIngest survives a checkpointed restart: batch ids resume, counts identical") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val name = "spec_lm_ckpt"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_lm_ckpt").toString
    val docs = graft.core.Tables.documents(spark, sf)
    try {
      LmIndex.writeLmIndex(docs.filter($"doc_id" % 3 === 2), "text", 2,
        name, nBuckets = 4, seedBatch = -1L)
      val b0 = docs.filter($"doc_id" % 3 === 0)
        .select("doc_id", "text").as[(Long, String)].collect()
      val b1 = docs.filter($"doc_id" % 3 === 1)
        .select("doc_id", "text").as[(Long, String)].collect()
      val input = MemoryStream[(Long, String)]
      def startQuery() = microBatches(input.toDF().toDF("doc_id", "text")) {
          (b, id) => LmIndex.ingestLmBatch(b, id, "text", 2, name, nBuckets = 4)
        }.option("checkpointLocation", ckpt).start()
      val q1 = startQuery()
      input.addData(b0.toSeq: _*); q1.processAllAvailable(); q1.stop()
      // enqueue while stopped; the restart must resume batch numbering
      // from the checkpoint, not re-run batch 0 over batch 1's rows
      input.addData(b1.toSeq: _*)
      val q2 = startQuery()
      try q2.processAllAvailable() finally q2.stop()
      val served = LmIndex.serveLmCounts(spark, name, 1L)
        .as[(Long, String, Long, Long)].collect().toSet
      val scratch = TextOps.ngramLmCounts(docs, "doc_id", "text", 2, 1L)
        .as[(Long, String, Long, Long)].collect().toSet
      assert(served == scratch, "restarted stream diverged from the batch job")
    } finally cleanup(name)
  }

  test("serve aggregate is exchange-free on the gram-bucketed layout") {
    val name = "spec_lm_plan"
    val docs = graft.core.Tables.documents(spark, sf)
    try {
      LmIndex.writeLmIndex(docs, "text", 2, name, nBuckets = 4, seedBatch = 0L)
      val p = LmIndex.serveLmCounts(spark, name, 1L)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      // grouping keys (ord, gram) are a superset of the bucket key (gram):
      // the stored HashPartitioning satisfies the aggregate's distribution
      assert(!p.contains("Arguments: hashpartitioning"),
        s"serve aggregate shuffled despite the bucketed layout:\n$p")
    } finally cleanup(name)
  }
}
