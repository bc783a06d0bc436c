package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class FtsIndexSpec extends SparkSpec {
  import spark.implicits._

  private def cleanup(name: String): Unit =
    Seq(FtsIndex.postingsTable(name), FtsIndex.doclensTable(name),
      FtsIndex.metaTable(name))
      .foreach(graft.sources.Bucketing.ensureCleanTable(spark, _))

  test("persisted serve equals from-scratch bm25Rank bit-for-bit, appends included") {
    val name = "spec_rt"
    val docs = graft.core.Tables.documents(spark, sf)
    val terms = Seq("table", "hash", "merge")
    try {
      FtsIndex.writeBm25(docs.filter($"doc_id" % 3 =!= 0), "doc_id", "text",
        name, nBuckets = 4)
      FtsIndex.appendBm25(docs.filter($"doc_id" % 3 === 0), "doc_id", "text",
        name, nBuckets = 4)
      val served = FtsIndex.searchBm25(spark, name, terms, k = 25)
        .as[(Long, Double)].collect().toSeq
      val scratch = TextOps.bm25Rank(docs, "doc_id", "text", terms, k = 25)
        .as[(Long, Double)].collect().toSeq
      assert(served == scratch,
        "served ranking must equal the from-scratch ranking exactly")
      // wrong bucket count on append fails loud (catalog guard), never a
      // silently broken bucketed layout
      intercept[IllegalArgumentException] {
        FtsIndex.appendBm25(docs.limit(1), "doc_id", "text", name,
          nBuckets = 8)
      }
    } finally cleanup(name)
  }

  test("serve scan prunes postings buckets for the queried terms") {
    val name = "spec_prune"
    val docs = graft.core.Tables.documents(spark, sf)
    try {
      FtsIndex.writeBm25(docs, "doc_id", "text", name, nBuckets = 4)
      val plan = FtsIndex.searchBm25(spark, name, Seq("table"), k = 5)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      // Spark reports bucket pruning as "SelectedBucketsCount: m out of n"
      val sel = "SelectedBucketsCount: (\\d+) out of 4".r.findFirstMatchIn(plan)
      assert(sel.isDefined, s"no bucket pruning on the postings scan:\n$plan")
      assert(sel.get.group(1).toInt < 4,
        s"one-term query must read fewer than all buckets:\n$plan")
    } finally cleanup(name)
  }

  test("partitioned ingest: live stream equals the batch path, retry replaces not appends") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val name = "spec_ingest"
    val docs = graft.core.Tables.documents(spark, sf)
    val terms = Seq("table", "hash", "merge")
    try {
      FtsIndex.writeBm25Partitioned(docs.filter($"doc_id" % 3 === 2),
        "doc_id", "text", name, nBuckets = 4)
      val b0 = docs.filter($"doc_id" % 3 === 0)
        .select("doc_id", "text").as[(Long, String)].collect()
      val b1 = docs.filter($"doc_id" % 3 === 1)
        .select("doc_id", "text").as[(Long, String)].collect()
      assert(b0.nonEmpty && b1.nonEmpty)
      val input = MemoryStream[(Long, String)]
      val q = microBatches(input.toDF().toDF("doc_id", "text")) { (b, id) =>
        FtsIndex.ingestBm25Batch(b, id, "doc_id", "text", name, nBuckets = 4)
      }.start()
      try {
        input.addData(b0.toSeq: _*); q.processAllAvailable()
        input.addData(b1.toSeq: _*); q.processAllAvailable()
      } finally q.stop()
      val served = FtsIndex.searchBm25(spark, name, terms, k = 25)
        .as[(Long, Double)].collect().toSeq
      val scratch = TextOps.bm25Rank(docs, "doc_id", "text", terms, k = 25)
        .as[(Long, Double)].collect().toSeq
      assert(served == scratch, "streamed index must serve the exact ranking")
      // injected retry: replaying batch 1 replaces its partitions — the
      // doc count stays the corpus count and the ranking is unchanged
      FtsIndex.ingestBm25Batch(docs.filter($"doc_id" % 3 === 1), 1L,
        "doc_id", "text", name, nBuckets = 4)
      val metaDocs = spark.table(FtsIndex.metaTable(name))
        .agg(sum($"n_docs")).as[Long].collect().head
      assert(metaDocs == docs.count(), "retry must replace, never append")
      val replayed = FtsIndex.searchBm25(spark, name, terms, k = 25)
        .as[(Long, Double)].collect().toSeq
      assert(replayed == served, "a replayed batch changed the ranking")
    } finally cleanup(name)
  }

  test("meta stats are additive: appends never rewrite, serve sums the rows") {
    val name = "spec_meta"
    val docs = graft.core.Tables.documents(spark, sf)
    try {
      FtsIndex.writeBm25(docs.filter($"doc_id" % 3 =!= 0), "doc_id", "text",
        name, nBuckets = 4)
      FtsIndex.appendBm25(docs.filter($"doc_id" % 3 === 0), "doc_id", "text",
        name, nBuckets = 4)
      val meta = spark.table(FtsIndex.metaTable(name))
        .as[(Long, Long)].collect()
      assert(meta.length == 2, "one meta row per ingest")
      assert(meta.map(_._1).sum == docs.count(), "doc counts sum to corpus")
    } finally cleanup(name)
  }
}
