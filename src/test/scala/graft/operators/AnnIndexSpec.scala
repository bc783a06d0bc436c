package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Persisted IVF-PQ index (AnnIndex): storage round-trip value equivalence,
  * frozen-append semantics, tombstone compaction, and the serve-time plan
  * contract (index side of the probe join reads bucket-aligned, exchange-
  * free). The full write -> append -> search path is additionally
  * hash-checked against DuckDB by the s19 oracle.
  */
class AnnIndexSpec extends SparkSpec {
  import spark.implicits._

  private val emb = graft.core.Tables.embeddings(spark, sf)

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.select("qid", "nid", "d2", "rank").as[(Long, Long, Long, Long)]
      .collect().toSet

  test("persisted index serves the same answers as the in-memory search") {
    val name = "ann_idx_roundtrip"
    AnnIndex.dropIvfPq(spark, name)
    val corpus = emb.filter(col("vec_id") >= 8)
    val queries = emb.filter(col("vec_id") < 8)
    AnnIndex.writeIvfPq(corpus, "vec_id", "embedding", dim = 64,
      nCells = 16, m = 8, k = 16, name, nBuckets = 4)
    val persisted = rows(AnnIndex.searchIvfPq(queries, "vec_id", "embedding",
      dim = 64, m = 8, nProbe = 4, topK = 5, name))
    val direct = rows(Similarity.ivfPqSearch(queries, corpus, "vec_id",
      "embedding", dim = 64, nCells = 16, updates = 0, nProbe = 4, m = 8,
      k = 16, topK = 5))
    assert(persisted == direct)
    assert(persisted.nonEmpty)
    AnnIndex.dropIvfPq(spark, name)
  }

  test("nCells <= 0 auto-sizes the persisted coarse quantizer from the corpus count") {
    // the storage path must not recreate the fixed-cell scale-killer the
    // in-memory ladder fixed (s18): default sizing is autoCells ~ 4*sqrt(N)
    val name = "ann_idx_autosize"
    AnnIndex.dropIvfPq(spark, name)
    val corpus = emb.filter(col("vec_id") >= 8)
    AnnIndex.writeIvfPq(corpus, "vec_id", "embedding", dim = 64,
      nCells = 0, m = 8, k = 16, name, nBuckets = 4)
    val expected = Similarity.autoCells(corpus.count())
    val got = spark.table(AnnIndex.centroidsTable(name)).count()
    assert(got == expected.toLong,
      s"auto-sized centroids: got $got, expected autoCells = $expected")
    // the auto-sized index still serves (external queries, masked nothing)
    val served = AnnIndex.searchIvfPq(emb.filter(col("vec_id") < 8),
      "vec_id", "embedding", dim = 64, m = 8,
      nProbe = Similarity.autoProbe(expected), topK = 5, name)
    assert(served.count() > 0)
    AnnIndex.dropIvfPq(spark, name)

    val namep = "ann_idx_autosize_part"
    AnnIndex.dropIvfPq(spark, namep)
    AnnIndex.writeIvfPqPartitioned(corpus, "vec_id", "embedding", dim = 64,
      nCells = 0, m = 8, k = 16, namep, nBuckets = 4)
    assert(spark.table(AnnIndex.centroidsTable(namep)).count() == expected.toLong)
    AnnIndex.dropIvfPq(spark, namep)
  }

  test("append freezes training state and never re-keys existing members") {
    val name = "ann_idx_append"
    AnnIndex.dropIvfPq(spark, name)
    val base = emb.filter(col("vec_id") >= 8 && col("vec_id") % 4 =!= 0)
    val batch = emb.filter(col("vec_id") >= 8 && col("vec_id") % 4 === 0)
    AnnIndex.writeIvfPq(base, "vec_id", "embedding", dim = 64,
      nCells = 16, m = 8, k = 16, name, nBuckets = 4)
    def snap(t: String) = spark.table(t).collect().map(_.toString).sorted.toSeq
    val centsBefore = snap(AnnIndex.centroidsTable(name))
    val cbBefore = snap(AnnIndex.codebookTable(name))
    val membersBefore = spark.table(AnnIndex.membersTable(name))
      .select("cid", "nid", "codes").as[(Long, Long, Seq[Long])]
      .collect().toSet

    AnnIndex.appendIvfPq(batch, "vec_id", "embedding", dim = 64,
      m = 8, name, nBuckets = 4)

    // frozen: append must not touch the training state
    assert(snap(AnnIndex.centroidsTable(name)) == centsBefore)
    assert(snap(AnnIndex.codebookTable(name)) == cbBefore)
    // existing member codes unchanged; batch rows present, encoded
    val membersAfter = spark.table(AnnIndex.membersTable(name))
      .select("cid", "nid", "codes").as[(Long, Long, Seq[Long])]
      .collect().toSet
    assert(membersBefore.subsetOf(membersAfter))
    val batchIds = batch.select(col("vec_id").cast("long")).as[Long]
      .collect().toSet
    assert(membersAfter.map(_._2) == membersBefore.map(_._2) ++ batchIds)
    assert(membersAfter.forall(_._3.length == 8))
    AnnIndex.dropIvfPq(spark, name)
  }

  test("persisted refine serve equals the in-memory shortlist + exact re-rank") {
    val name = "ann_idx_refine"
    AnnIndex.dropIvfPq(spark, name)
    val corpus = emb.filter(col("vec_id") >= 8)
    val queries = emb.filter(col("vec_id") < 8)
    AnnIndex.writeIvfPq(corpus, "vec_id", "embedding", dim = 64,
      nCells = 16, m = 8, k = 16, name, nBuckets = 4)
    def cosRows(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "nid", "cosine", "rank")
        .as[(Long, Long, Double, Long)].collect().toSet
    val persisted = cosRows(AnnIndex.searchIvfPqRefine(queries, emb,
      "vec_id", "embedding", dim = 64, m = 8, nProbe = 4,
      shortlistK = 25, topK = 5, name))
    val direct = cosRows(Similarity.exactRerank(
      Similarity.ivfPqSearch(queries, corpus, "vec_id", "embedding",
        dim = 64, nCells = 16, updates = 0, nProbe = 4, m = 8, k = 16,
        topK = 25),
      emb, "vec_id", "embedding", 5))
    assert(persisted == direct)
    assert(persisted.nonEmpty)
    AnnIndex.dropIvfPq(spark, name)
  }

  private def membersSet(name: String) =
    spark.table(AnnIndex.membersTable(name))
      .select("cid", "nid", "codes").as[(Long, Long, Seq[Long])]
      .collect().toSet

  test("exactly-once ingest: a retried batch replaces its own partition") {
    val name = "ann_idx_eo"
    val twin = "ann_idx_eo_twin"
    AnnIndex.dropIvfPq(spark, name)
    AnnIndex.dropIvfPq(spark, twin)
    val base = emb.filter(col("vec_id") >= 8 && col("vec_id") % 4 =!= 0)
    val batchA = emb.filter(col("vec_id") >= 8 && col("vec_id") % 8 === 0)
    val batchB = emb.filter(col("vec_id") >= 8 && col("vec_id") % 8 === 4)
    AnnIndex.writeIvfPqPartitioned(base, "vec_id", "embedding", dim = 64,
      nCells = 16, m = 8, k = 16, name, nBuckets = 4)
    AnnIndex.ingestVectorBatch(batchA, 0L, "vec_id", "embedding",
      dim = 64, m = 8, name, nBuckets = 4)
    val afterA = membersSet(name)
    // retry with the same batchId: visible state must be byte-identical
    AnnIndex.ingestVectorBatch(batchA, 0L, "vec_id", "embedding",
      dim = 64, m = 8, name, nBuckets = 4)
    assert(membersSet(name) == afterA)
    AnnIndex.ingestVectorBatch(batchB, 1L, "vec_id", "embedding",
      dim = 64, m = 8, name, nBuckets = 4)

    // committed-prefix read: a serve pinned to batches < 1 sees exactly the
    // post-batch-0 index
    val queries = emb.filter(col("vec_id") < 8)
    val pinned = rows(AnnIndex.searchIvfPq(queries, "vec_id", "embedding",
      dim = 64, m = 8, nProbe = 4, topK = 5, name,
      memberFilter = col("ingest_batch") < 1))
    AnnIndex.ingestVectorBatch(batchB, 1L, "vec_id", "embedding",
      dim = 64, m = 8, name, nBuckets = 4) // idempotent again
    assert(rows(AnnIndex.searchIvfPq(queries, "vec_id", "embedding",
      dim = 64, m = 8, nProbe = 4, topK = 5, name,
      memberFilter = col("ingest_batch") < 1)) == pinned)

    // value parity with the unpartitioned write + append layout
    AnnIndex.writeIvfPq(base, "vec_id", "embedding", dim = 64,
      nCells = 16, m = 8, k = 16, twin, nBuckets = 4)
    AnnIndex.appendIvfPq(batchA.unionByName(batchB), "vec_id", "embedding",
      dim = 64, m = 8, twin, nBuckets = 4)
    val flat = rows(AnnIndex.searchIvfPq(queries, "vec_id", "embedding",
      dim = 64, m = 8, nProbe = 4, topK = 5, twin))
    val partitioned = rows(AnnIndex.searchIvfPq(queries, "vec_id", "embedding",
      dim = 64, m = 8, nProbe = 4, topK = 5, name))
    assert(partitioned == flat)
    AnnIndex.dropIvfPq(spark, name)
    AnnIndex.dropIvfPq(spark, twin)
  }

  test("live stream ingestion matches the batch twin exactly-once") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val name = "ann_idx_stream"
    val twin = "ann_idx_stream_twin"
    AnnIndex.dropIvfPq(spark, name)
    AnnIndex.dropIvfPq(spark, twin)
    val base = emb.filter(col("vec_id") >= 8 && col("vec_id") % 4 =!= 0)
    val batchA = emb.filter(col("vec_id") >= 8 && col("vec_id") % 8 === 0)
    val batchB = emb.filter(col("vec_id") >= 8 && col("vec_id") % 8 === 4)
    AnnIndex.writeIvfPqPartitioned(base, "vec_id", "embedding", dim = 64,
      nCells = 16, m = 8, k = 16, name, nBuckets = 4)

    def vecs(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id"), col("embedding"))
        .as[(Long, Seq[Float])].collect().toSeq
    val input = MemoryStream[(Long, Seq[Float])]
    val ckpt = java.nio.file.Files.createTempDirectory("ann_stream_ckpt")
    val q = microBatches(input.toDF().toDF("vec_id", "embedding")) { (b, id) =>
        AnnIndex.ingestVectorBatch(b, id, "vec_id", "embedding",
          dim = 64, m = 8, name, nBuckets = 4)
      }.option("checkpointLocation", ckpt.toString).start()
    try {
      input.addData(vecs(batchA): _*); q.processAllAvailable()
      input.addData(vecs(batchB): _*); q.processAllAvailable()
    } finally q.stop()

    AnnIndex.writeIvfPqPartitioned(base, "vec_id", "embedding", dim = 64,
      nCells = 16, m = 8, k = 16, twin, nBuckets = 4)
    AnnIndex.ingestVectorBatch(batchA, 0L, "vec_id", "embedding",
      dim = 64, m = 8, twin, nBuckets = 4)
    AnnIndex.ingestVectorBatch(batchB, 1L, "vec_id", "embedding",
      dim = 64, m = 8, twin, nBuckets = 4)
    assert(membersSet(name) == membersSet(twin))
    assert(membersSet(name).nonEmpty)
    AnnIndex.dropIvfPq(spark, name)
    AnnIndex.dropIvfPq(spark, twin)
  }

  test("serve plan: members side of the probe join is exchange-free") {
    val name = "ann_idx_plan"
    AnnIndex.dropIvfPq(spark, name)
    AnnIndex.writeIvfPq(emb.filter(col("vec_id") >= 8), "vec_id", "embedding",
      dim = 64, nCells = 16, m = 8, k = 16, name, nBuckets = 4)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val res = AnnIndex.searchIvfPq(emb.filter(col("vec_id") < 8), "vec_id",
        "embedding", dim = 64, m = 8, nProbe = 4, topK = 5, name)
      res.collect()
      val plan = res.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert(plan.contains("SortMergeJoin"), plan)
      assert(plan.contains("Bucketed: true"), plan)
      // exactly ONE cid shuffle: the probe side moves TO the bucket layout;
      // a second would mean the bucketed index scan re-shuffled — the
      // property this layout buys. (Broadcasts of the KB-sized centroid/
      // codebook rows and the window's qid shuffle are expected and fine.)
      assert("Exchange hashpartitioning\\(cid".r.findAllIn(plan).size == 1,
        s"index side of the probe join must not re-shuffle:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    AnnIndex.dropIvfPq(spark, name)
  }

  test("tombstone delete: masked serve == compacted serve == from-scratch without the rows") {
    val name = "ann_idx_delete"
    AnnIndex.dropIvfPq(spark, name)
    val corpus = emb.filter(col("vec_id") >= 8)
    val queries = emb.filter(col("vec_id") < 8)
    AnnIndex.writeIvfPq(corpus, "vec_id", "embedding", dim = 64,
      nCells = 16, m = 8, k = 16, name, nBuckets = 4)
    val before = rows(AnnIndex.searchIvfPq(queries, "vec_id", "embedding",
      dim = 64, m = 8, nProbe = 4, topK = 5, name))
    // delete every id that appeared in the pre-delete top-5 — the harshest
    // case: every answer must be replaced by a lower-ranked neighbor
    val doomed = before.map(_._2).toSeq
    AnnIndex.deleteIvfPq(spark, name,
      doomed.toDF("vec_id"), "vec_id")
    val masked = rows(AnnIndex.searchIvfPq(queries, "vec_id", "embedding",
      dim = 64, m = 8, nProbe = 4, topK = 5, name))
    assert(masked.nonEmpty && masked.map(_._2).intersect(doomed.toSet).isEmpty)
    // idempotent re-delete changes nothing
    AnnIndex.deleteIvfPq(spark, name, doomed.take(3).toDF("vec_id"), "vec_id")
    assert(rows(AnnIndex.searchIvfPq(queries, "vec_id", "embedding",
      dim = 64, m = 8, nProbe = 4, topK = 5, name)) == masked)
    // compaction: physically removes rows, drops the tombstone table,
    // serves byte-identically
    AnnIndex.compactIvfPqDeletes(spark, name, nBuckets = 4)
    assert(!spark.catalog.tableExists(AnnIndex.deletesTable(name)))
    assert(spark.table(AnnIndex.membersTable(name))
      .filter(col("nid").isin(doomed: _*)).isEmpty)
    val compacted = rows(AnnIndex.searchIvfPq(queries, "vec_id", "embedding",
      dim = 64, m = 8, nProbe = 4, topK = 5, name))
    assert(compacted == masked)
    AnnIndex.dropIvfPq(spark, name)
  }
}
