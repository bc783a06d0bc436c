package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The one registration route: a FRESH session built through
  * `Sessions.configure`, which applies GraftExtensions, must expose every
  * native kernel to plain SQL and carry the nanos-pushdown optimizer rule.
  * Nothing else registers a function, so these tests see only what
  * `configure` wires.
  */
class GraftExtensionsSpec extends AnyFunSuite
    with org.scalatest.BeforeAndAfterAll {

  private lazy val spark: SparkSession = {
    // getOrCreate() returns any existing active/default session, ignoring
    // the builder's extensions — clear both so the injection genuinely runs
    // (the SparkContext itself is still reused within the JVM)
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = graft.core.Sessions.configure(
      SparkSession.builder()
        .appName("graft-ext-test").master("local[2]"),
      shufflePartitions = 2)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  override def afterAll(): Unit = {
    // hand the JVM-shared default and active session back to the suite
    // singleton, so later suites see the session they share
    SparkSession.setDefaultSession(TestSpark.spark)
    SparkSession.setActiveSession(TestSpark.spark)
    super.afterAll()
  }

  test("every native function is callable from plain SQL") {
    val row = spark.sql(
      """SELECT
        |  graft_dot_long(array(1L, 2L, 3L), array(4L, 5L, 6L)) AS dot,
        |  graft_md5_prefix_long('abc', 4) AS md5p,
        |  graft_simhash_long('a b c') AS sim,
        |  graft_minhash_sig('a b c d', 3) AS sig,
        |  graft_lsh_buckets(array(1L, -1L),
        |    array(1L, 1L, 1L, -1L, -1L, 1L, -1L, -1L), 2) AS lsh,
        |  graft_winnow_long('abcdefghij', 4, 3) AS win,
        |  graft_subword_count('abab', array('ab', 'a', 'b')) AS sw,
        |  graft_pq_adc(array(1L, 0L), array(array(7L, 9L), array(3L, 5L))) AS adc,
        |  graft_pq_encode(array(0L, 0L),
        |    array(array(array(5L), array(0L)), array(array(1L), array(2L)))) AS enc,
        |  graft_pq_adc_direct(array(0L, 0L), array(1L, 0L),
        |    array(array(array(5L), array(0L)), array(array(1L), array(2L)))) AS adcd,
        |  graft_ln_micro(2L, 1L) AS lnm,
        |  graft_gumbel_micro(0L) AS gum,
        |  graft_unicode_fix('cafÃ©') AS fix""".stripMargin)
      .collect()(0)
    assert(row.getLong(0) == 4 + 10 + 18)
    // md5('abc') = 900150983cd24fb0...; first 4 bytes unsigned
    assert(row.getLong(1) == java.lang.Long.parseLong("90015098", 16))
    assert(row.getSeq[Long](3).length == 32)
    assert(row.getSeq[Long](4).length == 2)
    assert(row.getLong(6) == 2L) // 'abab' -> two 'ab' merges
    assert(row.getLong(7) == 9L + 3L) // lut[0][1] + lut[1][0]
    assert(row.getSeq[Long](8) == Seq(1L, 0L)) // argmin per subspace
    assert(row.getLong(9) == 0L + 1L) // (0-0)^2 + (0-1)^2
    assert(row.getLong(10) == 693147L) // ln 2 in micro-nats
    assert(row.getLong(11) == graft.plans.LnFp.gumbelMicro(0L))
    assert(row.getString(12) == "café") // mojibake repaired
  }

  test("aggregates (misra-gries, vector sum) work from SQL GROUP BY") {
    spark.sql("SELECT * FROM VALUES ('a'), ('a'), ('b') t(x)")
      .createOrReplaceTempView("letters")
    val mg = spark.sql("SELECT graft_misra_gries(x, 4) FROM letters")
      .collect()(0).getMap[String, Long](0)
    assert(mg("a") == 2L && mg("b") == 1L)
    spark.sql("SELECT * FROM VALUES (1, array(1L, 2L)), (1, array(10L, 20L)) t(k, v)")
      .createOrReplaceTempView("vecs")
    val vs = spark.sql("SELECT graft_vector_sum(v) FROM vecs GROUP BY k")
      .collect()(0).getSeq[Long](0)
    assert(vs == Seq(11L, 22L))
  }

  test("kmv, count-min, and aho-corasick work from plain SQL too") {
    spark.sql("SELECT * FROM VALUES ('a'), ('a'), ('b') t(x)")
      .createOrReplaceTempView("letters2")
    // bottom-k of the 48-bit hashes: 2 distinct values -> 2 entries
    val kmv = spark.sql(
      "SELECT graft_kmv(graft_md5_prefix_long(x, 6), 8) FROM letters2")
      .collect()(0).getSeq[Long](0)
    assert(kmv.length == 2 && kmv == kmv.sorted)
    val cm = spark.sql("SELECT graft_count_min(x, 8, 2) FROM letters2")
      .collect()(0).getSeq[scala.collection.Seq[Long]](0)
    assert(cm.length == 2 && cm.forall(_.sum == 3L))
    val ac = spark.sql(
      "SELECT graft_aho_corasick('abcabc', array('abc', 'ca', 'zz'))")
      .collect()(0).getSeq[Long](0)
    assert(ac == Seq(2L, 1L, 0L))
  }

  test("the nanos-pushdown rule is active without Tables.events installing it") {
    import spark.implicits._
    // a parquet-backed source: a local relation of literals would be fully
    // constant-folded, leaving no filter to witness the rewrite
    val dir = java.nio.file.Files.createTempDirectory("graft_ext_nanos").toString
    Seq(1700000000000000000L, 1800000000000000000L).toDF("ns")
      .write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
      .select(org.apache.spark.sql.functions.expr(
        "timestamp_micros(ns div 1000)").as("ts"), $"ns")
    val plan = df.filter($"ts" < "2024-01-01").queryExecution.optimizedPlan.toString
    // the rewrite replaces the timestamp comparison with a raw nanos bound
    assert(plan.contains("1704067200000000000"), plan)
  }
}
