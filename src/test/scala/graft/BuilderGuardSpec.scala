package graft

import graft.plans._

/** Every registered `graft_*` SQL function must reject wrong arity and
  * NULL literal arguments with an error that NAMES the function — raw SQL
  * reaches the builders with nothing pre-validated, so an unguarded
  * `children(1)` would surface as IndexOutOfBoundsException and a NULL
  * literal as an NPE (VERDICT r15 #3). The same builders back
  * GraftExtensions, so this covers the spark.sql.extensions route too.
  */
class BuilderGuardSpec extends SparkSpec {

  /** The builder error may be wrapped (AnalysisException chains); assert
    * the function name appears somewhere in the message chain and that no
    * frame is the unnamed IndexOutOfBounds/NPE/NoSuchElement failure.
    */
  private def assertNamedError(name: String, sql: String): Unit = {
    val t = intercept[Throwable](spark.sql(sql).collect())
    val chain = Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .take(8).toSeq
    assert(!chain.exists(e => e.isInstanceOf[IndexOutOfBoundsException] ||
      e.isInstanceOf[NullPointerException] ||
      e.isInstanceOf[NoSuchElementException]),
      s"$sql must not fail with an unnamed error; got $chain")
    assert(chain.exists(e => Option(e.getMessage).exists(_.contains(name))),
      s"$sql error must name $name; got ${chain.map(_.getMessage)}")
  }

  // every table row, one argument short and one argument over — generated
  // from the registry itself, so a new function cannot miss this check
  private val wrongArity = GraftFunctions.all.map { f =>
    def call(n: Int) = s"SELECT ${f.name}(${Seq.fill(n)("1").mkString(", ")})"
    f.name -> Seq(call(f.params.length - 1), call(f.params.length + 1))
  }

  test("the table holds every graft_* function exactly once") {
    val names = GraftFunctions.all.map(_.name)
    assert(names.length == 35 && names.distinct == names, names)
  }

  wrongArity.foreach { case (name, sqls) =>
    test(s"$name rejects wrong arity with a named error") {
      sqls.foreach(assertNamedError(name, _))
    }
  }

  // NULL where the builder bakes a plan-time literal into the expression —
  // these would NPE without the litValue guard.
  private val nullLiteral = Seq(
    AhoCorasickCount.Name ->
      "SELECT graft_aho_corasick('x', CAST(NULL AS array<string>))",
    SubwordCount.Name ->
      "SELECT graft_subword_count('x', CAST(NULL AS array<string>))",
    BpeSegment.Name ->
      "SELECT graft_bpe_segment('x', CAST(NULL AS array<string>))",
    UnigramSegment.Name ->
      "SELECT graft_unigram_segment('x', CAST(NULL AS array<string>), array(1L))",
    UnigramSegment.Name ->
      "SELECT graft_unigram_segment('x', array('a'), CAST(NULL AS array<bigint>))",
    Md5PrefixLong.Name ->
      "SELECT graft_md5_prefix_long('x', CAST(NULL AS int))",
    WinnowLong.Name ->
      "SELECT graft_winnow_long('x', CAST(NULL AS int), 4)",
    CdcBoundariesLong.Name ->
      "SELECT graft_cdc_boundaries('x', CAST(NULL AS int), 7)",
    Kmv.Name -> "SELECT graft_kmv(1L, CAST(NULL AS int))",
    CountMin.Name ->
      "SELECT graft_count_min(1L, CAST(NULL AS int), 3)",
    GraftFunctions.MisraGriesName ->
      "SELECT graft_misra_gries(1L, CAST(NULL AS int))",
    LangIdLong.Name ->
      "SELECT graft_lang_id('x', array('en'), array(array('the', NULL)))",
    AhoCorasickCount.Name ->
      "SELECT graft_aho_corasick('x', array('a', NULL))",
    WordWindowsLong.Name ->
      "SELECT graft_word_windows('x', CAST(NULL AS int))")

  nullLiteral.zipWithIndex.foreach { case ((name, sql), i) =>
    test(s"$name rejects NULL literal argument with a named error ($i)") {
      assertNamedError(name, sql)
    }
  }

  test("graft_lang_id rejects more than 64 word sets at plan time") {
    val labels = (0 to 64).map(i => s"'l$i'").mkString(", ")
    val sets = (0 to 64).map(i => s"array('w$i')").mkString(", ")
    // analysis only: the limit must fire while planning, not at first eval
    val t = intercept[Throwable](
      spark.sql(s"SELECT graft_lang_id('x', array($labels), array($sets))"))
    val msgs = Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .flatMap(e => Option(e.getMessage)).toSeq
    assert(msgs.exists(m => m.contains(LangIdLong.Name) && m.contains("64")), msgs)
  }

  test("a kernel literal out of range is a named plan-time error") {
    assertNamedError(WordWindowsLong.Name, "SELECT graft_word_windows('x', 9)")
    assertNamedError(PqLutLong.Name,
      "SELECT graft_pq_lut(array(1L), array(array(array(1L))), 3, 2)")
    assertNamedError(Kmv.Name, "SELECT graft_kmv(id, 1) FROM range(3)")
    assertNamedError(GraftFunctions.MisraGriesName,
      "SELECT graft_misra_gries(x, 0) FROM VALUES ('a') t(x)")
    assertNamedError(CountMin.Name,
      "SELECT graft_count_min(x, 1, 2) FROM VALUES ('a') t(x)")
    assertNamedError(CountMin.Name,
      "SELECT graft_count_min(x, 8, 4) FROM VALUES ('a') t(x)")
  }

  test("sketch rows accept constant int expressions, as kernel rows do") {
    val row = spark.sql("SELECT graft_kmv(id, 4 * 2), " +
      "graft_count_min(x, 4 * 2, 1 + 1), graft_misra_gries(x, 2 + 2) " +
      "FROM (SELECT id, CAST(id % 3 AS string) AS x FROM range(20))").collect()(0)
    assert(row.getSeq[Long](0) == (0L until 8L))
    assert(row.getSeq[scala.collection.Seq[Long]](1).map(_.sum) == Seq(20L, 20L))
    assert(row.getMap[String, Long](2) == Map("0" -> 7L, "1" -> 7L, "2" -> 6L))
  }

  test("a kernel argument of the wrong type is a DATATYPE_MISMATCH naming it") {
    val e = intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT graft_ln_micro(2, 1)"))
    assert(e.getCondition.startsWith("DATATYPE_MISMATCH"), e.getMessage)
    assert(e.getMessage.contains(LnFpFunctions.LnMicroName), e.getMessage)
  }

  test("kernels propagate NULL arguments and fold constant calls") {
    val df = spark.sql("SELECT graft_ln_micro(CAST(NULL AS bigint), 1L) AS n, " +
      "graft_ln_micro(2L, 1L) AS c")
    assert(df.collect()(0).isNullAt(0))
    assert(df.queryExecution.optimizedPlan.toString.contains("693147"),
      df.queryExecution.optimizedPlan)
  }
  // literal arguments a kernel row checks while planning, before any row
  // is read: the error must name the function at analysis
  private val planTime = Seq(
    GraftFunctions.LshBucketsName ->
      "SELECT graft_lsh_buckets(array(1L), array(1L), 64)",
    GraftFunctions.LshBucketsName ->
      "SELECT graft_lsh_buckets(array(1L), array(1L), 0)",
    AhoCorasickCount.Name -> "SELECT graft_aho_corasick('x', array(''))",
    AhoCorasickCount.Name ->
      "SELECT graft_aho_corasick('x', CAST(array() AS array<string>))",
    SubwordCount.Name ->
      "SELECT graft_subword_count('x', CAST(array() AS array<string>))",
    LangIdLong.Name ->
      "SELECT graft_lang_id('x', array('en', 'de'), array(array('the')))")

  planTime.zipWithIndex.foreach { case ((name, sql), i) =>
    test(s"$name rejects a bad literal argument at analysis ($i)") {
      val t = intercept[Throwable](spark.sql(sql))
      val chain = Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq
      assert(chain.exists(e => Option(e.getMessage).exists(_.contains(name))),
        s"$sql error must name $name; got ${chain.map(_.getMessage)}")
    }
  }
}
