package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class TextOpsSpec extends SparkSpec {
  import spark.implicits._

  test("chunkTokens: overlapped windows tile and reconstruct the token stream") {
    import org.apache.spark.sql.functions.col
    val docs = graft.core.Tables.documents(spark, sf)
    val (t, o) = (32, 8)
    val chunks = TextOps.chunkTokens(docs, "doc_id", "text", t, o)
      .select(col("doc_id"), col("chunk_id"), col("tok_start"),
        col("chunk_text"), col("n_tokens"))
      .as[(Long, Long, Long, String, Long)].collect()
    val texts = docs.select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().toMap
    assert(chunks.map(_._1).toSet == texts.keySet, "every doc chunks")
    chunks.groupBy(_._1).foreach { case (id, cs) =>
      val ordered = cs.sortBy(_._2)
      // starts are stride-spaced from 1; n_tokens matches the slice taken
      ordered.foreach { case (_, cid, start, text, n) =>
        assert(start == cid * (t - o) + 1)
        assert(n == text.split(" ").count(_.nonEmpty), s"doc $id chunk $cid")
      }
      // dropping each later chunk's overlap prefix reconstructs the doc
      val rebuilt = ordered.zipWithIndex.flatMap { case ((_, _, _, text, _), i) =>
        val ws = text.split(" ").filter(_.nonEmpty).toSeq
        if (i == 0) ws else ws.drop(o)
      }
      assert(rebuilt.toSeq == texts(id).split(" ").filter(_.nonEmpty).toSeq,
        s"doc $id")
    }
  }

  test("token counts: whitespace vs bpe-ish") {
    val df = Seq("the quick, brown fox!").toDF("text").select(
      TextOps.wsTokenCount($"text").as("ws"),
      TextOps.bpeishTokenCount($"text").as("bpe"))
    val r = df.collect()(0)
    assert(r.getAs[Int]("ws") == 4)
    assert(r.getAs[Int]("bpe") == 6) // the, quick, ',', brown, fox, '!'
  }

  test("fingerprint is whitespace/case insensitive") {
    val df = Seq(("a", "The  Quick   Fox"), ("b", "the quick fox")).toDF("id", "text")
      .select(TextOps.fingerprint($"text").as("fp"))
    val fps = df.as[String].collect()
    assert(fps(0) == fps(1))
  }

  test("langId picks the language with most marker hits, priority on ties") {
    val df = Seq(
      "the cat and the dog is a pet",  // en markers
      "der hund und die katze ist da", // de markers
      "xyzzy plugh"                    // no markers anywhere -> priority: en
    ).toDF("text").select(TextOps.langId($"text").as("l"))
    assert(df.as[String].collect().toSeq == Seq("en", "de", "en"))
  }

  test("langId discriminates all five languages on realistic sentences") {
    val df = Seq(
      "the quick brown fox and the lazy dog is a friend of mine" -> "en",
      "der schnelle fuchs und die katze das ist der hund" -> "de",
      "el zorro y la casa los gatos que es bonita" -> "es",
      "le renard et la maison les chats est jolie" -> "fr",
      "我 是 一个 学生 你 的 书 在 这里 了" -> "zh"
    ).toDF("text", "want")
      .select($"want", TextOps.langId($"text").as("got"))
    df.collect().foreach(r =>
      assert(r.getString(0) == r.getString(1), s"want ${r.getString(0)} got ${r.getString(1)}"))
  }

  test("t6 corpus construction yields all five predictions over the fixture") {
    val preds = graft.queries.CorpusQueries.defs.find(_.name == "t6_lang_id_mixed").get
      .fn(spark, sf).select("lang_pred").distinct()
      .as[String].collect().toSet
    assert(preds == Set("en", "de", "es", "fr", "zh"), preds)
  }

  test("winnowing: shared substrings of length >= w+k-1 share a fingerprint") {
    val df = Seq(
      (1L, "aaaa the quick brown fox jumped over bbbb"),
      (2L, "cccc the quick brown fox jumped over dddd"), // shares a 32-char run
      (3L, "zzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzz")
    ).toDF("doc_id", "text")
    val fps = TextOps.winnowFingerprints(df, "doc_id", "text", k = 8, w = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert((fps(1L) intersect fps(2L)).nonEmpty) // winnowing guarantee
    assert((fps(1L) intersect fps(3L)).isEmpty)
  }

  test("bigramStats: repetition and coverage discriminate repeated vs fresh text") {
    val df = Seq(
      (1L, "spam spam spam spam spam spam"),  // one bigram repeated 5x
      (2L, "the quick brown fox jumped far"), // all-distinct bigrams
      (3L, "one")                             // < 2 words: no row
    ).toDF("doc_id", "text")
    val out = TextOps.bigramStats(df, "doc_id", "text", minCount = 5)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(!out.contains(3L))
    assert(out(1L).getAs[Double]("rep_ratio") == 0.8) // 1 - 1/5
    assert(out(2L).getAs[Double]("rep_ratio") == 0.0)
    assert(out(1L).getAs[Double]("coverage") == 1.0)  // "spam spam" count 5 >= 5
    assert(out(2L).getAs[Double]("coverage") == 0.0)
  }

  test("PII detect + redact: finds each kind, scrubs byte-exactly, leaves clean text alone") {
    val df = Seq(
      "reach me at jo.doe+x@mail-host.org or https://ex.org/a?b=1 or 555-0199",
      "no pii here at all").toDF("text")
      .select($"text",
        TextOps.piiCount($"text", TextOps.emailRe).as("e"),
        TextOps.piiCount($"text", TextOps.urlRe).as("u"),
        TextOps.piiCount($"text", TextOps.phoneRe).as("p"),
        TextOps.redactPii($"text").as("red"))
    val rows = df.collect()
    assert((rows(0).getAs[Int]("e"), rows(0).getAs[Int]("u"), rows(0).getAs[Int]("p")) == ((1, 1, 1)))
    assert(rows(0).getAs[String]("red") ==
      "reach me at <EMAIL> or <URL> or <PHONE>")
    assert((rows(1).getAs[Int]("e"), rows(1).getAs[Int]("u"), rows(1).getAs[Int]("p")) == ((0, 0, 0)))
    assert(rows(1).getAs[String]("red") == "no pii here at all")
  }

  test("qualityScore survives empty and degenerate docs under ANSI mode") {
    val scores = Seq("", " ", "!!!", "x").toDF("text")
      .select(TextOps.qualityScore($"text").as("q")).as[Double].collect()
    assert(scores.forall(s => !s.isNaN && !s.isInfinite)) // no DIVIDE_BY_ZERO
  }

  test("qualityScore is in [0,1] over the fixture corpus") {
    val d = graft.core.Tables.documents(spark, sf)
    val mm = d.select(
      min(TextOps.qualityScore($"text")).as("lo"),
      max(TextOps.qualityScore($"text")).as("hi")).collect()(0)
    assert(mm.getAs[Double]("lo") >= 0.0 && mm.getAs[Double]("hi") <= 1.0)
  }

  test("chunkDocs: overlap layout, full coverage, short docs get one chunk") {
    val docs = Seq((1L, "a" * 250), (2L, "xy")).toDF("doc_id", "text")
    val chunks = TextOps.chunkDocs(docs, "doc_id", "text", chunkLen = 100, overlap = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val d1 = chunks.filter(_._1 == 1L).sortBy(_._2)
    // stride 80: starts 1, 81, 161, 241 cover all 250 chars
    assert(d1.map(_._3).toSeq == Seq(1L, 81L, 161L, 241L))
    assert(d1.take(2).forall(_._4.length == 100))
    assert(d1(2)._4.length == 90)  // chars 161..250
    assert(d1.last._4.length == 10) // tail chunk clamps at end
    // consecutive full-size chunks overlap by exactly `overlap`
    d1.take(2).sliding(2).foreach { case Array(a, b) =>
      assert(a._4.takeRight(20) == b._4.take(20))
    }
    val d2 = chunks.filter(_._1 == 2L)
    assert(d2.length == 1 && d2(0)._4 == "xy")
  }

  test("bm25Rank: term-bearing docs only, tf and rarity raise the score") {
    val docs = Seq(
      (1L, "table table table pad pad pad pad pad"),  // high tf of 'table'
      (2L, "table pad pad pad pad pad pad pad"),      // low tf
      (3L, "merge pad pad pad pad pad pad pad"),      // rare term
      (4L, "pad pad pad pad pad pad pad pad")         // no term: excluded
    ).toDF("doc_id", "text")
    val out = TextOps.bm25Rank(docs, "doc_id", "text",
      terms = Seq("table", "merge"), k = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1))
    assert(out.map(_._1).toSet == Set(1L, 2L, 3L))
    val m = out.toMap
    assert(m(1L) > m(2L), "higher tf must outrank")
    assert(m(3L) > m(2L), "rarer term (df=1 vs df=2) must outrank at equal tf")
    assert(out.sortBy(-_._2).map(_._1).toSeq == out.map(_._1).toSeq, "sorted desc")
  }

  test("gopherRules: each rule trips independently, keep is their conjunction") {
    val docs = Seq(
      (1L, "the cat sat on a mat with the hat and a bat"), // passes all (12 words w/ rules below)
      (2L, "big dog"),                                     // too few words
      (3L, "the a an of in on to is or and the a"),        // mean word len too low
      (4L, "elephant mountain computer keyboard wonderful dinosaur elephant mountain computer keyboard wonderful dinosaur") // no stopwords + long words
    ).toDF("doc_id", "text")
    val (okW, okM, okS, keep) = TextOps.gopherRules(col("text"),
      minWords = 5L, maxWords = 50L, minMeanWl = 2.5, maxMeanWl = 6.0,
      minStopwords = 2L)
    val out = docs.select(col("doc_id"), okW.as("w"), okM.as("m"),
      okS.as("s"), keep.as("k"))
      .collect().map(r => r.getLong(0) ->
        ((r.getBoolean(1), r.getBoolean(2), r.getBoolean(3), r.getBoolean(4)))).toMap
    assert(out(1L) == ((true, true, true, true)))
    assert(out(2L)._1 == false && out(2L)._4 == false)
    assert(out(3L)._2 == false && out(3L)._4 == false)
    assert(out(4L)._3 == false && out(4L)._4 == false)
  }

  test("unigramNll: rare-token docs score higher, values hand-check") {
    // corpus: "w" x 10, "q" x 2  ->  p(w) = 10/12, p(q) = 2/12
    val docs = Seq(
      (1L, "w w w w"),  // avg_nll = -ln(10/12)
      (2L, "w w q q"),  // avg_nll = (2*(-ln(10/12)) + 2*(-ln(2/12))) / 4
      (3L, "w w w w")
    ).toDF("doc_id", "text")
    val out = TextOps.unigramNll(docs, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("did") ->
        ((r.getAs[Long]("dl"), r.getAs[Double]("avg_nll")))).toMap
    val pw = 10.0 / 12.0
    val pq = 2.0 / 12.0
    assert(out(1L)._1 == 4L)
    assert(math.abs(out(1L)._2 - (-math.log(pw))) < 1e-5)
    assert(math.abs(out(2L)._2 - (-(2 * math.log(pw) + 2 * math.log(pq)) / 4)) < 1e-5)
    assert(out(2L)._2 > out(1L)._2, "rare tokens raise surprisal")
    assert(out(1L)._2 == out(3L)._2, "identical docs score identically")
  }

  test("repetitionSignals: looping text maxes top_frac, varied text scores zero dup") {
    val docs = Seq(
      (1L, "a b a b a b"),   // bigrams: "a b" x3, "b a" x2 -> top 3/5, dup 1-2/5
      (2L, "v w x y z")      // 4 distinct bigrams, each once -> top 1/4, dup 0
    ).toDF("doc_id", "text")
    val out = TextOps.repetitionSignals(docs, "doc_id", "text", 2)
      .collect().map(r => r.getAs[Long]("sid") ->
        ((r.getAs[Long]("n_grams"), r.getAs[Long]("top_count"),
          r.getAs[Double]("top_frac"), r.getAs[Double]("dup_frac")))).toMap
    assert(out(1L) == ((5L, 3L, 0.6, 1.0 - 2.0 / 5.0)))
    assert(out(2L) == ((4L, 1L, 0.25, 0.0)))
    // the doc-key pre-partitioning collapses both aggregates onto ONE exchange
    val p = TextOps.repetitionSignals(docs, "doc_id", "text", 2)
      .queryExecution.executedPlan.toString
    assert("hashpartitioning\\(sid".r.findAllIn(p).length <= 1, p)
  }

  test("bpeMerges: hand-checkable rounds, greedy overlap, weighted ties") {
    // corpus: "aa aa ab" -> word freqs: aa x2, ab x1
    // round 1 pairs: (a,a) weight 2, (a,b) weight 1 -> merge (a,a) -> "aa"
    // round 2 pairs: only (a,b) x1 -> merge (a,b) -> "ab"
    // round 3: no pairs anywhere -> training runs dry at 2 merges
    val docs = Seq((1L, "aa aa ab")).toDF("doc_id", "text")
    val out = TextOps.bpeMerges(docs, "text", rounds = 5)
      .orderBy($"rank")
      .as[(Long, String, String, String, Long)].collect().toSeq
    assert(out == Seq((1L, "a", "a", "aa", 2L), (2L, "a", "b", "ab", 1L)), out)

    // greedy left-to-right on odd runs: "aaa" merges positions 1-2 only,
    // and pair counting is WITH overlap ((a,a) counts twice in "aaa")
    val odd = Seq((1L, "aaa")).toDF("doc_id", "text")
    val m1 = TextOps.bpeMerges(odd, "text", rounds = 1)
      .as[(Long, String, String, String, Long)].collect().head
    assert(m1 == ((1L, "a", "a", "aa", 2L)), m1)
    // after merging, state is [aa, a]; round 2's only pair is (aa, a)
    val m2 = TextOps.bpeMerges(odd, "text", rounds = 2)
      .orderBy($"rank")
      .as[(Long, String, String, String, Long)].collect().last
    assert(m2 == ((2L, "aa", "a", "aaa", 1L)), m2)
  }

  test("bpeSegmentCol applies trained merges greedily in rank order") {
    // merges from "aa aa ab": rank 1 = (a,a), rank 2 = (a,b)
    val merges = Seq(("a", "a"), ("a", "b"))
    val out = Seq("aa", "ab", "aab", "aaa", "ba")
      .toDF("w")
      .select($"w", TextOps.bpeSegmentCol($"w", merges).as("p"))
      .as[(String, Seq[String])].collect().toMap
    assert(out("aa") == Seq("aa"))
    assert(out("ab") == Seq("ab"))
    // "aab": (a,a) merges first -> [aa, b]; (a,b) finds no bare "a" left
    assert(out("aab") == Seq("aa", "b"))
    // odd run: greedy left-to-right, same as training
    assert(out("aaa") == Seq("aa", "a"))
    assert(out("ba") == Seq("b", "a")) // no rule matches
  }

  test("bpeSegment (native) equals the fold on corpus words, adversaries, and edges") {
    val docs = graft.core.Tables.documents(spark, sf)
    val merges = TextOps.bpeMerges(docs, "text", rounds = 6)
      .orderBy($"rank").select($"lft", $"rgt")
      .as[(String, String)].collect().toSeq
    val diff = docs.select(explode(split($"text", " ")).as("w"))
      .filter(length($"w") > 0).distinct()
      .select(TextOps.bpeSegment($"w", merges).as("a"),
        TextOps.bpeSegmentCol($"w", merges).as("b"))
      .filter(not($"a" === $"b"))
    assert(diff.count() == 0, "native and fold must segment identically")
    // pair-reformation adversary: rank-1 (x, ab) only FORMS after rank-2
    // (a, b) fires. One pass per rank (the fold) does NOT reactivate the
    // earlier rank -> [x, ab]; a GPT-2 min-rank loop would give [xab].
    val advMerges = Seq(("x", "ab"), ("a", "b"))
    val adv = Seq("xab").toDF("w")
      .select(TextOps.bpeSegment($"w", advMerges).as("p"),
        TextOps.bpeSegmentCol($"w", advMerges).as("q"))
      .as[(Seq[String], Seq[String])].collect().head
    assert(adv._1 == Seq("x", "ab") && adv._2 == adv._1, adv.toString)
    // edges: empty word = one empty piece (split parity); empty merges =
    // chars; both sides agree
    val edges = Seq("", "abc").toDF("w")
      .select($"w", TextOps.bpeSegment($"w", Seq.empty).as("p"),
        TextOps.bpeSegmentCol($"w", Seq.empty).as("q"))
      .as[(String, Seq[String], Seq[String])].collect()
    edges.foreach { case (w, p, q) => assert(p == q, s"'$w': $p vs $q") }
    assert(edges.find(_._1 == "").get._2 == Seq(""))
  }

  test("trained multiclass lang ID: separation, prior argmax, smallest-lang tie") {
    // vocabulary-separated classes classify held-out docs perfectly
    val train = Seq((1L, "aa", "en"), (2L, "bb", "de"), (3L, "aa aa", "en"),
      (4L, "bb bb", "de"), (5L, "cc", "fr")).toDF("id", "text", "lang")
    val model = TextOps.trainLangModel(train, "id", "text", "lang", 64)
    // DENSE model: |langs| x nBuckets likelihood rows + |langs| priors
    assert(model.count() == 3 * 64 + 3)
    val preds = TextOps.scoreLang(
        Seq((10L, "aa aa aa"), (11L, "bb"), (12L, "cc cc"), (13L, ""))
          .toDF("id", "text"), "id", "text", model, 64)
      .orderBy($"did").as[(Long, String, Long)].collect()
    assert(preds.take(3).map(_._2).toSeq == Seq("en", "de", "fr"),
      preds.mkString(", "))
    // featureless doc scores the priors alone: en and de tie at 2 docs
    // each (add-one over the same total), so the smallest language code
    // wins the argmax tie — "de", deterministically
    assert(preds(3)._2 == "de", preds(3).toString)
    // a NULL class label fails loud with the column named — it would
    // otherwise become a scorable class that wins ties via NULLS FIRST
    val withNull = Seq((1L, "aa", Some("en")), (2L, "bb", None))
      .toDF("id", "text", "lang")
    val e = intercept[Exception] {
      TextOps.trainLangModel(withNull, "id", "text", "lang", 64).collect()
    }
    assert(e.getMessage.contains("lang"), e.getMessage)
    // the shuffle-join serve path (broadcastModel = false — the escape
    // hatch for |langs| x nBuckets models too big to broadcast) is
    // row-identical, and its plan really does drop the model broadcast
    val serve = Seq((10L, "aa aa aa"), (11L, "bb"), (12L, "cc cc"), (13L, ""))
      .toDF("id", "text")
    val noBc = TextOps.scoreLang(serve, "id", "text", model, 64,
      broadcastModel = false)
    assert(noBc.orderBy($"did").as[(Long, String, Long)].collect().toSeq ==
      preds.toSeq)
    // the flag really drops the dense-model broadcast hint (the priors
    // attach keeps its one-row broadcast): one fewer hint in the
    // optimized logical plan. AQE may still pick broadcast for a TINY
    // model at runtime — the point is the gigantic one is never FORCED.
    def hints(df: org.apache.spark.sql.DataFrame): Int =
      "strategy=broadcast".r
        .findAllIn(df.queryExecution.optimizedPlan.toString).length
    val bc = TextOps.scoreLang(serve, "id", "text", model, 64)
    assert(hints(noBc) == hints(bc) - 1,
      s"noBc=${hints(noBc)} bc=${hints(bc)}")
  }

  test("qlDirichletRank: matches double-precision QL ordering, drops unseen terms") {
    val docs = Seq(
      (1L, "table hash merge table"),   // all terms, tf(table)=2
      (2L, "table join scan"),          // one term
      (3L, "sort scan shuffle join"),   // no term, longer
      (4L, "table hash")                // two terms, short
    ).toDF("doc_id", "text")
    val terms = Seq("table", "hash", "merge")
    val got = TextOps.qlDirichletRank(docs, "doc_id", "text", terms, 4, mu = 20L)
      .select($"doc_id", $"score_fp").as[(Long, Long)].collect().toSeq
    // independent double-precision QL over the same corpus stats
    val toks = Seq(1L -> "table hash merge table", 2L -> "table join scan",
      3L -> "sort scan shuffle join", 4L -> "table hash")
      .map { case (i, t) => i -> t.split(" ").toSeq }
    val ctot = toks.map(_._2.size).sum.toDouble
    def ql(ws: Seq[String]): Double = terms.map { t =>
      val cf = toks.map(_._2.count(_ == t)).sum.toDouble
      math.log((ws.count(_ == t) + 20.0 * cf / ctot) / (ws.size + 20.0))
    }.sum
    val want = toks.map { case (i, ws) => (i, ql(ws)) }
      .sortBy { case (i, s) => (-s, i) }.map(_._1)
    assert(got.map(_._1) == want, s"got ${got.map(_._1)} want $want")
    // scores strictly ordered and the all-terms doc wins
    assert(got.head._1 == 1L)
    assert(got.map(_._2) == got.map(_._2).sorted.reverse)
    // a query term absent from the WHOLE corpus drops (no NULL, no abort):
    // with one shared known term the ranking is still total and defined
    val got2 = TextOps.qlDirichletRank(docs, "doc_id", "text",
      Seq("table", "zzz_not_in_corpus"), 4, mu = 20L)
      .as[(Long, Long)].collect()
    assert(got2.length == 4 && got2.forall(_._2 != 0L))
  }

  test("scoreLangMargin: top agrees with scoreLang, abstains below tau, 1-class abstains") {
    val train = Seq((1L, "aa", "en"), (2L, "bb", "de"), (3L, "aa aa", "en"),
      (4L, "bb bb", "de"), (5L, "cc", "fr")).toDF("id", "text", "lang")
    val model = TextOps.trainLangModel(train, "id", "text", "lang", 64)
    val serve = Seq((10L, "aa aa aa"), (11L, "bb"), (13L, "")).toDF("id", "text")
    // tau = 0: every doc with a runner-up is confident, pred == scoreLang's
    val m0 = TextOps.scoreLangMargin(serve, "id", "text", model, 64, 0L)
      .orderBy($"did")
      .as[(Long, String, String, Option[Long], Boolean)].collect()
    val argmax = TextOps.scoreLang(serve, "id", "text", model, 64)
      .select($"did", $"pred").as[(Long, String)].collect().toMap
    m0.foreach { case (did, pred, top, margin, conf) =>
      assert(top == argmax(did), s"$did top != argmax")
      assert(conf && pred == top, s"$did must be confident at tau=0")
      assert(margin.exists(_ >= 0L), s"$did margin $margin")
    }
    // the featureless doc 13 ties en/de on priors: margin EXACTLY 0 —
    // confident at tau=0, abstains at any positive tau
    assert(m0.find(_._1 == 13L).get._4 == Some(0L))
    val m1 = TextOps.scoreLangMargin(serve, "id", "text", model, 64, 1L)
      .filter($"did" === 13L)
      .as[(Long, String, String, Option[Long], Boolean)].collect().head
    assert(m1._2 == "und" && !m1._5 && m1._3 == "de", m1.toString)
    // a one-language model has no runner-up: NULL margin, always abstains
    val one = TextOps.trainLangModel(
      Seq((1L, "aa", "en")).toDF("id", "text", "lang"), "id", "text", "lang", 64)
    val mOne = TextOps.scoreLangMargin(serve, "id", "text", one, 64, 0L)
      .as[(Long, String, String, Option[Long], Boolean)].collect()
    mOne.foreach { case (did, pred, top, margin, conf) =>
      assert(pred == "und" && !conf && margin.isEmpty && top == "en",
        s"$did: $pred $top $margin $conf")
    }
  }

  test("graft_bpe_segment SQL builder fails loud on wrong arity and NULL merges") {
    // one argument: a named arity error, not IndexOutOfBoundsException
    val e1 = intercept[Exception] {
      spark.sql("SELECT graft_bpe_segment('abc')").collect()
    }
    assert(e1.getMessage.contains("graft_bpe_segment"), e1.getMessage)
    assert(e1.getMessage.contains("2 arguments"), e1.getMessage)
    // NULL merges literal: a named error, not an NPE
    val e2 = intercept[Exception] {
      spark.sql("SELECT graft_bpe_segment('abc', CAST(NULL AS ARRAY<STRING>))").collect()
    }
    assert(e2.getMessage.contains("graft_bpe_segment"), e2.getMessage)
    assert(e2.getMessage.toLowerCase.contains("null"), e2.getMessage)
  }

  test("bpeSegment (native) carries production-sized merge tables in one kernel") {
    // 3000 merges — the regime where the fold's per-merge aggregate layers
    // explode the expression tree; the native kernel is one plan node and
    // per-word cost scales with APPLIED merges, not table size
    val big = (0 until 2998).map(i => (s"q$i", s"z$i")) ++
      Seq(("a", "b"), ("ab", "c"))
    val out = Seq("abc", "abab", "zzz").toDF("w")
      .select($"w", TextOps.bpeSegment($"w", big).as("p"))
      .as[(String, Seq[String])].collect().toMap
    assert(out("abc") == Seq("abc"), out.toString)   // (a,b) then (ab,c)
    assert(out("abab") == Seq("ab", "ab"))
    assert(out("zzz") == Seq("z", "z", "z"))
  }

  test("bigramNll: hand-checkable stupid backoff, context catches unigram-fluent loops") {
    // train: "x y x y x y" -> c1: x=3, y=3, N=6, V=2; c2: (x,y)=3, (y,x)=2
    val train = Seq((0L, "x y x y x y")).toDF("doc_id", "text")
    val score = Seq(
      (1L, "x y"),   // seen bigram, P = 3/3 = 1 -> nll 0
      (2L, "y x"),   // seen, P = 2/3
      (3L, "x z"),   // unseen + OOV w2: 0.4 * (0+1)/(6+2) = 0.05
      (4L, "y y y")  // unigram-fluent loop; (y,y) unseen: 0.4 * (3+1)/8 = 0.2
    ).toDF("doc_id", "text")
    val out = TextOps.bigramNll(score, train, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getLong(3))).toMap
    assert(out(1L) == ((1L, 0.0, 0L)))
    assert(math.abs(out(2L)._2 - (-math.log(2.0 / 3.0))) < 1e-5 && out(2L)._3 == 0L)
    assert(math.abs(out(3L)._2 - (-math.log(0.05))) < 1e-5 && out(3L)._3 == 1L)
    // the context signal: a loop of the corpus's most frequent token scores
    // WORSE than a real transition — exactly what unigram NLL cannot see
    assert(math.abs(out(4L)._2 - (-math.log(0.2))) < 1e-5 && out(4L)._3 == 2L)
    assert(out(4L)._2 > out(2L)._2)
    // scoring the training corpus itself: every bigram seen, backoff silent
    val self = TextOps.bigramNll(train, train, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(self(0L) == 0L)
  }

  test("bpeMergesBatched: K=1 reproduces exact argmax BPE (independent implementations)") {
    val docs = graft.core.Tables.documents(spark, sf).limit(200)
    val exact = TextOps.bpeMerges(docs, "text", rounds = 6)
      .orderBy($"rank")
      .as[(Long, String, String, String, Long)].collect().toSeq
    val batched = TextOps.bpeMergesBatched(docs, "text", rounds = 6, batchK = 1)
      .orderBy($"rank")
      .as[(Long, String, String, String, Long)].collect().toSeq
    assert(batched == exact, s"\nbatched=$batched\nexact=$exact")
  }

  test("bpeMergesBatched: sweep batches are non-overlapping and rank-ordered") {
    val docs = graft.core.Tables.documents(spark, sf).limit(200)
    val k4 = TextOps.bpeMergesBatched(docs, "text", rounds = 8, batchK = 4)
      .orderBy($"rank")
      .as[(Long, String, String, String, Long)].collect().toSeq
    assert(k4.size == 8 && k4.map(_._1) == (1L to 8L))
    // the first sweep's selections are exactly the top non-overlapping
    // pairs of the EXACT round-1 count table: merge 1 must equal exact
    // merge 1, and subsequent same-sweep merges share no symbol with any
    // earlier selection
    val exact1 = TextOps.bpeMerges(docs, "text", rounds = 1)
      .as[(Long, String, String, String, Long)].collect().head
    assert(k4.head.copy(_1 = 1L) == exact1.copy(_1 = 1L), s"${k4.head} vs $exact1")
    // non-overlap within the batch prefix that came from sweep 1: counts
    // are non-increasing in rank only within a sweep, so detect the sweep
    // boundary conservatively via symbol reuse — every merge whose BOTH
    // symbols are fresh w.r.t. all previous merges of its sweep
    val used = scala.collection.mutable.Set.empty[String]
    var sweepOneLen = 0
    var stop = false
    k4.foreach { case (_, l, r, _, _) =>
      if (!stop && !used(l) && !used(r)) { used += l; used += r; sweepOneLen += 1 }
      else stop = true
    }
    assert(sweepOneLen >= 2,
      s"batchK=4 should land >1 merge in sweep 1 on a 200-doc corpus: $k4")
    // determinism
    val again = TextOps.bpeMergesBatched(docs, "text", rounds = 8, batchK = 4)
      .orderBy($"rank")
      .as[(Long, String, String, String, Long)].collect().toSeq
    assert(k4 == again)
  }

  test("bpeMergesBatched: jobs-per-vocab is sub-linear (the 30k-merge regime fix)") {
    val docs = graft.core.Tables.documents(spark, sf).limit(200)
    def countJobs(body: => Unit): Int = {
      val counter = new java.util.concurrent.atomic.AtomicInteger(0)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          val _ = e; counter.incrementAndGet(); ()
        }
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        body
        // the listener bus is async — poll until the count stabilizes
        var prev = -1
        var spins = 0
        while (counter.get() != prev && spins < 50) {
          prev = counter.get(); Thread.sleep(100); spins += 1
        }
      } finally spark.sparkContext.removeSparkListener(listener)
      counter.get()
    }
    val vocab = 8
    val exactJobs = countJobs {
      TextOps.bpeMerges(docs, "text", rounds = vocab).count() }
    val batchedJobs = countJobs {
      TextOps.bpeMergesBatched(docs, "text", rounds = vocab, batchK = 4).count() }
    // exact pays ~2 jobs per merge; batched amortizes each sweep's 2 jobs
    // over up to 4 merges. Require a strict, material improvement.
    assert(batchedJobs * 3 < exactJobs * 2,
      s"batched=$batchedJobs jobs vs exact=$exactJobs for $vocab merges")
  }

  test("bpeMerges: deterministic and rank-stable (shorter training is a prefix)") {
    val docs = graft.core.Tables.documents(spark, sf).limit(200)
    val six = TextOps.bpeMerges(docs, "text", rounds = 6)
      .orderBy($"rank")
      .as[(Long, String, String, String, Long)].collect().toSeq
    val again = TextOps.bpeMerges(docs, "text", rounds = 6)
      .orderBy($"rank")
      .as[(Long, String, String, String, Long)].collect().toSeq
    assert(six == again, "training must be deterministic")
    val three = TextOps.bpeMerges(docs, "text", rounds = 3)
      .orderBy($"rank")
      .as[(Long, String, String, String, Long)].collect().toSeq
    assert(six.take(3) == three, "merge ranks must be stable under more rounds")
    assert(six.size == 6 && six.map(_._1) == (1L to 6L))
    // per-call storage contract: every per-round checkpoint freed on exit,
    // only the (tiny) returned merges leaf persists
    graft.core.Storage.freeAll(spark, blocking = true)
    TextOps.bpeMerges(docs, "text", rounds = 4).count()
    assert(spark.sparkContext.getPersistentRDDs.size <= 1,
      spark.sparkContext.getPersistentRDDs.keySet.toString)
  }

  test("vocabGrowth: new types credit their first bucket, cumsum is total vocab, tokens conserve") {
    // buckets of 2 docs each; vocabulary grows then repeats
    val docs = Seq(
      (0L, "a b c"), (1L, "a b"),        // bucket 0: types a b c
      (2L, "c d"), (3L, "d e f"),        // bucket 1: new d e f
      (4L, "a f"), (5L, "a b c")         // bucket 2: nothing new
    ).toDF("doc_id", "text")
    val out = TextOps.vocabGrowth(docs, "doc_id", "text", 3)
      .collect().map(r => r.getAs[Long]("bucket") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("n_new_types"),
          r.getAs[Long]("cum_types")))).toMap
    assert(out(0L) == ((5L, 3L, 3L)))
    assert(out(1L) == ((5L, 3L, 6L)))
    assert(out(2L) == ((5L, 0L, 6L)))
    // conservation: cumulative vocab equals corpus-wide distinct types;
    // token counts sum to the corpus token count
    val vocab = docs.select(explode(split(col("text"), " "))).distinct().count()
    assert(out(2L)._3 == vocab)
    assert(out.values.map(_._1).sum == 15L)
    // sparse id spaces bucket by RANGE, not rank: ids 0 and 100 with 2
    // buckets land in buckets 0 and 1
    val sparse = Seq((0L, "x"), (100L, "y")).toDF("doc_id", "text")
    val sp = TextOps.vocabGrowth(sparse, "doc_id", "text", 2)
      .collect().map(r => r.getAs[Long]("bucket")).toSet
    assert(sp == Set(0L, 1L))
  }

  test("tokenEntropy: 0 for a looped token, ln(n) for all-distinct, repetition lowers it") {
    val docs = Seq(
      (1L, "x x x x x x x x"),                 // one type: H = 0
      (2L, "a b c d e f g h"),                 // 8 distinct: H = ln 8
      (3L, "a a a a b c d e")                  // skewed: 0 < H < ln 8
    ).toDF("doc_id", "text")
    val r = TextOps.tokenEntropy(docs, "doc_id", "text")
      .collect().map(x => x.getLong(0) -> x).toMap
    assert(r(1L).getAs[Double]("entropy") == 0.0)
    assert(math.abs(r(2L).getAs[Double]("entropy") - math.log(8)) < 1e-5)
    val h3 = r(3L).getAs[Double]("entropy")
    assert(h3 > 0.0 && h3 < r(2L).getAs[Double]("entropy"), h3.toString)
    assert(r(2L).getAs[Long]("n_types") == 8L && r(3L).getAs[Long]("n_types") == 5L)
  }

  test("blocklistHits: overlap-inclusive counts, one automaton pass, sparse output") {
    val docs = Seq(
      (1L, "a a a table table table"),      // "a a" x2 overlapping, "table table" x2
      (2L, "spark spark and fast sorting"), // "spark" x2, "fast sort" x1 (prefix hit)
      (3L, "nothing to see")                // no hits -> no rows
    ).toDF("doc_id", "text")
    val pats = Seq("a a", "table table", "fast sort", "spark")
    val out = TextOps.blocklistHits(docs, "doc_id", "text", pats)
      .collect().map(r => (r.getLong(0), r.getString(2)) -> r.getLong(3)).toMap
    assert(out == Map(
      (1L, "a a") -> 2L, (1L, "table table") -> 2L,
      (2L, "spark") -> 2L, (2L, "fast sort") -> 1L))
    // parity with the naive per-pattern position scan on fixture docs
    val fix = graft.core.Tables.documents(spark, sf)
    val got = TextOps.blocklistHits(fix, "doc_id", "text", pats)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(3)).toMap
    val naive = fix.select($"doc_id", $"text").as[(Long, String)].collect().flatMap {
      case (did, text) => pats.zipWithIndex.flatMap { case (p, pid) =>
        val n = (0 to text.length - p.length).count(i => text.regionMatches(i, p, 0, p.length))
        if (n > 0) Some((did, pid.toLong) -> n.toLong) else None
      }
    }.toMap
    assert(got == naive, s"AC != naive: ${(got.toSet diff naive.toSet) ++ (naive.toSet diff got.toSet)}")
  }

  test("blocklistRedact: longest phrase wins, all occurrences masked, literal-only patterns") {
    val docs = Seq((1L, "fast sorting a table table table here")).toDF("doc_id", "text")
    val out = docs.select(TextOps.blocklistRedact(
      $"text", Seq("a a", "table table", "fast sort", "spark")).as("r"))
      .head.getString(0)
    // "fast sort" masks inside "fast sorting"; "table table" (longest-first)
    // consumes the first two tables, the third survives
    assert(out == "[BLOCKED]ing a [BLOCKED] table here", out)
    intercept[IllegalArgumentException] {
      docs.select(TextOps.blocklistRedact($"text", Seq("a.*b"))).collect()
    }
  }

  test("rrfFuse: both-list docs beat single-list peers, credits are exact integers") {
    val a = Seq((10L, 1L), (11L, 2L), (12L, 3L)).toDF("did", "rank")
    val b = Seq((12L, 1L), (13L, 2L), (10L, 3L)).toDF("did", "rank")
    val out = TextOps.rrfFuse(Seq(a, b), rrfK = 60, k = 10)
      .collect().map(r => r.getAs[Long]("did") ->
        ((r.getAs[Long]("rrf_fp"), r.getAs[Long]("n_lists")))).toMap
    // exact integer credits: 1e6 div (60 + rank)
    def c(rank: Long) = 1000000L / (60L + rank)
    assert(out(10L) == ((c(1) + c(3), 2L)))
    assert(out(12L) == ((c(3) + c(1), 2L)))
    assert(out(11L) == ((c(2), 1L)))
    assert(out(13L) == ((c(2), 1L)))
    // any two-list doc outranks every one-list doc here
    val twoMin = out.collect { case (_, (s, 2L)) => s }.min
    val oneMax = out.collect { case (_, (s, 1L)) => s }.max
    assert(twoMin > oneMax)
    // fewer than two rankings is a misuse, not a silent pass-through
    intercept[IllegalArgumentException] { TextOps.rrfFuse(Seq(a), 60, 10) }
  }

  test("booleanSearch: conjunction and exclusion both enforced, empty must rejected") {
    val docs = Seq(
      (1L, "spark runs a query fast"),      // both musts, no block -> kept
      (2L, "spark query merge plan"),       // blocked by merge
      (3L, "spark only here"),              // missing query
      (4L, "query spark query spark")       // duplicates count once -> kept
    ).toDF("doc_id", "text")
    val kept = TextOps.booleanSearch(docs, "doc_id", "text",
      Seq("spark", "query"), Seq("merge")).as[Long].collect().toSet
    assert(kept == Set(1L, 4L))
    intercept[IllegalArgumentException] {
      TextOps.booleanSearch(docs, "doc_id", "text", Seq.empty, Seq("merge"))
    }
  }

  test("cdcChunks: tokens conserve, boundaries re-synchronize after a prefix edit") {
    val docs = graft.core.Tables.documents(spark, sf)
    val ch = TextOps.cdcChunks(docs, "doc_id", "text", n = 3, divisor = 8)
    // chunks tile the token stream exactly
    val perDoc = ch.groupBy($"did").agg(sum($"n_tokens").as("nt"))
      .join(docs.select($"doc_id".as("did"),
        size(TextOps.words($"text")).cast("long").as("nw")), Seq("did"))
      .filter($"nt" =!= $"nw").count()
    assert(perDoc == 0, "chunk n_tokens must sum to the doc's token count")
    // EDIT STABILITY: prepend two tokens to a multi-chunk doc — every
    // chunk after the first must reappear with an identical hash (fixed-
    // width chunking shares none; this is CDC's reason to exist)
    val text = docs.orderBy($"doc_id")
      .select($"text").as[String].collect()
      .find(t => TextOps.cdcChunks(Seq((1L, t)).toDF("doc_id", "text"),
        "doc_id", "text", 3, 8).count() >= 3).get
    def hashes(t: String) = TextOps.cdcChunks(
        Seq((1L, t)).toDF("doc_id", "text"), "doc_id", "text", 3, 8)
      .orderBy($"chunk_id").select($"chunk_hash").as[Long].collect().toSeq
    val before = hashes(text)
    val after = hashes("zzzz qqqq " + text)
    assert(before.drop(1).forall(after.contains),
      "chunks beyond the first must survive a prefix insertion")
  }

  test("perplexityBuckets: exact thirds per group, head strictly easier than tail") {
    val docs = graft.core.Tables.documents(spark, sf)
    val out = TextOps.perplexityBuckets(docs, "doc_id", "text", "lang")
      .select($"grp", $"avg_nll", $"r", $"bucket")
      .as[(String, Double, Long, String)].collect()
    out.groupBy(_._1).foreach { case (g, rows) =>
      val n = rows.length
      val h = rows.count(_._4 == "head")
      val t = rows.count(_._4 == "tail")
      // integer third boundaries: head = floor(n/3), tail = n - floor(2n/3)
      assert(h == n / 3, s"$g: head $h of $n")
      assert(t == n - 2 * n / 3, s"$g: tail $t of $n")
      if (h > 0 && t > 0) {
        val maxHead = rows.filter(_._4 == "head").map(_._2).max
        val minTail = rows.filter(_._4 == "tail").map(_._2).min
        assert(maxHead <= minTail, s"$g: head must rank easier than tail")
      }
      // ranks are a permutation of 1..n
      assert(rows.map(_._3).sorted.toSeq == (1L to n.toLong).toSeq, g)
    }
  }

  test("phraseSearch: adjacency in order, overlapping matches, repeated terms") {
    val docs = Seq(
      (1L, "the quick brown fox"),        // phrase at pos 0
      (2L, "quick the brown fox"),        // terms present, wrong order
      (3L, "x the quick y the quick z"),  // two matches, first at pos 1
      (4L, "the the quick"),              // match at pos 1 only
      (5L, "nothing here")
    ).toDF("doc_id", "text")
    val out = TextOps.phraseSearch(docs, "doc_id", "text", Seq("the", "quick"))
      .select($"did", $"n_matches", $"first_pos")
      .as[(Long, Long, Long)].collect().sortBy(_._1).toList
    assert(out == List((1L, 1L, 0L), (3L, 2L, 1L), (4L, 1L, 1L)))
    // repeated phrase terms: "a a a" matches "a a" twice (overlap)
    val rep = Seq((1L, "a a a"), (2L, "a b a")).toDF("doc_id", "text")
    val out2 = TextOps.phraseSearch(rep, "doc_id", "text", Seq("a", "a"))
      .select($"did", $"n_matches", $"first_pos")
      .as[(Long, Long, Long)].collect().toList
    assert(out2 == List((1L, 2L, 0L)))
    intercept[IllegalArgumentException] {
      TextOps.phraseSearch(docs, "doc_id", "text", Seq.empty)
    }
  }

  test("hashedQualityClassifier: separates disjoint vocabularies, prior-only on empty text") {
    // two disjoint vocabularies: tokens seen only in positive docs push the
    // log-odds positive, and vice versa — held-out docs from each
    // vocabulary must classify to their side
    val docs = Seq(
      (1L, "good clean prose here", true),
      (2L, "good clean text here", true),
      (3L, "spam junk noise zzz", false),
      (4L, "spam junk garbage zzz", false),
      (5L, "good clean prose text", true),   // positive-vocab holdout
      (6L, "spam junk noise garbage", false), // negative-vocab holdout
      (7L, "", true)                          // featureless -> prior only
    ).toDF("doc_id", "text", "lab")
    val out = TextOps.hashedQualityClassifier(docs, "doc_id", "text",
      isPositive = $"lab", nBuckets = 64)
      .select($"did", $"score_fp", $"pred")
      .as[(Long, Long, Boolean)].collect().sortBy(_._1)
    val byId = out.map(r => r._1 -> r).toMap
    assert(byId(5L)._3, "positive-vocab doc must predict positive")
    assert(!byId(6L)._3, "negative-vocab doc must predict negative")
    // prior: 4 positive vs 3 negative docs -> ln(5/4) micro-nats > 0
    assert(byId(7L)._2 == graft.plans.LnFp.lnMicro(5L, 4L),
      "empty text scores exactly the doc prior")
    // deterministic: a rerun produces identical integers
    val rerun = TextOps.hashedQualityClassifier(docs, "doc_id", "text",
      isPositive = $"lab", nBuckets = 64)
      .select($"did", $"score_fp", $"pred")
      .as[(Long, Long, Boolean)].collect().sortBy(_._1)
    assert(rerun.toSeq == out.toSeq)
    intercept[IllegalArgumentException] {
      TextOps.hashedQualityClassifier(docs, "doc_id", "text", $"lab", 1)
    }
  }

  test("trainQualityModelWeighted: weight 1 degrades exactly; upweighting moves log-odds; NULL/negative fail loud") {
    val docs = Seq(
      (1L, "good clean prose here", true),
      (2L, "good clean text here", true),
      (3L, "spam junk noise zzz", false),
      (4L, "good sneaky junk zzz", false)  // the hard negative: shares 'good'
    ).toDF("doc_id", "text", "lab")
    def weights(m: org.apache.spark.sql.DataFrame) =
      m.as[(Long, Long)].collect().sortBy(_._1).toSeq
    val base = weights(TextOps.trainQualityModel(docs, "doc_id", "text",
      $"lab", 64))
    val unit = weights(TextOps.trainQualityModelWeighted(docs, "doc_id",
      "text", $"lab", lit(1L), 64))
    assert(unit == base, "weight 1 must reproduce trainQualityModel exactly")
    // upweight the hard negative 4x (untouched buckets may drift slightly
    // POSITIVE — the global negative total nn grows — so the sharp claim
    // is on the shared token's score, below)
    val up = weights(TextOps.trainQualityModelWeighted(docs, "doc_id",
      "text", $"lab", when($"doc_id" === 4L, 4L).otherwise(1L), 64))
    assert(up.toMap != base.toMap, "the retrain must actually move")
    // the shared token 'good' scores LESS positive after the retrain
    def scoreOf(m: Seq[(Long, Long)]) = {
      val model = m.toDF("b", "w_fp")
      TextOps.scoreQuality(Seq((9L, "good")).toDF("doc_id", "text"),
        "doc_id", "text", model, 64)
        .select($"score_fp").as[Long].head()
    }
    assert(scoreOf(up) < scoreOf(base),
      "a token shared with the upweighted hard negative must score lower")
    val eNeg = intercept[Exception] {
      TextOps.trainQualityModelWeighted(docs, "doc_id", "text", $"lab",
        when($"doc_id" === 4L, -1L).otherwise(1L), 64).collect()
    }
    assert(eNeg.getMessage.contains("nonnegative"), eNeg.getMessage)
    val eNull = intercept[Exception] {
      TextOps.trainQualityModelWeighted(docs, "doc_id", "text", $"lab",
        lit(null).cast("long"), 64).collect()
    }
    assert(eNull.getMessage.contains("nonnegative"), eNull.getMessage)
  }

  test("ngramLmCounts: counts and KN continuation counts by hand") {
    // corpus: "a b c", "x b c", "b c" — trigram window only fits twice
    val docs = Seq((1L, "a b c"), (2L, "x b c"), (3L, "b c"))
      .toDF("doc_id", "text")
    val got = TextOps.ngramLmCounts(docs, "doc_id", "text",
        maxOrder = 3, minCount = 1L)
      .as[(Long, String, Long, Long)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    // unigram "b": 3 occurrences; distinct left contexts {a, x} — the
    // doc-initial "b" of doc 3 contributes no context
    assert(got((1L, "b")) == (3L, 2L))
    // unigram "c": always follows b — high count, ccount 1 (the KN point)
    assert(got((1L, "c")) == (3L, 1L))
    // doc-initial-only tokens have zero continuation evidence
    assert(got((1L, "a")) == (1L, 0L))
    assert(got((2L, "b c")) == (3L, 2L)) // bigram "b c" after {a, x}
    assert(got((3L, "a b c")) == (1L, 0L))
    // minCount prunes types, not occurrences: c >= 3 keeps only b/c/"b c"
    val pruned = TextOps.ngramLmCounts(docs, "doc_id", "text", 3, 3L)
      .as[(Long, String, Long, Long)].collect().map(_._2).toSet
    assert(pruned == Set("b", "c", "b c"))
  }

  test("knBigramProbs: exact KN arithmetic and per-context mass") {
    // bigrams: (a,b) x2, (a,c) x1 -> L(a)=3, P(a)=2, C(b)=C(c)=1, T=2
    // p(b|a) = max(2-3/4,0)/3 + (3/4)(2/3)(1/2) = 2/3; p(c|a) = 1/3
    val docs = Seq((1L, "a b"), (2L, "a b"), (3L, "a c"))
      .toDF("doc_id", "text")
    val got = TextOps.knBigramProbs(docs, "doc_id", "text", minCount = 1L)
      .as[(String, String, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._4).toMap
    assert(got(("a", "b")) == 666666666666L)
    assert(got(("a", "c")) == 333333333333L)
    // real corpus: replay the whole model in BigInt and require the
    // engine's decimal arithmetic to match EXACTLY, bigram by bigram;
    // then check the KN mass identity sum_all_w p(w|u) = 1 per context
    // (observed mass + backoff to unobserved continuations)
    val corpus = graft.core.Tables.documents(spark, sf)
    val grams = corpus.select($"text").as[String].collect()
      .flatMap(_.split(" ").sliding(2).collect { case Array(a, b) => (a, b) })
    val bc = grams.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val cleft = bc.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val n1p = bc.groupBy(_._1._1).view.mapValues(_.size.toLong).toMap
    val n1c = bc.groupBy(_._1._2).view.mapValues(_.size.toLong).toMap
    val t = bc.size.toLong
    def pFp(p: (String, String)): Long =
      ((BigInt(4 * bc(p) - 3) * t + BigInt(3) * n1p(p._1) * n1c(p._2)) *
        BigInt(1000000000000L) / (BigInt(4) * cleft(p._1) * t)).toLong
    val engine = TextOps.knBigramProbs(corpus, "doc_id", "text", 1L)
      .as[(String, String, Long, Long)].collect()
    assert(engine.length == bc.size)
    engine.foreach { case (w1, w2, c, fp) =>
      assert(c == bc((w1, w2)), s"count($w1,$w2)")
      assert(fp == pFp((w1, w2)), s"p_fp($w1,$w2)")
    }
    // mass identity: observed sum + 3P/(4L) * sum(C(unobserved))/T = 1,
    // in exact rationals (floor dust only on the fixed-point side)
    cleft.keys.foreach { u =>
      val obs = bc.keys.filter(_._1 == u).toSeq
      val obsMass = obs.map(p =>
        BigDecimal(BigInt(4 * bc(p) - 3) * t + BigInt(3) * n1p(u) * n1c(p._2)) /
          BigDecimal(BigInt(4) * cleft(u) * t)).sum
      // iterator, not keys.map: mapping a key SET to counts would collapse
      // equal counts before the sum
      val unobsC = n1c.keys.iterator.filterNot(w => bc.contains((u, w)))
        .map(n1c).sum
      val backoff = BigDecimal(BigInt(3) * n1p(u) * unobsC) /
        BigDecimal(BigInt(4) * cleft(u) * t)
      assert(((obsMass + backoff) - 1).abs < BigDecimal("1e-18"),
        s"context $u mass ${obsMass + backoff}")
    }
  }

  test("knTrigramProbs: exact nested-floor arithmetic and per-context mass") {
    // trigrams: (a,b,c) x2, (a,b,d) x1 -> L=3, P=2; cb(b,c)=cb(b,d)=1,
    // M=2, P2=2, C1(c)=C1(d)=1, T=2 -> p2 = (1*2 + 3*2*1)/(4*2*2) = 1/2
    // p(c|a,b) = ((8-3)e12 + 3*2*5e11)/12 = 2/3; p(d|a,b) = 1/3
    val docs = Seq((1L, "a b c"), (2L, "a b c"), (3L, "a b d"))
      .toDF("doc_id", "text")
    val got = TextOps.knTrigramProbs(docs, "doc_id", "text", minCount = 1L)
      .as[(String, String, String, Long, Long)].collect()
      .map(r => (r._1, r._2, r._3) -> r._5).toMap
    assert(got(("a", "b", "c")) == 666666666666L)
    assert(got(("a", "b", "d")) == 333333333333L)
    // real corpus: replay the whole model in BigInt (nested floor and all)
    // and require the engine's decimal arithmetic to match EXACTLY
    val corpus = graft.core.Tables.documents(spark, sf)
    val grams = corpus.select($"text").as[String].collect()
      .flatMap(_.split(" ").sliding(3).collect {
        case Array(a, b, c) => (a, b, c) })
    val tc = grams.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val l3 = tc.groupBy(t => (t._1._1, t._1._2)).view.mapValues(_.values.sum).toMap
    val p3n = tc.groupBy(t => (t._1._1, t._1._2)).view.mapValues(_.size.toLong).toMap
    val cb = tc.keys.groupBy(t => (t._2, t._3)).view.mapValues(_.size.toLong).toMap
    val m2 = cb.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val p2n = cb.groupBy(_._1._1).view.mapValues(_.size.toLong).toMap
    val c1 = cb.keys.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val t = cb.size.toLong
    val E12 = BigInt(1000000000000L)
    def p2Fp(p: (String, String)): BigInt =
      (BigInt(4 * cb(p) - 3) * t + BigInt(3) * p2n(p._1) * c1(p._2)) * E12 /
        (BigInt(4) * m2(p._1) * t)
    def pFp(g: (String, String, String)): Long =
      ((BigInt(4 * tc(g) - 3) * E12 +
        BigInt(3) * p3n((g._1, g._2)) * p2Fp((g._2, g._3))) /
        (BigInt(4) * l3((g._1, g._2)))).toLong
    val engine = TextOps.knTrigramProbs(corpus, "doc_id", "text", 1L)
      .as[(String, String, String, Long, Long)].collect()
    assert(engine.length == tc.size)
    engine.foreach { case (w1, w2, w3, c, fp) =>
      assert(c == tc((w1, w2, w3)), s"count($w1,$w2,$w3)")
      assert(fp == pFp((w1, w2, w3)), s"p_fp($w1,$w2,$w3)")
    }
    // mass identity in exact rationals (pre-floor): per context (u, v),
    // observed mass + backoff over unobserved continuations = 1, where the
    // unobserved mass splits into pairs observed in cb and pure-unigram
    // backoff (sum of C1 over w3 with no (v, w3) pair)
    def p2Rat(p: (String, String)): BigDecimal =
      BigDecimal(BigInt(4 * cb(p) - 3) * t + BigInt(3) * p2n(p._1) * c1(p._2)) /
        BigDecimal(BigInt(4) * m2(p._1) * t)
    l3.keys.take(200).foreach { case uv @ (_, v) =>
      val lam = BigDecimal(BigInt(3) * p3n(uv)) / BigDecimal(BigInt(4) * l3(uv))
      val obs = tc.keys.filter(g => (g._1, g._2) == uv).toSeq
      val obsMass = obs.map { g =>
        BigDecimal(BigInt(4 * tc(g) - 3)) / BigDecimal(BigInt(4) * l3(uv)) +
          lam * p2Rat((g._2, g._3))
      }.sum
      val obsW3 = obs.map(_._3).toSet
      // continuations of v observed as pairs but not after (u, v)
      val pairBackoff = cb.keys.iterator
        .filter(p => p._1 == v && !obsW3(p._2)).map(p2Rat).sum
      // continuations never seen after v at all: p2 backs off to C1/T
      val vW3 = cb.keys.iterator.filter(_._1 == v).map(_._2).toSet
      val lam2 = BigDecimal(BigInt(3) * p2n(v)) / BigDecimal(BigInt(4) * m2(v))
      val uniBackoff = lam2 *
        BigDecimal(c1.iterator.filterNot(kv => vW3(kv._1)).map(_._2).sum) /
        BigDecimal(t)
      val mass = obsMass + lam * (pairBackoff + uniBackoff)
      assert((mass - 1).abs < BigDecimal("1e-18"), s"context $uv mass $mass")
    }
  }

  test("knDocScore: three-case backoff replayed exactly, held-out docs hit backoff") {
    val corpus = graft.core.Tables.documents(spark, sf)
    val train = corpus.filter($"doc_id" % 3 =!= 0)
    val engine = TextOps.knDocScore(train, corpus, "doc_id", "text")
      .as[(Long, Long, Long, Option[Long])].collect()
    // replay the whole model driver-side: train stats from the slice,
    // three-case p_fp in BigInt, ln through the SAME integer fixed point
    val texts = corpus.select($"doc_id", $"text").as[(Long, String)].collect()
    def bigrams(t: String) =
      t.split(" ").sliding(2).collect { case Array(a, b) => (a, b) }.toSeq
    val tb = texts.filter(_._1 % 3 != 0).flatMap(t => bigrams(t._2))
    val bc = tb.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val lf = bc.groupBy(_._1._1).view
      .mapValues(m => (m.values.sum, m.size.toLong)).toMap
    val rc = bc.groupBy(_._1._2).view.mapValues(_.size.toLong).toMap
    val t = bc.size.toLong
    val u = bc.keys.map(_._2).toSet.size.toLong + 1
    val E12 = BigInt(1000000000000L)
    def pFp(pr: (String, String)): Long = (bc.get(pr) match {
      case Some(c) =>
        val (l, p) = lf(pr._1)
        (BigInt(4 * c - 3) * t + BigInt(3) * p * rc(pr._2)) * E12 /
          (BigInt(4) * l * t)
      case None => lf.get(pr._1) match {
        case Some((l, p)) =>
          BigInt(3) * p * (rc.getOrElse(pr._2, 0L) + 1) * E12 /
            (BigInt(4) * l * (t + u))
        case None => BigInt(rc.getOrElse(pr._2, 0L) + 1) * E12 / BigInt(t + u)
      }
    }).toLong
    def lnp(pr: (String, String)): Long =
      graft.plans.LnFp.lnMicro(math.max(pFp(pr), 1L), 1000000000000L)
    val want = texts.map { case (id, tx) =>
      val bs = bigrams(tx)
      id -> (bs.length.toLong, bs.map(lnp).sum)
    }.toMap
    assert(engine.length == texts.length)
    engine.foreach { case (id, n, ll, avg) =>
      val (wn, wll) = want(id)
      assert(n == wn, s"n_bigrams($id)")
      assert(ll == wll, s"ll_fp($id)")
      assert(avg == (if (wn > 0) Some(-wll / wn) else None), s"avg($id)")
    }
    // the held-out third must actually exercise the context-only case
    val scored = texts.flatMap(t => bigrams(t._2)).distinct
    assert(scored.exists(pr => !bc.contains(pr) && lf.contains(pr._1)),
      "no context-only backoff pair in the fixture")
    // OOV case (sf0.001's held-out contexts are all covered, so force it):
    // train {a b, b a}, score "zz b" -> p = (C1(b)+1)/(T+U) = 2/5
    val tr = Seq((1L, "a b"), (2L, "b a")).toDF("doc_id", "text")
    val sc = Seq((9L, "zz b")).toDF("doc_id", "text")
    val Array((_, n1, ll1, _)) = TextOps.knDocScore(tr, sc, "doc_id", "text")
      .as[(Long, Long, Long, Option[Long])].collect()
    assert(n1 == 1L)
    assert(ll1 == graft.plans.LnFp.lnMicro(400000000000L, 1000000000000L))
  }

  test("knPerplexityTiers: exact thirds per group, rank follows the KN score") {
    val docs = graft.core.Tables.documents(spark, sf)
    val out = TextOps.knPerplexityTiers(
        docs.filter($"doc_id" % 3 =!= 0), docs, "doc_id", "text", "lang")
      .as[(Long, String, Long, Long, Long, String)].collect()
    val scores = TextOps.knDocScore(docs.filter($"doc_id" % 3 =!= 0), docs,
        "doc_id", "text")
      .filter($"n_bigrams" > 0)
      .select($"doc_id", $"avg_nll_micro").as[(Long, Long)].collect().toMap
    assert(out.length == scores.size, "every scorable doc gets a tier")
    out.groupBy(_._2).foreach { case (g, rows) =>
      val n = rows.length
      // ranks are a contiguous permutation ordered by (score, id)
      val byRank = rows.sortBy(_._5)
      assert(byRank.map(_._5).toSeq == (1L to n).toSeq, s"ranks in $g")
      val expected = rows.sortBy(r => (scores(r._1), r._1)).map(_._1).toSeq
      assert(byRank.map(_._1).toSeq == expected, s"rank order in $g")
      // integer third boundaries
      rows.foreach { case (_, _, _, _, r, b) =>
        val want = if (r * 3 <= n) "head" else if (r * 3 > 2L * n) "tail"
          else "middle"
        assert(b == want, s"tier at rank $r/$n in $g")
      }
    }
  }

  test("ngramOverlapEval: clipped matches and fixed-point ratios by hand") {
    // pair 1: cand repeats "the" 4x vs ref with 2x "the" — clipping caps
    // the unigram match at 2 (the canonical BLEU degenerate case)
    val cand = Seq((1L, "the the the the"), (2L, "a b c d")).toDF("id", "text")
    val ref = Seq((1L, "the cat sat on the mat"), (2L, "a b x d"))
      .toDF("id", "text")
    val out = TextOps.ngramOverlapEval(cand, ref, "id", "text", maxOrder = 2)
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4, r._5, r._6, r._7)).toMap
    // pair 1 unigrams: min(4, 2) = 2 of cand_total 4, ref_total 6
    assert(out((1L, 1L)) == (2L, 4L, 6L, 500000L, 333333L))
    // pair 1 bigrams: cand {"the the" x3}, ref has none of it
    assert(out((1L, 2L)) == (0L, 3L, 5L, 0L, 0L))
    // pair 2 unigrams: {a, b, d} shared; bigrams: "a b" only
    assert(out((2L, 1L)) == (3L, 4L, 4L, 750000L, 750000L))
    assert(out((2L, 2L)) == (1L, 3L, 3L, 333333L, 333333L))
    // a pair missing on one side emits no rows (both denominators required)
    val refOnly = TextOps.ngramOverlapEval(
      cand.filter($"id" === 1L), ref, "id", "text", 2)
    assert(refOnly.filter($"id" === 2L).count() == 0L)
    // order n longer than the shorter side: no (id, n) row either
    val shortRef = Seq((1L, "x")).toDF("id", "text")
    val shortOut = TextOps.ngramOverlapEval(cand, shortRef, "id", "text", 2)
    assert(shortOut.select($"ord").as[Long].collect().toSet == Set(1L))
    intercept[IllegalArgumentException] {
      TextOps.ngramOverlapEval(cand, ref, "id", "text", 9)
    }
  }

  test("snippets: best window by (terms, hits, start), no-hit docs absent, WindowGroupLimit plan") {
    val docs = Seq(
      (1L, "x join y z hash w q filter"),       // anchor 1 covers all 3
      (2L, "join join z z z z z z z hash"),     // hits tiebreak: [0,8) has 2
      (3L, "nothing to see here"),              // no hits -> no row
      (4L, "join z z z z z z z join")           // full tie -> earliest start
    ).toDF("doc_id", "text")
    val out = TextOps.snippets(docs, "doc_id", "text",
        Seq("join", "hash", "filter"), window = 8)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(out == Map(1L -> (1L, 3L, 3L), 2L -> (0L, 1L, 2L),
      4L -> (0L, 1L, 1L)))
    val p = TextOps.snippets(docs, "doc_id", "text", Seq("join"), 8)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("fuzzySearch: one-edit typos match; transposition false-friends rejected") {
    val docs = Seq(
      (1L, "table table value"),
      (2L, "hash value x"),
      (3L, "nothing here y")
    ).toDF("doc_id", "text")
    // deletion typo 'tabl' -> 'table'; insertion typo 'hashh' -> 'hash'
    val hits = TextOps.fuzzySearch(docs, "doc_id", "text",
        Seq("tabl", "hashh"), 10)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(hits == Set(1L, 2L))
    // the SymSpell false friend: del1('ba') ∩ del1('ab') = {a, b} admits
    // the candidate, but lev('ba','ab') = 2 — the exact verify must kill
    // it, or the deletion join silently over-matches
    val out = TextOps.fuzzySearch(Seq((7L, "ab cd ef")).toDF("doc_id", "text"),
      "doc_id", "text", Seq("ba"), 5)
    assert(out.isEmpty)
  }

  test("jelinekMercerRank: hit docs outrank no-hit docs; lambda must be in (0,1)") {
    val docs = Seq(
      (1L, "table hash merge a b"), // all three terms
      (2L, "a b c d e"),            // background only
      (3L, "table a b c d")         // one term
    ).toDF("doc_id", "text")
    val order = TextOps.jelinekMercerRank(docs, "doc_id", "text",
        Seq("table", "hash", "merge"), 10)
      .collect().map(_.getAs[Long]("doc_id")).toSeq
    assert(order.head == 1L)
    assert(order.indexOf(3L) < order.indexOf(2L))
    intercept[IllegalArgumentException] {
      TextOps.jelinekMercerRank(docs, "doc_id", "text", Seq("table"), 5,
        lambdaNum = 2L, lambdaDen = 2L)
    }
  }

  test("bm25fRank: a title hit outranks the identical hit in the body") {
    val docs = Seq(
      (1L, "table a b c d e f g h i j k"), // 'table' in the 8-token title
      (2L, "a b c d e f g h table i j k"), // same tf, in the body
      (3L, "x y z q w e r t y u i o")      // no hit -> absent
    ).toDF("doc_id", "text")
    val out = TextOps.bm25fRank(docs, "doc_id", "text", Seq("table"), k = 10)
      .collect().map(r => r.getAs[Long]("did") -> r.getAs[Double]("score"))
      .toMap
    assert(out.keySet == Set(1L, 2L))
    // identical lengths and tf: the x2 title weight is the ONLY difference
    assert(out(1L) > out(2L))
  }

  test("minSpanProximity: exact minimal cover by hand and by brute force") {
    val docs = Seq(
      (1L, "a join b c hash filter join"), // best cover starts at hash@4: span 3
      (2L, "join hash filter"),            // adjacent -> span 3 at start 0
      (3L, "join hash z"),                 // missing 'filter' -> no row
      (4L, "filter z z z z hash z join")   // whole doc is the only cover
    ).toDF("doc_id", "text")
    val out = TextOps.minSpanProximity(docs, "doc_id", "text",
        Seq("join", "hash", "filter"))
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(out == Map(1L -> (3L, 4L), 2L -> (3L, 0L), 4L -> (8L, 0L)))
    // brute force over every window on the driver fixture (sf0.001)
    val terms = Seq("join", "hash", "filter")
    val corpus = graft.core.Tables.documents(spark, sf)
    val got = TextOps.minSpanProximity(corpus, "doc_id", "text", terms)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val want = corpus.select("doc_id", "text").as[(Long, String)].collect()
      .flatMap { case (id, text) =>
        val toks = text.split(" ", -1)
        val covers = for {
          s <- toks.indices; e <- s until toks.length
          win = toks.slice(s, e + 1)
          if terms.forall(win.contains)
        } yield (e - s + 1L, s.toLong)
        if (covers.isEmpty) None else Some(id -> covers.min)
      }.toMap
    assert(got == want)
  }

  test("chrF: whitespace-insensitive, clipped, recall-weighted — by hand") {
    // pair 1: identical after de-spacing -> F = 1 at every present order
    // pair 2: clipping caps repeated chars; ord 3 matches nothing; ord 4
    //   has no ref grams -> no row
    val cand = Seq((1L, "ab ab"), (2L, "aaaa")).toDF("id", "text")
    val ref = Seq((1L, "abab"), (2L, "aab")).toDF("id", "text")
    val out = TextOps.chrF(cand, ref, "id", "text", maxOrder = 6)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4, r._5, r._6)).toMap
    (1L to 4L).foreach { n =>
      val m = 4 - n + 1
      assert(out((1L, n)) == (m, m, m, 1000000L), s"order $n")
    }
    assert(out((2L, 1L)) == (2L, 4L, 3L, 625000L))   // 5*2e6 // (12+4)
    assert(out((2L, 2L)) == (1L, 3L, 2L, 454545L))   // 5*1e6 // (8+3)
    assert(out((2L, 3L)) == (0L, 2L, 1L, 0L))
    assert(!out.contains((2L, 4L)) && !out.contains((1L, 5L)))
    // ALL whitespace strips (chrF definition), not just spaces: a
    // newline/tab-formatted candidate of the same content scores 1
    val mc = Seq((9L, "ab\ncd\tef")).toDF("id", "text")
    val mr = Seq((9L, "ab cd ef")).toDF("id", "text")
    val mf = TextOps.chrF(mc, mr, "id", "text", 2)
      .select($"f_fp").as[Long].collect()
    assert(mf.nonEmpty && mf.forall(_ == 1000000L), mf.mkString(","))
    // beta = 2 weights recall: covering the reference beats being covered
    val c2 = Seq((3L, "ab"), (4L, "abcd")).toDF("id", "text")
    val r2 = Seq((3L, "abcd"), (4L, "ab")).toDF("id", "text")
    val f = TextOps.chrF(c2, r2, "id", "text", 1)
      .select($"id", $"f_fp").as[(Long, Long)].collect().toMap
    assert(f(4L) > f(3L) && f(3L) == 555555L && f(4L) == 833333L)
    intercept[IllegalArgumentException] {
      TextOps.chrF(cand, ref, "id", "text", 9)
    }
  }

  test("corpusBleu: pooled counts, smoothing and brevity penalty by hand") {
    import graft.plans.LnFp.lnMicro
    val cand = Seq((1L, "a", "the the the the"), (2L, "a", "a b c d"),
      (3L, "b", "a b"), (4L, "c", "p q")).toDF("id", "grp", "text")
    val ref = Seq((1L, "the cat sat on the mat"), (2L, "a b x d"),
      (3L, "a b"), (4L, "q p")).toDF("id", "text")
    val out = TextOps.corpusBleu(cand, ref, "id", "text", "grp", maxOrder = 2)
      .as[(String, Long, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4, r._5, r._6, r._7)).toMap
    // group a POOLS pairs 1+2 (corpus BLEU sums counts, never averages
    // per-segment scores): ord1 m=2+3 of c=4+4, ord2 m=0+1 of c=3+3 —
    // pooling lifts pair 1's zero ord-2 matches past smoothing
    val aLn = lnMicro(5L, 8L) + lnMicro(1L, 6L)
    assert(out("a") == (aLn, 0L, 8L, 10L, -250000L, -500000L + aLn))
    // group b: identical sides — every ratio 1, ln 0, BP 1: log-BLEU = 0
    assert(out("b") == (0L, 0L, 2L, 2L, 0L, 0L))
    // group c: reversed tokens — unigrams all match, zero bigram matches
    // smoothed to max(0,1)=1 of c=1 (ln 0), counted in n_smoothed
    assert(out("c") == (0L, 1L, 2L, 2L, 0L, 0L))
  }

  test("stupidBackoffDocScore: all three backoff branches in exact LnFp integers") {
    import graft.plans.LnFp
    // train "a b c a b c": uni a/b/c = 2 each (N=6, U=4); bi (a,b)=2,
    // (b,c)=2, (c,a)=1; tri (a,b,c)=2, (b,c,a)=1, (c,a,b)=1
    val train = Seq((1L, "a b c a b c")).toDF("doc_id", "text")
    val score = Seq((10L, "a b c"), (11L, "x b c"), (12L, "q x z"),
      (13L, "a b")).toDF("doc_id", "text")
    val got = TextOps.stupidBackoffDocScore(train, score, "doc_id", "text")
      .as[(Long, Long, Long, Option[Long])].collect()
      .map(r => r._1 -> r).toMap
    // seen trigram: S = c3/b12 = 2/2 = 1 -> ln 0
    assert(got(10L) == ((10L, 1L, 0L, Some(0L))), got(10L).toString)
    // backoff to seen bigram: S = 0.4 * b23/u2 = (2*2e12)/(2*5) = 4e11
    val p11 = LnFp.lnMicro(400000000000L, 1000000000000L)
    assert(got(11L)._2 == 1L && got(11L)._3 == p11, got(11L).toString)
    // unseen everywhere: S = 0.16 * (u3+1)/(N+U) = 4e12/250 = 1.6e10
    val p12 = LnFp.lnMicro(16000000000L, 1000000000000L)
    assert(got(12L)._3 == p12, got(12L).toString)
    // under 3 tokens: zero trigrams, NULL average
    assert(got(13L) == ((13L, 0L, 0L, None)), got(13L).toString)
    // the backoff ladder is monotone: seen > backed-off > unigram floor
    assert(0L > p11 && p11 > p12)
  }

  test("bm25PrfRank: expansion surfaces docs the seed query cannot reach") {
    // seed "apple": round 1 feedback = {1, 2}; their shared term "banana"
    // expands the query and pulls in doc 3, which has NO seed term
    val docs = Seq(
      (1L, "apple banana x1 x2"),
      (2L, "apple banana y1 y2"),
      (3L, "banana cherry z1 z2"),
      (4L, "w1 w2 w3 w4")).toDF("doc_id", "text")
    val out = TextOps.bm25PrfRank(docs, "doc_id", "text",
        terms = Seq("apple"), k = 4, fbDocs = 2, fbTerms = 1)
      .as[(Long, Long)].collect()
    val byDoc = out.toMap
    assert(byDoc.contains(3L) && byDoc(3L) > 0L,
      s"expansion must reach doc 3: ${out.mkString(",")}")
    assert(!byDoc.contains(4L), "doc with neither seed nor expansion absent")
    // seed-term docs outrank the expansion-only doc (they score both terms)
    assert(byDoc(1L) > byDoc(3L) && byDoc(2L) > byDoc(3L))
    // integer micro-point scores are summation-order-free: re-run equal
    val again = TextOps.bm25PrfRank(docs, "doc_id", "text",
        terms = Seq("apple"), k = 4, fbDocs = 2, fbTerms = 1)
      .as[(Long, Long)].collect()
    assert(out.toSeq == again.toSeq)
  }

  test("tokenizerFertility: exact byte/word/token counts and ratios by hand") {
    // "ab cd" = 5 bytes, 2 words, 2 bpe-ish tokens; "x, y" = 4 bytes,
    // 2 words, 3 tokens (x | , | y)
    val df = Seq((1L, "en", "ab cd"), (2L, "en", "x, y"), (3L, "de", ""))
      .toDF("doc_id", "lang", "text")
    val out = TextOps.tokenizerFertility(df, "lang", "text")
      .orderBy("lang").collect()
    val de = out(0)
    assert(de.getAs[Long]("n_tokens") == 0L)
    assert(de.isNullAt(de.fieldIndex("bytes_per_token")), "0 tokens -> NULL ratio")
    val en = out(1)
    assert(en.getAs[Long]("n_docs") == 2L)
    assert(en.getAs[Long]("n_bytes") == 9L)
    assert(en.getAs[Long]("n_words") == 4L)
    assert(en.getAs[Long]("n_tokens") == 5L)
    assert(en.getAs[Double]("bytes_per_token") == 1.8)
    assert(en.getAs[Double]("words_per_token") == 0.8)
  }

  test("paragraphDedup: keep-first after whitespace normalization, case significant") {
    val docs = Seq(
      (1L, "a  b|c|a b|A b|c"),   // 'a  b' ~ 'a b' (collapse); 'A b' distinct
      (2L, "x|x|x"),
      (3L, "||a|")                 // empty paragraphs dedup too (keep first)
    ).toDF("doc_id", "text")
    val out = TextOps.paragraphDedup(docs, "doc_id", "text", sep = "|")
      .orderBy("sid").collect()
    assert(out(0).getAs[String]("text_dedup") == "a  b|c|A b")
    assert(out(0).getAs[Long]("n_paras") == 5L)
    assert(out(0).getAs[Long]("n_kept") == 3L)
    assert(out(1).getAs[String]("text_dedup") == "x")
    assert(out(2).getAs[String]("text_dedup") == "|a")
    assert(out(2).getAs[Long]("n_paras") == 4L) // split -1 keeps trailing empty
  }

  test("paragraphDedup reconstruction invariant: no duplicates -> identity") {
    // property over the fixture corpus with a separator that never occurs:
    // one paragraph per doc, rebuilt text must equal the original exactly
    val docs = graft.core.Tables.documents(spark, sf)
    val out = TextOps.paragraphDedup(docs, "doc_id", "text", sep = " ||| ")
      .join(docs, col("sid") === col("doc_id"))
      .select(col("sid"), col("text"), col("text_dedup"), col("n_paras"),
        col("n_kept"))
    assert(out.filter(col("text_dedup") =!= col("text") ||
      col("n_paras") =!= 1L || col("n_kept") =!= 1L).count() == 0L)
    // and with a real separator: rebuilt never longer, kept <= paras, and
    // re-deduplicating the rebuilt text is a fixpoint (idempotence)
    val once = TextOps.paragraphDedup(docs, "doc_id", "text", sep = " ")
    val twice = TextOps.paragraphDedup(
      once.select(col("sid").as("doc_id"), col("text_dedup").as("text")),
      "doc_id", "text", sep = " ")
    val joined = once.select(col("sid"), col("text_dedup").as("t1"))
      .join(twice.select(col("sid"), col("text_dedup").as("t2")), "sid")
    assert(joined.filter(col("t1") =!= col("t2")).count() == 0L)
  }

  test("goodTuring: hand-computed count-of-counts over unigram counts") {
    // counts: a=3, b=2, c=2, d=1, e=1, f=1 -> N_1=3, N_2=2, N_3=1
    val docs = Seq((1L, "a a b c d"), (2L, "a b c e f")).toDF("sid", "text")
    val out = TextOps.goodTuring(docs, "sid", "text", n = 1, maxR = 3L)
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    // r=1: r* = 2*N_2/N_1 = 2*2/3 -> 1333333 micro
    assert(out(1L) == ((1L, 3L, 2L, 1333333L)))
    // r=2: r* = 3*N_3/N_2 = 3*1/2 -> 1500000 micro
    assert(out(2L) == ((2L, 2L, 1L, 1500000L)))
    // r=3: N_4 = 0 -> honest zero
    assert(out(3L) == ((3L, 1L, 0L, 0L)))
  }
}
