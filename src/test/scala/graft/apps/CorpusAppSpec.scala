package graft.apps

import graft.SparkSpec
import org.apache.spark.sql.functions._

class CorpusAppSpec extends SparkSpec {
  import spark.implicits._

  test("curate: language filter, quality gate, dedup, metadata columns") {
    val docs = graft.core.Tables.documents(spark, sf)
    val (curated, stats) = CorpusApp.curate(spark, docs,
      keepLangs = Set("en", "de", "es", "fr", "zh"), minQuality = 0.0)
    // permissive gates: only dedup removes rows
    assert(stats.input == 500 && stats.langKept == 500 && stats.qualityKept == 500)
    assert(stats.deduped <= stats.qualityKept)
    assert(curated.columns.toSet.contains("n_tokens"))
    assert(curated.columns.toSet.contains("quality"))
    // kept docs are unique by fingerprint
    val n = curated.count()
    assert(curated.select("fp").distinct().count() == n)
  }

  test("curate: strict quality gate actually drops rows") {
    val docs = graft.core.Tables.documents(spark, sf)
    val (_, stats) = CorpusApp.curate(spark, docs,
      keepLangs = Set("en", "de", "es", "fr", "zh"), minQuality = 0.9)
    assert(stats.qualityKept < stats.langKept)
  }

  test("decontaminateAndPack: benchmark overlaps dropped, survivors packed contiguously") {
    val docs = graft.core.Tables.documents(spark, sf)
    val (curated, _) = CorpusApp.curate(spark, docs,
      keepLangs = Set("en", "de", "es", "fr", "zh"), minQuality = 0.0)
    // benchmark = the first curated doc's text: that doc (and its near-kin)
    // must be dropped as contaminated
    val first = curated.orderBy($"doc_id").limit(1)
      .select($"doc_id", $"text").collect()(0)
    val benchmark = Seq((9999L, first.getString(1))).toDF("doc_id", "text")
    val (packed, dropped, packs) =
      CorpusApp.decontaminateAndPack(spark, curated, benchmark, n = 3, packSize = 256)
    assert(dropped >= 1, "the benchmark-identical doc must be dropped")
    assert(!packed.select("doc_id").as[Long].collect().contains(first.getLong(0)))
    assert(packs >= 1)
    // packing invariant: total tokens == last start_offset + its n_tokens
    val agg = packed.agg(
      sum($"n_tokens").as("tot"), max($"start_offset" + $"n_tokens").as("hi"))
      .collect()(0)
    assert(agg.getLong(0) == agg.getLong(1))
  }

  test("curate: repetition gate drops boilerplate; PII is scrubbed before dedup") {
    val docs = Seq(
      (1L, "the quick brown fox jumped over the lazy dog and ran far away home", "en", 60L),
      (2L, "spam spam spam spam spam spam spam spam spam spam spam spam", "en", 50L),
      (3L, "the quick brown fox mail me at bob@example.com for the offer today ok", "en", 60L)
    ).toDF("doc_id", "text", "lang", "n_chars")
    val (curated, stats) = CorpusApp.curate(spark, docs,
      keepLangs = Set("en"), minQuality = 0.0, maxRepetition = 0.5)
    val kept = curated.select("doc_id").as[Long].collect().toSet
    assert(!kept.contains(2L), "repeated boilerplate must be dropped")
    assert(stats.piiRedacted == 1)
    val t3 = curated.filter($"doc_id" === 3L).select("text").as[String].collect()(0)
    assert(t3.contains("<EMAIL>") && !t3.contains("bob@example.com"))
  }

  test("curate htmlInput: raw-HTML corpus is main-content extracted first") {
    // the t25/fn4 markup shape: nav-of-anchors boilerplate, a too-short
    // block, the real text, a link-heavy trailer — around REAL corpus text
    val docs = graft.core.Tables.documents(spark, sf)
    val html = concat(
      lit("<div><nav><a href=\"/\">homepage navigation links</a> " +
        "<a href=\"/x\">all archive sections here</a></nav><p>"), $"text",
      lit("</p><p>tiny</p><p>Read <a href=\"/y\">details</a> here.</p></div>"))
    val rawDocs = docs.withColumn("text", html)
    val langs = Set("en", "de", "fr", "es", "zh")
    // raw HTML without extraction: the tag-glued tokens and anchor
    // boilerplate gut the language/quality gates (the fn4 argument)
    val (_, rawStats) = CorpusApp.curate(spark, rawDocs, langs, minQuality = 0.5)
    // with htmlInput: extraction recovers the organic text and the
    // downstream gates behave like the clean-text run
    val (curated, stats) = CorpusApp.curate(spark, rawDocs, langs,
      minQuality = 0.5, htmlInput = true)
    val (cleanCurated, cleanStats) = CorpusApp.curate(spark, docs, langs,
      minQuality = 0.5)
    assert(stats.input == 500 && stats.cleaned == 500, stats.toString)
    assert(cleanStats.cleaned == cleanStats.input, "clean path: cleaned == input")
    assert(stats.qualityKept > rawStats.qualityKept,
      s"extraction must recover docs: html=$stats raw=$rawStats")
    // the curated text is the visible main content: no markup survives
    val texts = curated.select("text").as[String].collect()
    assert(texts.nonEmpty && texts.forall(t => !t.contains("<div>") &&
      !t.contains("homepage navigation")))
    // and the recovered corpus curates to the same size as clean text
    assert(math.abs(stats.deduped - cleanStats.deduped) <= 5,
      s"html=${stats.deduped} clean=${cleanStats.deduped}")
    // pure-boilerplate docs (no block survives) drop at the cleaned stage
    val boiler = Seq((1L, "<nav><a href=\"/\">only links here</a></nav>", "en", 10L))
      .toDF("doc_id", "text", "lang", "n_chars")
    val (_, bStats) = CorpusApp.curate(spark, boiler, Set("en"),
      minQuality = 0.0, htmlInput = true)
    assert(bStats.input == 1 && bStats.cleaned == 0, bStats.toString)
  }
}
