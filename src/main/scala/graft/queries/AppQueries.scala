package graft.queries

import graft.QueryDef
import graft.core.{Tables, Timing}
import graft.operators.TextOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-18 surface: the corpus_app composed curation run (VERDICT r17
  * ask #1) and the round's new operators. House conventions throughout:
  * exact integers wherever possible, round(·, 6) where floats are
  * unavoidable, identical column aliases on both sides, and per-registry
  * private SQL helpers (duplicated one-liners over cross-registry
  * visibility — the MiningQueries precedent).
  */
object AppQueries {

  /** Cardinality-neutral guard forcing named output columns under a
    * count()-only action: Bench counts each query's frame, and Catalyst's
    * column pruning + unique-key join elimination would otherwise skip
    * the very work the bench row claims to measure (observed: d37's
    * entire dedup collapsed to a doc count — 0.0 MB shuffle). The
    * predicates are always true, so Verify output and oracle hashes are
    * unchanged; they merely REFERENCE the computed columns so the plan
    * must produce them.
    *
    * Round 19: Bench.forceFrame closed this hole SYSTEMICALLY (the bench
    * action now executes each frame's own physical plan, materializing
    * every output column), so these guards are no longer load-bearing for
    * the bench. They stay because they also pin the columns under any
    * OTHER count-shaped consumer (a user's `.count()` health check pays
    * the computation the name promises) and cost one fused predicate.
    */
  private def forceUnderCount(df: DataFrame, cols: String*): DataFrame =
    df.filter(cols.map(c => col(c).isNotNull).reduce(_ && _))

  /** Mirror of Dedup.hash32 / hash48 (the CorpusQueries twin). */
  private def sqlHash(expr: String, hexChars: Int): String =
    s"CAST(concat('0x', substr(md5($expr), 1, $hexChars)) AS BIGINT)"

  private def sqlList(xs: Seq[String]): String =
    xs.map(s => s"'$s'").mkString(", ")

  /** TextOps.qualityScore twin over an arbitrary text expression (the
    * sqlFunnelF blend, parameterized). */
  private def sqlQuality(c: String): String =
    s"""0.4 * least(1.0, greatest(CAST(len(string_split($c, ' ')) AS DOUBLE), 1.0) / 100.0)
       |     + 0.3 * (1.0 - CAST(len(regexp_extract_all($c, '[^a-z0-9 ]')) AS DOUBLE)
       |         / greatest(CAST(length($c) AS DOUBLE), 1.0))
       |     + 0.3 * least(1.0, 4.0 * CAST(len(list_filter(string_split($c, ' '),
       |           w -> w IN (${sqlList(TextOps.stopwords)}))) AS DOUBLE)
       |         / greatest(CAST(len(string_split($c, ' ')) AS DOUBLE), 1.0))""".stripMargin

  // ---- corpus_app synthesis (shared semantics, two renderings) ----------
  //
  // The fixtures' text is English word-salad for every lang label and has
  // no PII (the t3/t8 lessons: gates over raw fixtures verify nothing), so
  // the composed run synthesizes BOTH discriminators deterministically,
  // identically on the Spark and DuckDB sides:
  //  - language: 4 repetitions of the labeled language's 5 markers,
  //    INTERLEAVED with the doc-unique token "u<doc_id>" — 20 marker hits
  //    out-score any salad's incidental English hits (max observed 14 at
  //    sf0.01), while every synthesized word 3-gram contains u<doc_id>, so
  //    the synthesis can never create cross-document gram overlap that
  //    would poison the decontamination stage (a constant phrase would
  //    mark every same-language doc contaminated);
  //  - PII: the t8 suffixes verbatim (doc_id % 5 ∈ {0,1,2} get
  //    email/url/phone).

  private val SynthReps = 4

  private def synthSqlCase: String = {
    val did = "CAST(doc_id AS VARCHAR)"
    val arms = TextOps.langMarkers.map { case (l, ms) =>
      val one = ms.map(m => s"'$m u' || $did").mkString(" || ' ' || ")
      s"    WHEN '$l' THEN ${Seq.fill(SynthReps)(one).mkString(" || ' ' || ")}"
    }.mkString("\n")
    s"CASE lang\n$arms\n  END"
  }

  private def synthCol: Column = {
    val did = col("doc_id").cast("string")
    TextOps.langMarkers.foldLeft(lit(null).cast("string")) {
      case (acc, (l, ms)) =>
        val pieces: Seq[Column] = (0 until SynthReps).flatMap { r =>
          ms.zipWithIndex.flatMap { case (m, i) =>
            val sep = if (r == 0 && i == 0) "" else " "
            Seq(lit(s"$sep$m u"), did)
          }
        }
        when(col("lang") === l, concat(pieces: _*)).otherwise(acc)
    }
  }

  private val piiSqlCase: String =
    """CASE doc_id % 5
      |    WHEN 0 THEN ' contact bob' || doc_id || '@example.com now'
      |    WHEN 1 THEN ' visit https://site' || doc_id || '.example.org/page'
      |    WHEN 2 THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' today'
      |    ELSE '' END""".stripMargin

  private def piiCol: Column =
    when(col("doc_id") % 5 === 0,
      concat(lit(" contact bob"), col("doc_id").cast("string"),
        lit("@example.com now")))
      .when(col("doc_id") % 5 === 1,
        concat(lit(" visit https://site"), col("doc_id").cast("string"),
          lit(".example.org/page")))
      .when(col("doc_id") % 5 === 2,
        concat(lit(" call 555-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"), lit(" today")))
      .otherwise(lit(""))

  /** d37/d38's synthesized multi-line corpus: constant nav boilerplate +
    * the doc's own salad + a 3-variant footer, newline-joined — one
    * rendering per engine, same bytes.
    */
  private val lineSynthSql: String =
    "'nav home about contact' || chr(10) || text || chr(10) || " +
      "'copyright footer ' || CAST(doc_id % 3 AS VARCHAR)"

  private def lineSynthCol: Column =
    concat(lit("nav home about contact\n"), col("text"),
      lit("\ncopyright footer "), (col("doc_id") % 3).cast("string"))

  /** warc1/warc2's fixture: the documents table laid into 8 multi-member
    * .warc.gz shards with deterministic header fields (fixture-scale
    * driver-side write — the production path streams shards from
    * executors; what's under test is the READER's framing exactness).
    */
  private def writeWarcFixture(s: SparkSession, d: String,
                               cdx: Boolean = false): String = {
    import s.implicits._
    import graft.sources.v2.WarcIo
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().sortBy(_._1)
    val dir = java.nio.file.Files.createTempDirectory("graft-warc1").toString
    (0 until 8).foreach { shard =>
      val recs = docs.filter(_._1 % 8 == shard).map { case (id, text) =>
        WarcIo.Record(
          s"https://host${id % 7}.example.com/doc/$id",
          f"2024-01-${id % 28 + 1}%02dT00:00:00Z",
          if (id % 2 == 0) "response" else "conversion",
          "text/plain",
          text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
      WarcIo.write(s"$dir/part-$shard.warc.gz", recs.toSeq, gzip = true, cdx = cdx)
    }
    dir
  }

  /** d37's full-corpus keep-first oracle — shared VERBATIM by ds12 (the
    * d33/lm8 discipline: the streaming storage path must hash-equal the
    * from-scratch run, so it earns the same oracle, same hash).
    */
  private val lineDedupOracle: String =
    s"""WITH d0 AS (SELECT doc_id, $lineSynthSql AS t2 FROM documents),
       |ln AS (SELECT doc_id, CAST(i - 1 AS INT) AS pos, l[i] AS line
       |  FROM (SELECT doc_id, string_split(t2, chr(10)) AS l FROM d0),
       |    unnest(generate_series(1, len(l))) AS t(i)),
       |rk AS (SELECT doc_id, pos, line,
       |    ROW_NUMBER() OVER (PARTITION BY md5(line)
       |      ORDER BY doc_id, pos) AS rn
       |  FROM ln WHERE length(line) >= 1),
       |keep AS (SELECT doc_id, pos, line FROM rk WHERE rn = 1
       |  UNION ALL SELECT doc_id, pos, line FROM ln WHERE length(line) < 1),
       |nl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lines
       |  FROM ln GROUP BY doc_id),
       |nk AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nkept,
       |    string_agg(line, chr(10) ORDER BY pos) AS td
       |  FROM keep GROUP BY doc_id)
       |SELECT d0.doc_id AS sid, md5(coalesce(td, '')) AS dedup_md5,
       |  n_lines, coalesce(nkept, CAST(0 AS BIGINT)) AS n_kept
       |FROM d0 JOIN nl USING (doc_id) LEFT JOIN nk USING (doc_id)
       |ORDER BY sid""".stripMargin

  /** The langId argmax CASE over marker counts of `c` (the t6 twin). */
  private def sqlLangPred(c: String): String = {
    val scores = TextOps.langMarkers.map { case (l, ms) =>
      s"len(list_filter(string_split($c, ' '), w -> w IN (${sqlList(ms)})))"
    }
    val Seq(en, de, es, fr, zh) = scores
    s"""CASE WHEN $en >= $de AND $en >= $es AND $en >= $fr AND $en >= $zh THEN 'en'
       |     WHEN $de >= $es AND $de >= $fr AND $de >= $zh THEN 'de'
       |     WHEN $es >= $fr AND $es >= $zh THEN 'es'
       |     WHEN $fr >= $zh THEN 'fr' ELSE 'zh' END""".stripMargin
  }

  /** One-row relational spec of the WHOLE CorpusApp flagship run
    * (curate -> decontaminateAndPack): every scalar re-derives through the
    * SQL its stage's own oracle-checked query uses — t6 lang argmax, t2/fn1
    * quality blend, t7 rep_ratio, t8 redaction chain, d10's exact +
    * minhash-LSH-CC dedup, d14's gram-overlap decontamination, pk1's
    * prefix-sum packing — chained over each stage's SURVIVORS instead of
    * `documents`, which is exactly what the app composes.
    */
  private val corpusAppOracle: String = {
    import graft.operators.Dedup
    val sigAggs = (0 until Dedup.NumHashes).map(i =>
      s"  min((${Dedup.hashA(i)} * h + ${Dedup.hashB(i)}) % ${Dedup.MinhashPrime}) AS m$i")
      .mkString(",\n")
    val bandArms = (0 until Dedup.NumBands).map { b =>
      val cols = (0 until Dedup.RowsPerBand)
        .map(r => s"m${b * Dedup.RowsPerBand + r}").mkString(", ")
      s"  SELECT sid, $b AS band, concat_ws('_', $cols) AS bkey FROM sig"
    }.mkString("\n  UNION ALL\n")
    s"""WITH RECURSIVE d0 AS MATERIALIZED (SELECT doc_id,
       |    text || ' ' || $synthSqlCase || $piiSqlCase AS t2
       |  FROM documents),
       |langed AS MATERIALIZED (SELECT doc_id, t2 FROM d0
       |  WHERE (${sqlLangPred("t2")}) IN ('en', 'de')),
       |bg2 AS (SELECT doc_id, w[i] || ' ' || w[i+1] AS g
       |  FROM (SELECT doc_id, string_split(t2, ' ') AS w FROM langed),
       |    unnest(generate_series(1, len(w) - 1)) AS t(i)),
       |rep AS (SELECT doc_id,
       |    1.0 - CAST(COUNT(DISTINCT g) AS DOUBLE) / COUNT(*) AS rep_ratio
       |  FROM bg2 GROUP BY doc_id),
       |qual AS MATERIALIZED (SELECT doc_id, t2,
       |    CAST(len(regexp_split_to_array(trim(t2), '\\s+')) AS BIGINT) AS nt
       |  FROM langed LEFT JOIN rep USING (doc_id)
       |  WHERE (${sqlQuality("t2")}) >= 0.5
       |    AND coalesce(rep_ratio, 0.0) <= 0.95),
       |scr AS MATERIALIZED (SELECT doc_id, nt,
       |    regexp_replace(regexp_replace(regexp_replace(t2,
       |      '${TextOps.urlRe}', '<URL>', 'g'),
       |      '${TextOps.emailRe}', '<EMAIL>', 'g'),
       |      '${TextOps.phoneRe}', '<PHONE>', 'g') AS t3
       |  FROM qual),
       |mw AS (SELECT doc_id, string_split(t3, ' ') AS w FROM scr),
       |sh0 AS (SELECT DISTINCT doc_id AS sid,
       |    w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS gram
       |  FROM mw, unnest(generate_series(1, len(w) - 2)) AS t(i)),
       |sh AS MATERIALIZED (SELECT sid, gram, ${sqlHash("gram", 12)} AS g FROM sh0),
       |sizes AS (SELECT sid, COUNT(*) AS nsh FROM sh GROUP BY sid),
       |h AS (SELECT sid, ${sqlHash("gram", 8)} AS h FROM sh),
       |sig AS (SELECT sid,
       |$sigAggs
       |FROM h GROUP BY sid),
       |bands AS (
       |$bandArms
       |),
       |cand AS (SELECT DISTINCT a.sid AS ida, b.sid AS idb
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bkey = b.bkey AND a.sid < b.sid),
       |inter AS (SELECT ida, idb, COUNT(*) AS n_inter
       |  FROM cand JOIN sh a ON ida = a.sid JOIN sh b ON idb = b.sid AND a.g = b.g
       |  GROUP BY ida, idb),
       |pairs AS (SELECT ida, idb FROM (
       |  SELECT ida, idb,
       |    CAST(n_inter AS DOUBLE) / (sa.nsh + sb.nsh - n_inter) AS jaccard
       |  FROM inter JOIN sizes sa ON ida = sa.sid JOIN sizes sb ON idb = sb.sid
       |) WHERE jaccard >= 0.5),
       |bidir(a, b) AS (SELECT ida, idb FROM pairs UNION SELECT idb, ida FROM pairs),
       |cnodes(x) AS (SELECT DISTINCT a FROM bidir),
       |r(x, y) AS (SELECT x, x FROM cnodes
       |  UNION SELECT r.x, e.b FROM r JOIN bidir e ON e.a = r.y),
       |kept AS MATERIALIZED (SELECT doc_id, nt, t3 FROM scr
       |  WHERE doc_id NOT IN (SELECT x FROM r GROUP BY x HAVING min(y) < x)
       |    AND doc_id NOT IN (
       |      SELECT s.doc_id FROM scr s
       |      JOIN (SELECT md5(t3) AS m, min(doc_id) AS k FROM scr GROUP BY 1) g
       |        ON md5(s.t3) = g.m WHERE s.doc_id <> g.k)),
       |cg AS (SELECT DISTINCT doc_id AS sid,
       |    ${sqlHash("w[i] || ' ' || w[i+1] || ' ' || w[i+2]", 12)} AS g
       |  FROM (SELECT doc_id, string_split(t3, ' ') AS w FROM kept),
       |    unnest(generate_series(1, len(w) - 2)) AS t(i)),
       |bgm AS (SELECT DISTINCT
       |    ${sqlHash("w[i] || ' ' || w[i+1] || ' ' || w[i+2]", 12)} AS g
       |  FROM (SELECT string_split(t2, ' ') AS w FROM d0 WHERE doc_id % 7 = 0),
       |    unnest(generate_series(1, len(w) - 2)) AS t(i)),
       |cont AS (SELECT DISTINCT sid FROM cg JOIN bgm USING (g)),
       |clean AS MATERIALIZED (SELECT doc_id, nt FROM kept
       |  WHERE doc_id NOT IN (SELECT sid FROM cont)),
       |st AS (SELECT CAST(SUM(nt) OVER (ORDER BY doc_id
       |    ROWS UNBOUNDED PRECEDING) - nt AS BIGINT) AS so FROM clean),
       |c_in AS (SELECT CAST(COUNT(*) AS BIGINT) AS input FROM documents),
       |c_lang AS (SELECT CAST(COUNT(*) AS BIGINT) AS lang_kept FROM langed),
       |c_q AS (SELECT CAST(COUNT(*) AS BIGINT) AS quality_kept FROM qual),
       |c_pii AS (SELECT CAST(COUNT(*) AS BIGINT) AS pii_redacted FROM scr
       |  WHERE t3 LIKE '%<EMAIL>%' OR t3 LIKE '%<URL>%' OR t3 LIKE '%<PHONE>%'),
       |c_dd AS (SELECT CAST(COUNT(*) AS BIGINT) AS deduped FROM kept),
       |c_cl AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_clean FROM clean),
       |c_pk AS (SELECT CAST(COUNT(DISTINCT so // 2048) AS BIGINT) AS packs FROM st)
       |SELECT input, lang_kept, quality_kept, pii_redacted, deduped,
       |  deduped - n_clean AS decontaminated, packs
       |FROM c_in, c_lang, c_q, c_pii, c_dd, c_cl, c_pk""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(

    // CORPUS-APP END-TO-END COMPOSITION (CorpusApp.curate +
    // decontaminateAndPack — VERDICT r17 ask #1, the events_app precedent
    // applied to the flagship LLM-curation pipeline): lang filter ->
    // quality + repetition gate -> PII redaction -> exact+near dedup ->
    // benchmark decontamination -> sequence packing, executed during frame
    // construction so the BENCH row measures the real composed cost
    // (checkpoint/cache pressure, the dedup exchange under a live
    // downstream — interference no per-query bench sees). Stage wall-times
    // print to stderr via curate's onStage hook; the verified output is
    // the one-row Stats summary re-derived relationally from the stages'
    // own oracle-checked SQL. Benchmark set = synthesized docs with
    // doc_id % 7 = 0 (the d14 convention), so decontamination includes
    // the self-overlap drops plus genuine salad-gram contamination.
    QueryDef("corpus_app", corpusAppOracle) { (s, d) =>
      import s.implicits._
      val stages = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
      val onStage: (String, Double) => Unit = (n, sec) => stages += (n -> sec)
      val (stats, dropped, packs) = Timing.stage(onStage, "total") {
        val corpus = Tables.documents(s, d).withColumn("text",
          concat(col("text"), lit(" "), synthCol, piiCol))
        val (curated, curateStats) = Timing.stage(onStage, "curate_total")(
          graft.apps.CorpusApp.curate(s, corpus, Set("en", "de"),
            minQuality = 0.5, onStage = onStage))
        val (_, dropped, packs) = Timing.stage(onStage, "decontaminate_pack")(
          graft.apps.CorpusApp.decontaminateAndPack(s, curated,
            corpus.filter(col("doc_id") % 7 === 0), n = 3, packSize = 2048L))
        (curateStats, dropped, packs)
      }
      System.err.println(Timing.stageLine("corpus_app", stages.toSeq))
      Seq((stats.input, stats.langKept, stats.qualityKept, stats.piiRedacted,
          stats.deduped, dropped, packs))
        .toDF("input", "lang_kept", "quality_kept", "pii_redacted",
          "deduped", "decontaminated", "packs")
    },

    // CORPUS-WIDE LINE DEDUP (Dedup.lineDedup — VERDICT r17 ask #3, the
    // CCNet/RefinedWeb stage): the fixtures are single-line word salad, so
    // multi-line docs are synthesized with genuine cross-document
    // boilerplate — a constant nav line (survives once corpus-wide), the
    // doc's own salad (unique except genuine fixture dups), and a footer
    // with 3 rotating variants (each survives once). Keep-first = global
    // min (doc_id, pos) per line; docs rebuilt map-side; md5 of the
    // rebuilt text proves byte-exact reconstruction.
    QueryDef(
      "d37_line_dedup",
      lineDedupOracle) { (s, d) =>
      forceUnderCount(
        graft.operators.Dedup.lineDedup(
            Tables.documents(s, d).withColumn("text", lineSynthCol),
            "doc_id", "text", "\n")
          .select(col("sid"), md5(col("text_dedup")).as("dedup_md5"),
            col("n_lines"), col("n_kept")),
        "dedup_md5", "n_kept")
        .orderBy(col("sid"))
    },

    // INCREMENTAL LINE DEDUP against the persisted bucketed first-holder
    // index (Dedup.writeLineIndex + lineDedupIncremental — the d22/d12
    // discipline): the corpus slice (doc_id % 4 != 0) persists its line
    // winners once; the batch (doc_id % 4 = 0) dedups against
    // index-merged winners. Equal by construction to the full run
    // restricted to batch docs — which is what the oracle computes (the
    // d12 convention: storage layout must not change answers).
    QueryDef(
      "d38_line_dedup_incremental",
      s"""WITH d0 AS (SELECT doc_id, $lineSynthSql AS t2 FROM documents),
         |ln AS (SELECT doc_id, CAST(i - 1 AS INT) AS pos, l[i] AS line
         |  FROM (SELECT doc_id, string_split(t2, chr(10)) AS l FROM d0),
         |    unnest(generate_series(1, len(l))) AS t(i)),
         |rk AS (SELECT doc_id, pos, line,
         |    ROW_NUMBER() OVER (PARTITION BY md5(line)
         |      ORDER BY doc_id, pos) AS rn
         |  FROM ln WHERE length(line) >= 1),
         |keep AS (SELECT doc_id, pos, line FROM rk WHERE rn = 1
         |  UNION ALL SELECT doc_id, pos, line FROM ln WHERE length(line) < 1),
         |nl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lines
         |  FROM ln GROUP BY doc_id),
         |nk AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nkept,
         |    string_agg(line, chr(10) ORDER BY pos) AS td
         |  FROM keep GROUP BY doc_id)
         |SELECT d0.doc_id AS sid, md5(coalesce(td, '')) AS dedup_md5,
         |  n_lines, coalesce(nkept, CAST(0 AS BIGINT)) AS n_kept
         |FROM d0 JOIN nl USING (doc_id) LEFT JOIN nk USING (doc_id)
         |WHERE d0.doc_id % 4 = 0
         |ORDER BY sid""".stripMargin) { (s, d) =>
      val synth = Tables.documents(s, d).withColumn("text", lineSynthCol)
      val batch = synth.filter(col("doc_id") % 4 === 0)
      val corpus = synth.filter(col("doc_id") % 4 =!= 0)
      val table = "graft_line_index_d38_" +
        s.sparkContext.applicationId.replaceAll("[^a-zA-Z0-9]", "_")
      graft.sources.Bucketing.ensureCleanTable(s, table)
      graft.operators.Dedup.writeLineIndex(corpus, "doc_id", "text", "\n",
        minLineChars = 1, table, nBuckets = 8)
      forceUnderCount(
        graft.operators.Dedup.lineDedupIncremental(s, batch, "doc_id",
            "text", "\n", minLineChars = 1, table)
          .select(col("sid"), md5(col("text_dedup")).as("dedup_md5"),
            col("n_lines"), col("n_kept")),
        "dedup_md5", "n_kept")
        .orderBy(col("sid"))
    },

    // WARC CONTAINER SCAN (sources.v2.WarcDataSource — VERDICT r17 ask #4):
    // the documents table is laid into 8 multi-member .warc.gz files (one
    // gzip member per record, the Common Crawl layout — WarcIo.write IS
    // part of the measured query, the d18 convention) and read back
    // through the DSv2 source. The oracle recomputes every header field
    // and the payload md5 straight from `documents`, so header-field
    // parse AND payload-boundary exactness are hash-checked end to end.
    QueryDef(
      "warc1_container_scan",
      """SELECT doc_id,
        |  'https://host' || CAST(doc_id % 7 AS VARCHAR) || '.example.com/doc/' || doc_id AS url,
        |  '2024-01-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') || 'T00:00:00Z' AS warc_date,
        |  CASE WHEN doc_id % 2 = 0 THEN 'response' ELSE 'conversion' END AS record_type,
        |  'text/plain' AS mime,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  md5(text) AS payload_md5
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      val dir = writeWarcFixture(s, d)
      forceUnderCount(
        s.read.format("graft-warc").load(dir)
          .select(
            regexp_extract(col("url"), "/doc/(\\d+)$", 1).cast("long").as("doc_id"),
            col("url"), col("warc_date"), col("record_type"), col("mime"),
            col("content_length").as("n_bytes"),
            md5(col("payload")).as("payload_md5")),
        "payload_md5")
        .orderBy(col("doc_id"))
    },

    // WARC header-only scan: record_type filter pushed into the source and
    // payload never selected — the reader SKIPS payload bytes entirely
    // (the 100 TB header-scan path; WarcSourceSpec asserts the plan).
    // Oracle = the response half of warc1's header fields.
    QueryDef(
      "warc2_header_scan",
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
        |FROM documents WHERE doc_id % 2 = 0 ORDER BY doc_id""".stripMargin) { (s, d) =>
      val dir = writeWarcFixture(s, d)
      forceUnderCount(
        s.read.format("graft-warc").load(dir)
          .filter(col("record_type") === "response")
          .select(
            regexp_extract(col("url"), "/doc/(\\d+)$", 1).cast("long").as("doc_id"),
            col("content_length").as("n_bytes")),
        "n_bytes")
        .orderBy(col("doc_id"))
    },

    // CDX-INDEXED WARC ACCESS (VERDICT r18 ask #5): warc2's header-only
    // scan still gunzips EVERY member to traverse the stream — the format
    // floor SCALING.md names; Common Crawl ships CDX sidecars with
    // (offset, length) per record precisely so readers can SEEK. warc3 =
    // the same fixture with generated .cdx sidecars, read with cdx=true:
    // planning drops non-response members WITHOUT reading them and emits
    // member-run partitions (big files split by cdx_target_bytes); the
    // reader seeks to each member's compressed range. Same oracle as
    // warc2 — the index must not change answers (the d12 storage
    // discipline); the raw-bytes-read reduction vs the scan path is
    // asserted in WarcSourceSpec on a payload-heavy fixture.
    QueryDef(
      "warc3_cdx_scan",
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
        |FROM documents WHERE doc_id % 2 = 0 ORDER BY doc_id""".stripMargin) { (s, d) =>
      val dir = writeWarcFixture(s, d, cdx = true)
      forceUnderCount(
        s.read.format("graft-warc").option("cdx", "true").load(dir)
          .filter(col("record_type") === "response")
          .select(
            regexp_extract(col("url"), "/doc/(\\d+)$", 1).cast("long").as("doc_id"),
            col("content_length").as("n_bytes")),
        "n_bytes")
        .orderBy(col("doc_id"))
    },

    // EXACTLY-ONCE STREAMING LINE-DEDUP INGESTION (Dedup.lineDedupIngestBatch
    // — the ds-series contract on d37): three ascending id-range
    // micro-batches each dedup against the committed index, land rebuilt
    // docs by partition-replace on ingest_batch, and append their winners;
    // batch 1 is REPLAYED after batch 2 landed (the injected retry —
    // counted as orchestration overhead). Ascending ranges make arrival
    // order agree with id order, so the union of landed batches is
    // bit-equal to ONE whole-corpus lineDedup — which is why this query
    // earns d37's oracle VERBATIM (same oracle, same hash: storage and
    // batching must not change answers).
    QueryDef("ds12_line_dedup_ingest", lineDedupOracle) { (s, d) =>
      val synth = Tables.documents(s, d).withColumn("text", lineSynthCol)
      val app = s.sparkContext.applicationId.replaceAll("[^a-zA-Z0-9]", "_")
      val path = s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:") +
        "/graft_lines_ds12_" + app
      val table = "graft_line_index_ds12_" + app
      graft.sources.Bucketing.ensureCleanTable(s, table)
      val cut = synth.agg(max(col("doc_id"))).head().getLong(0) / 3 + 1
      def slice(b: Int) = synth.filter(
        col("doc_id") >= b * cut && col("doc_id") < (b + 1) * cut)
      (0 to 2).foreach { b =>
        graft.operators.Dedup.lineDedupIngestBatch(s, slice(b), b.toLong,
          path, "doc_id", "text", "\n", minLineChars = 1, table, nBuckets = 8)
      }
      // injected retry: batch 1 replays AFTER batch 2 committed — the
      // merged winners now include later batches, and `<=` plus the
      // ascending-range contract must land identical rows
      graft.core.Timing.overhead {
        graft.operators.Dedup.lineDedupIngestBatch(s, slice(1), 1L,
          path, "doc_id", "text", "\n", minLineChars = 1, table, nBuckets = 8)
      }
      forceUnderCount(
        graft.operators.Dedup.servedLineDedup(s, path)
          .select(col("sid"), md5(col("text_dedup")).as("dedup_md5"),
            col("n_lines"), col("n_kept")),
        "dedup_md5", "n_kept")
        .orderBy(col("sid"))
    },

    // CONTAMINATION MATRIX across eval suites (Dedup.contaminationMatrix —
    // the multi-benchmark lift of d14: one corpus pass serves the whole
    // eval battery instead of |suites| re-shingles): suiteA = doc_id % 7
    // docs, suiteB = doc_id % 11 (deliberately overlapping suites), corpus
    // = everything else; genuine overlap comes from the fixtures' planted
    // near-dup families. Oracle = d14's distinct-gram machinery per suite.
    QueryDef(
      "d39_contamination_matrix",
      s"""WITH wds AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |g0 AS (SELECT doc_id,
         |    ${sqlHash("wds.w[i] || ' ' || wds.w[i+1] || ' ' || wds.w[i+2]", 12)} AS g
         |  FROM wds, unnest(generate_series(1, len(w) - 2)) AS t(i)),
         |cg AS (SELECT DISTINCT doc_id AS sid, g FROM g0
         |  WHERE doc_id % 7 <> 0 AND doc_id % 11 <> 0),
         |bg AS (SELECT DISTINCT suite, g FROM (
         |  SELECT 'suiteA' AS suite, g FROM g0 WHERE doc_id % 7 = 0
         |  UNION ALL
         |  SELECT 'suiteB', g FROM g0 WHERE doc_id % 11 = 0)),
         |m AS (SELECT sid, suite, COUNT(*) AS shared
         |  FROM (SELECT DISTINCT sid, suite, cg.g FROM cg JOIN bg USING (g))
         |  GROUP BY 1, 2)
         |SELECT suite, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(shared) AS BIGINT) AS n_gram_hits
         |FROM m WHERE shared >= 1 GROUP BY suite ORDER BY suite""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val corpus = docs.filter(col("doc_id") % 7 =!= 0 && col("doc_id") % 11 =!= 0)
      val suites = docs.filter(col("doc_id") % 7 === 0)
        .withColumn("suite", lit("suiteA"))
        .unionByName(docs.filter(col("doc_id") % 11 === 0)
          .withColumn("suite", lit("suiteB")))
      graft.operators.Dedup.contaminationMatrix(
          corpus, suites, "doc_id", "text", "suite", n = 3)
        .orderBy(col("suite"))
    },

    // LSH S-CURVE CALIBRATION (Dedup.lshCalibration — MMDS ch.3 banding
    // theory measured against the d3 config): the raw fixtures' jaccard
    // distribution is bimodal (near-zero noise + exact dups), so each
    // sample doc gets a PREFIX-TRUNCATED companion at (doc_id%8+2)/10 of
    // its words — jaccard(full, companion) sweeps ~0.1..0.9, populating
    // the s-curve's interesting middle. Ground-truth pairs bucket into 10
    // jaccard bins; per bin the
    // OBSERVED minhash-candidate rate sits next to the theoretical
    // 1-(1-s^4)^8 — the empirical justification of the (b=8, r=4) recall
    // claims every dedup operator rides. One fixed multiplication tree +
    // integer micro-unit sums keep the doubles engine-exact.
    QueryDef(
      "d40_lsh_scurve",
      {
        import graft.operators.Dedup
        val sigAggs = (0 until Dedup.NumHashes).map(i =>
          s"  min((${Dedup.hashA(i)} * h + ${Dedup.hashB(i)}) % ${Dedup.MinhashPrime}) AS m$i")
          .mkString(",\n")
        val bandArms = (0 until Dedup.NumBands).map { b =>
          val cols = (0 until Dedup.RowsPerBand)
            .map(r => s"m${b * Dedup.RowsPerBand + r}").mkString(", ")
          s"  SELECT sid, $b AS band, concat_ws('_', $cols) AS bkey FROM sig"
        }.mkString("\n  UNION ALL\n")
        s"""WITH b0 AS (SELECT doc_id, text FROM documents WHERE doc_id < 100),
           |comp AS (SELECT doc_id + 100000 AS doc_id,
           |    array_to_string(list_slice(string_split(text, ' '), 1,
           |      CAST((len(string_split(text, ' ')) * (doc_id % 8 + 2)) // 10
           |        AS BIGINT)), ' ') AS text
           |  FROM b0),
           |sub AS (SELECT doc_id, text FROM b0
           |  UNION ALL SELECT doc_id, text FROM comp),
           |w AS (SELECT doc_id, string_split(text, ' ') AS w FROM sub),
           |sh0 AS (SELECT DISTINCT doc_id AS sid,
           |    w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS gram
           |  FROM w, unnest(generate_series(1, len(w) - 2)) AS t(i)),
           |sh AS MATERIALIZED (SELECT sid, gram, ${sqlHash("gram", 12)} AS g FROM sh0),
           |sizes AS (SELECT sid, COUNT(*) AS nsh FROM sh GROUP BY sid),
           |inter AS (SELECT a.sid AS ida, b.sid AS idb, COUNT(*) AS n_inter
           |  FROM sh a JOIN sh b ON a.g = b.g AND a.sid < b.sid GROUP BY 1, 2),
           |tp AS (SELECT ida, idb,
           |    CAST(n_inter AS DOUBLE) / (sa.nsh + sb.nsh - n_inter) AS j
           |  FROM inter JOIN sizes sa ON ida = sa.sid JOIN sizes sb ON idb = sb.sid),
           |h AS (SELECT sid, ${sqlHash("gram", 8)} AS h FROM sh),
           |sig AS (SELECT sid,
           |$sigAggs
           |FROM h GROUP BY sid),
           |bands AS (
           |$bandArms
           |),
           |cand AS (SELECT DISTINCT a.sid AS ida, b.sid AS idb
           |  FROM bands a JOIN bands b
           |    ON a.band = b.band AND a.bkey = b.bkey AND a.sid < b.sid),
           |p2 AS (SELECT ida, idb, j, 1 - (j*j)*(j*j) AS y FROM tp),
           |p3 AS (SELECT ida, idb, j,
           |    ((y*y)*(y*y))*((y*y)*(y*y)) AS y8 FROM p2),
           |cal AS (SELECT least(CAST(floor(j * 10) AS BIGINT), CAST(9 AS BIGINT)) AS bin,
           |    CASE WHEN c.ida IS NOT NULL THEN CAST(1 AS BIGINT)
           |         ELSE CAST(0 AS BIGINT) END AS isc,
           |    CAST(round((1 - y8) * 1000000) AS BIGINT) AS pm
           |  FROM p3 LEFT JOIN cand c USING (ida, idb))
           |SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_pairs,
           |  CAST(SUM(isc) AS BIGINT) AS n_candidates,
           |  round(CAST(SUM(isc) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
           |    AS observed_rate,
           |  round(CAST(SUM(pm) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 1000000.0, 6)
           |    AS predicted_rate
           |FROM cal GROUP BY bin ORDER BY bin""".stripMargin
      }) { (s, d) =>
      val base = Tables.documents(s, d).filter(col("doc_id") < 100)
        .select(col("doc_id"), col("text"))
      val nw = size(split(col("text"), " "))
      val k = floor((nw * ((col("doc_id") % 8) + 2)) / 10).cast("int")
      val comp = base.select((col("doc_id") + 100000).as("doc_id"),
        array_join(slice(split(col("text"), " "), lit(1), k), " ").as("text"))
      graft.operators.Dedup.lshCalibration(
          base.unionByName(comp), "doc_id", "text", n = 3)
        .orderBy(col("bin"))
    },

    // ROBOTS-META COMPLIANCE GATE (Html.robotsPolicy — the lawful-crawl
    // stage before curation): seven synthesized page classes exercise both
    // attribute orders, tag/content case, quoting styles INCLUDING fully
    // unquoted content values (ADVICE r18 #2: `content=noindex` is legal
    // HTML and must not slip the gate), the `none` shorthand, and the
    // token-exactness trap (`nosnippet` must not trigger `noindex`'s
    // prefix). Oracle mirrors the two alternation RE2 extracts (quoted
    // group 1, unquoted group 2 — both engines return '' for the
    // non-participating group) + comma-token membership exactly.
    QueryDef(
      "t35_robots_gate",
      s"""WITH h AS (SELECT doc_id,
         |    CASE doc_id % 7
         |      WHEN 0 THEN '<html><head><META NAME="robots" CONTENT="noindex, nofollow"></head><body>' || text || '</body></html>'
         |      WHEN 1 THEN '<html><head><meta content=''nofollow'' name=robots></head><body>' || text || '</body></html>'
         |      WHEN 2 THEN '<html><head><meta name="ROBOTS" content="NONE"></head><body>' || text || '</body></html>'
         |      WHEN 3 THEN '<html><head><meta name="robots" content="nosnippet"></head><body>' || text || '</body></html>'
         |      WHEN 4 THEN '<html><head><meta name=robots content=noindex></head><body>' || text || '</body></html>'
         |      WHEN 5 THEN '<html><head><meta content=noindex,nofollow name=robots></head><body>' || text || '</body></html>'
         |      ELSE '<html><body>' || text || '</body></html>' END AS page
         |  FROM documents),
         |x AS (SELECT doc_id,
         |    regexp_extract(page, '(?is)<meta[^>]*name\\s*=\\s*["'']?robots["'']?[^>]*content\\s*=\\s*(?:["'']([^"''>]*)|([^\\s"''>]+))', 1) AS nf1,
         |    regexp_extract(page, '(?is)<meta[^>]*name\\s*=\\s*["'']?robots["'']?[^>]*content\\s*=\\s*(?:["'']([^"''>]*)|([^\\s"''>]+))', 2) AS nf2,
         |    regexp_extract(page, '(?is)<meta[^>]*content\\s*=\\s*(?:["'']([^"''>]*)["'']|([^\\s"''>]+))[^>]*name\\s*=\\s*["'']?robots["'']?', 1) AS cf1,
         |    regexp_extract(page, '(?is)<meta[^>]*content\\s*=\\s*(?:["'']([^"''>]*)["'']|([^\\s"''>]+))[^>]*name\\s*=\\s*["'']?robots["'']?', 2) AS cf2
         |  FROM h),
         |c AS (SELECT doc_id, lower(CASE WHEN nf <> '' THEN nf ELSE cf END) AS content
         |  FROM (SELECT doc_id,
         |      CASE WHEN nf1 <> '' THEN nf1 ELSE nf2 END AS nf,
         |      CASE WHEN cf1 <> '' THEN cf1 ELSE cf2 END AS cf
         |    FROM x)),
         |t AS (SELECT doc_id,
         |    list_filter(list_transform(string_split(content, ','), x -> trim(x)),
         |      x -> x <> '') AS toks
         |  FROM c)
         |SELECT doc_id,
         |  (list_contains(toks, 'noindex') OR list_contains(toks, 'none')) AS noindex,
         |  (list_contains(toks, 'nofollow') OR list_contains(toks, 'none')) AS nofollow
         |FROM t ORDER BY doc_id""".stripMargin) { (s, d) =>
      val page = when(col("doc_id") % 7 === 0,
          concat(lit("<html><head><META NAME=\"robots\" CONTENT=\"noindex, nofollow\"></head><body>"),
            col("text"), lit("</body></html>")))
        .when(col("doc_id") % 7 === 1,
          concat(lit("<html><head><meta content='nofollow' name=robots></head><body>"),
            col("text"), lit("</body></html>")))
        .when(col("doc_id") % 7 === 2,
          concat(lit("<html><head><meta name=\"ROBOTS\" content=\"NONE\"></head><body>"),
            col("text"), lit("</body></html>")))
        .when(col("doc_id") % 7 === 3,
          concat(lit("<html><head><meta name=\"robots\" content=\"nosnippet\"></head><body>"),
            col("text"), lit("</body></html>")))
        .when(col("doc_id") % 7 === 4,
          concat(lit("<html><head><meta name=robots content=noindex></head><body>"),
            col("text"), lit("</body></html>")))
        .when(col("doc_id") % 7 === 5,
          concat(lit("<html><head><meta content=noindex,nofollow name=robots></head><body>"),
            col("text"), lit("</body></html>")))
        .otherwise(concat(lit("<html><body>"), col("text"), lit("</body></html>")))
      graft.operators.Html.robotsPolicy(
          Tables.documents(s, d).withColumn("page", page), "doc_id", "page")
        .select(col("sid").as("doc_id"), col("noindex"), col("nofollow"))
        .orderBy(col("doc_id"))
    },

    // ROBOTS.TXT GATE (Robots.compiledRules + Robots.gate — round 19: the
    // per-HOST exclusion file, the other half of lawful crawling next to
    // t35's per-page meta tag). Three host classes exercise the RFC 9309
    // machinery: plain `*` group with a longer Allow carved out of a
    // Disallow (the prefix trap: `Allow: /sec1/page1` re-admits page10-12
    // too); a NAMED graftbot group whose presence must suppress the host's
    // `Disallow: /` `*` group entirely (wrongly unioning the groups blocks
    // everything); and a stacked `User-agent: bing` + `User-agent: *` run
    // with an empty `Disallow:` (matches nothing), a lowercase `disallow:`
    // directive, and an ignored `Crawl-delay:`. Decision = longest prefix
    // wins, Allow on ties, no match = allowed — both engines order by the
    // same `plen*2 + allow` key.
    QueryDef(
      "t36_robots_txt_gate",
      s"""WITH hosts AS (SELECT DISTINCT doc_id % 40 AS host FROM documents),
         |rob AS (SELECT host, CASE host % 3
         |    WHEN 0 THEN 'User-agent: *' || chr(10) || 'Disallow: /sec1' || chr(10) || 'Allow: /sec1/page1' || chr(10) || 'Disallow: /sec2' || chr(10) || '# maintained by ops'
         |    WHEN 1 THEN 'User-agent: graftbot' || chr(10) || 'Disallow: /sec4' || chr(10) || 'Allow: /sec4/page1' || chr(10) || 'User-agent: *' || chr(10) || 'Crawl-delay: 5' || chr(10) || 'Disallow: /'
         |    ELSE '# edge cases' || chr(10) || 'User-agent: bing' || chr(10) || 'User-agent: *' || chr(10) || 'Disallow:' || chr(10) || 'disallow: /sec5' || chr(10) || 'Allow: /sec5/page7'
         |  END AS txt FROM hosts),
         |lines0 AS (SELECT host, i AS pos, trim(split_part(l[i], '#', 1)) AS clean
         |  FROM (SELECT host, string_split(txt, chr(10)) AS l FROM rob),
         |       unnest(generate_series(1, len(l))) AS t(i)),
         |parsed AS (SELECT host, pos,
         |    lower(regexp_extract(clean, '^([A-Za-z-]+)\\s*:', 1)) AS d,
         |    trim(regexp_extract(clean, '^[A-Za-z-]+\\s*:(.*)$$', 1)) AS v
         |  FROM lines0 WHERE clean <> ''),
         |flagged AS (SELECT host, pos, d, v,
         |    CASE WHEN d = 'user-agent' AND NOT coalesce(
         |        lag(d = 'user-agent') OVER (PARTITION BY host ORDER BY pos),
         |        FALSE) THEN 1 ELSE 0 END AS rs
         |  FROM parsed WHERE d IN ('user-agent', 'allow', 'disallow')),
         |runs AS (SELECT host, pos, d, v,
         |    CAST(SUM(rs) OVER (PARTITION BY host ORDER BY pos) AS BIGINT) AS run
         |  FROM flagged),
         |agents AS (SELECT DISTINCT host, run, lower(v) AS agent
         |  FROM runs WHERE d = 'user-agent'),
         |rules AS (SELECT host, run, d = 'allow' AS allow, v AS rpath,
         |    CAST(length(v) AS BIGINT) AS plen
         |  FROM runs WHERE d <> 'user-agent' AND v <> ''),
         |named AS (SELECT host, CAST(max(CASE WHEN agent = 'graftbot'
         |      THEN 1 ELSE 0 END) AS INT) AS has_named
         |  FROM agents GROUP BY host),
         |sel AS (SELECT r.host, r.allow, r.rpath, r.plen
         |  FROM rules r JOIN agents a ON a.host = r.host AND a.run = r.run
         |  JOIN named n ON n.host = r.host
         |  WHERE a.agent = CASE WHEN n.has_named = 1 THEN 'graftbot' ELSE '*' END),
         |urls AS (SELECT doc_id AS id, doc_id % 40 AS host,
         |    '/sec' || CAST(doc_id % 7 AS VARCHAR) || '/page' ||
         |    CAST(doc_id % 13 AS VARCHAR) AS path
         |  FROM documents),
         |m AS (SELECT u.id,
         |    arg_max(s.allow, s.plen * 2 + CAST(s.allow AS BIGINT)) AS dec,
         |    max(s.plen) AS best_len
         |  FROM urls u JOIN sel s
         |    ON u.host = s.host AND starts_with(u.path, s.rpath)
         |  GROUP BY u.id)
         |SELECT u.id, u.host, u.path,
         |  coalesce(m.dec, TRUE) AS allowed,
         |  coalesce(m.best_len, 0) AS rule_len
         |FROM urls u LEFT JOIN m ON u.id = m.id ORDER BY u.id""".stripMargin) { (s, d) =>
      val hosts = Tables.documents(s, d)
        .select((col("doc_id") % 40).as("host")).distinct()
      val v0 = "User-agent: *\nDisallow: /sec1\nAllow: /sec1/page1\n" +
        "Disallow: /sec2\n# maintained by ops"
      val v1 = "User-agent: graftbot\nDisallow: /sec4\nAllow: /sec4/page1\n" +
        "User-agent: *\nCrawl-delay: 5\nDisallow: /"
      val v2 = "# edge cases\nUser-agent: bing\nUser-agent: *\nDisallow:\n" +
        "disallow: /sec5\nAllow: /sec5/page7"
      val rob = hosts.withColumn("txt",
        when(col("host") % 3 === 0, lit(v0))
          .when(col("host") % 3 === 1, lit(v1))
          .otherwise(lit(v2)))
      val urls = Tables.documents(s, d).select(col("doc_id").as("id"),
        (col("doc_id") % 40).as("host"),
        concat(lit("/sec"), (col("doc_id") % 7).cast("string"),
          lit("/page"), (col("doc_id") % 13).cast("string")).as("path"))
      graft.operators.Robots.gate(urls,
          graft.operators.Robots.compiledRules(rob, "host", "txt", "graftbot"),
          "id", "host", "path")
        .orderBy(col("id"))
    },

    // SITEMAP PARSE (Robots.parseSitemaps — round 19: the crawl-frontier
    // feed completing the compliance family with t35/t36): per-host
    // sitemaps.org XML with 3-6 <url> entries, parsed BLOCK-WISE so the
    // optional tags can't mis-align — every 4th entry omits <lastmod> and
    // every 3rd-remainder-2 entry omits <changefreq> (the parallel-arrays
    // trap a column-per-regex parse falls into). Both engines synthesize
    // the XML from the same sequence transform and extract with the same
    // RE2 patterns.
    QueryDef(
      "t37_sitemap_scan",
      s"""WITH hosts AS (SELECT DISTINCT doc_id % 40 AS host FROM documents),
         |sm AS (SELECT host, '<urlset>' || array_to_string(
         |    list_transform(generate_series(0, 2 + CAST(host % 4 AS INT)), j ->
         |      '<url><loc>https://h' || CAST(host AS VARCHAR) ||
         |      '.example.com/p' || CAST(j AS VARCHAR) || '</loc>' ||
         |      CASE WHEN j % 4 = 0 THEN '' ELSE '<lastmod>2024-' ||
         |        lpad(CAST(j % 12 + 1 AS VARCHAR), 2, '0') || '-01</lastmod>' END ||
         |      CASE WHEN j % 3 = 0 THEN '<changefreq>daily</changefreq>'
         |           WHEN j % 3 = 1 THEN '<changefreq>weekly</changefreq>'
         |           ELSE '' END || '</url>'), '') || '</urlset>' AS xml
         |  FROM hosts),
         |blocks AS (SELECT host, CAST(i - 1 AS BIGINT) AS pos, b[i] AS block
         |  FROM (SELECT host, regexp_extract_all(xml, '(?s)<url>(.*?)</url>', 1) AS b
         |        FROM sm),
         |       unnest(generate_series(1, len(b))) AS t(i))
         |SELECT host, pos,
         |  regexp_extract(block, '<loc>([^<]*)</loc>', 1) AS loc,
         |  nullif(regexp_extract(block, '<lastmod>([^<]*)</lastmod>', 1), '')
         |    AS lastmod,
         |  nullif(regexp_extract(block, '<changefreq>([^<]*)</changefreq>', 1), '')
         |    AS changefreq
         |FROM blocks ORDER BY host, pos""".stripMargin) { (s, d) =>
      val hosts = Tables.documents(s, d)
        .select((col("doc_id") % 40).as("host")).distinct()
      val entry = (j: Column) => concat(
        lit("<url><loc>https://h"), col("host").cast("string"),
        lit(".example.com/p"), j.cast("string"), lit("</loc>"),
        when(j % 4 === 0, lit("")).otherwise(concat(lit("<lastmod>2024-"),
          lpad((j % 12 + 1).cast("string"), 2, "0"), lit("-01</lastmod>"))),
        when(j % 3 === 0, lit("<changefreq>daily</changefreq>"))
          .when(j % 3 === 1, lit("<changefreq>weekly</changefreq>"))
          .otherwise(lit("")),
        lit("</url>"))
      val sm = hosts.withColumn("xml", concat(lit("<urlset>"),
        array_join(transform(
          sequence(lit(0), (lit(2) + col("host") % 4).cast("int")), entry), ""),
        lit("</urlset>")))
      graft.operators.Robots.parseSitemaps(sm, "host", "xml")
        .orderBy(col("host"), col("pos"))
    },

    // UNICODE FIX (TextOps.fixText / plans.UnicodeFix — VERDICT r17 ask
    // #2, stage-0 text hygiene): the fixtures are pure ASCII (an inert
    // kernel would verify nothing — the t3 lesson), so each doc gets ONE
    // deterministic corruption class by doc_id % 4: cp1252 mojibake
    // ("Ã©â€™" — the double-encoded "é’"), an NFD combining sequence
    // (e + U+0301), raw control bytes (BEL, DEL, C1 NEL), or nothing. The
    // oracle synthesizes the EXPECTED repaired text directly via explicit
    // chr() byte-mapping (repair ∘ corrupt = identity on these classes)
    // and hash-checks md5 + codepoint length — byte-exact repair, not
    // just "looks clean". The mean-word-length columns demonstrate the
    // Gopher-gate interaction (mojibake inflates char counts): both
    // engines compute t11's mwl band over the pre-fix and post-fix text.
    QueryDef(
      "t32_unicode_fix",
      s"""WITH t AS (SELECT doc_id,
         |    text || ' x' || CASE doc_id % 4
         |      WHEN 0 THEN chr(195) || chr(169) || chr(226) || chr(8364) || chr(8482)
         |      WHEN 1 THEN chr(101) || chr(769)
         |      WHEN 2 THEN chr(7) || chr(127) || chr(133)
         |      ELSE '' END || 'y' AS t2,
         |    text || ' x' || CASE doc_id % 4
         |      WHEN 0 THEN chr(233) || chr(8217)
         |      WHEN 1 THEN chr(233)
         |      ELSE '' END || 'y' AS fixed
         |  FROM documents)
         |SELECT doc_id, md5(fixed) AS fixed_md5,
         |  CAST(length(fixed) AS BIGINT) AS n_fixed,
         |  (CAST(length(replace(t2, ' ', '')) AS DOUBLE) /
         |     greatest(CAST(len(string_split(t2, ' ')) AS DOUBLE), 1.0))
         |    BETWEEN 4.0 AND 5.0 AS ok_mwl_before,
         |  (CAST(length(replace(fixed, ' ', '')) AS DOUBLE) /
         |     greatest(CAST(len(string_split(fixed, ' ')) AS DOUBLE), 1.0))
         |    BETWEEN 4.0 AND 5.0 AS ok_mwl_after
         |FROM t ORDER BY doc_id""".stripMargin) { (s, d) =>
      val inj = when(col("doc_id") % 4 === 0, lit("\u00C3\u00A9\u00E2\u20AC\u2122"))
        .when(col("doc_id") % 4 === 1, lit("e\u0301"))
        .when(col("doc_id") % 4 === 2, lit("\u0007\u007F\u0085"))
        .otherwise(lit(""))
      def mwlOk(c: Column): Column = {
        val mwl = length(regexp_replace(c, " ", "")).cast("double") /
          greatest(size(split(c, " ")).cast("double"), lit(1.0))
        mwl >= 4.0 && mwl <= 5.0
      }
      forceUnderCount(
        Tables.documents(s, d)
          .withColumn("t2", concat(col("text"), lit(" x"), inj, lit("y")))
          .withColumn("fixed", TextOps.fixText(col("t2")))
          .select(col("doc_id"), md5(col("fixed")).as("fixed_md5"),
            length(col("fixed")).cast("long").as("n_fixed"),
            mwlOk(col("t2")).as("ok_mwl_before"),
            mwlOk(col("fixed")).as("ok_mwl_after")),
        "fixed_md5")
        .orderBy(col("doc_id"))
    },

    // INSTRUCTION/SFT-PAIR DEDUP (VERDICT r18 ask #7): SFT datasets are
    // (prompt, response) pairs where the LEAKAGE UNIT is the prompt —
    // templated near-dup prompts with exact-duplicate responses are
    // redundant demonstrations (and train/eval contamination once the
    // template varies), while a genuinely different response to a near-dup
    // prompt is a distinct demonstration worth keeping. Composition of
    // existing verified pieces: prompt-side MinHash-LSH + exact-jaccard
    // verify + connected components (d3/d4/d9), response-side d2
    // fingerprint, keep-first policy per (prompt-cluster, response_fp)
    // (the d16 per-cluster discipline). Fixture: families of 3 consecutive
    // ids share one base passage under 3 prompt templates; two of the
    // three share an exact response, the third answers differently — so
    // every family exercises both the drop and the keep branch. The
    // oracle replays the full minhash banding (corpus_app's generated
    // sig/band arms), so cluster membership needs no recall assumption —
    // both engines compute the identical candidate set.
    QueryDef("i1_sft_pair_dedup", sftPairDedupOracle) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
      val base = docs.select(col("doc_id").as("bid"),
        split(col("text"), " ").as("bw"))
      val tmpl = when(col("pair_id") % 3 === 0,
          lit("please summarize the following passage "))
        .when(col("pair_id") % 3 === 1,
          lit("summarize the following passage please "))
        .otherwise(lit("kindly summarize this passage "))
      val resp = when(col("pair_id") % 3 === 2,
        lit("in short it covers ")).otherwise(lit("the passage discusses "))
      val pr = docs.select(col("doc_id").as("pair_id"),
          (col("doc_id") - col("doc_id") % 3).as("bid"))
        .join(base, Seq("bid"))
        .select(col("pair_id"),
          concat(tmpl, array_join(slice(col("bw"), 1, 30), " ")).as("prompt"),
          concat(resp, array_join(slice(col("bw"), 1, 5), " ")).as("response"))
      import graft.operators.Dedup
      val comp = graft.core.Storage.freeingIntermediates(s) {
        Dedup.connectedComponents(
          Dedup.minhashVerifiedPairs(pr, "pair_id", "prompt", 3, 0.5))
      }
      val lab = pr
        .join(comp, col("pair_id") === col("sid"), "left")
        .select(col("pair_id"),
          coalesce(col("component"), col("pair_id")).as("component"),
          TextOps.fingerprint(col("response")).as("response_fp"))
      val w = Window.partitionBy(col("component"), col("response_fp"))
        .orderBy(col("pair_id"))
      lab.select(col("pair_id"), col("component"), col("response_fp"),
          (row_number().over(w) === 1).as("keep"))
        .orderBy(col("pair_id"))
    },

    // PREFERENCE-PAIR DECONTAMINATION (round 19 — the i1 + d14 closure):
    // the leakage unit in RLHF/preference data is the PROMPT — an eval
    // prompt that near-duplicates a training prompt contaminates the
    // comparison even when every response differs, and doc-level d14 can't
    // see it once prompts are templated. Pairs reuse i1's synthesis
    // (family base passage + 3 templates); the eval suite is the
    // doc_id % 17 slice's leading 30-word passages; contamination = any
    // shared word 3-gram, via Dedup.decontaminate (distinct 48-bit gram
    // hashes both sides, eval side broadcast, text never shuffles). Pairs
    // whose base passage IS an eval doc (bid % 51 = 0 ... bid multiple of
    // both 3 and 17) are the planted positives; word-salad gram collisions
    // are the oracle-mirrored noise floor.
    QueryDef("i2_pref_pair_decontaminate", prefPairDecontOracle) { (s, d) =>
      val docs = Tables.documents(s, d)
      val base = docs.select(col("doc_id").as("bid"),
        split(col("text"), " ").as("bw"))
      val tmpl = when(col("pair_id") % 3 === 0,
          lit("please summarize the following passage "))
        .when(col("pair_id") % 3 === 1,
          lit("summarize the following passage please "))
        .otherwise(lit("kindly summarize this passage "))
      val pr = docs.select(col("doc_id").as("pair_id"),
          (col("doc_id") - col("doc_id") % 3).as("bid"))
        .join(base, Seq("bid"))
        .select(col("pair_id"),
          concat(tmpl, array_join(slice(col("bw"), 1, 30), " ")).as("prompt"))
      val ev = docs.filter(col("doc_id") % 17 === 0)
        .select(col("doc_id").as("pair_id"),
          array_join(slice(split(col("text"), " "), 1, 30), " ").as("prompt"))
      val ov = graft.operators.Dedup.decontaminate(pr, ev, "pair_id", "prompt", 3)
      pr.join(ov, col("pair_id") === col("sid"), "left")
        .select(col("pair_id"),
          coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
          col("sid").isNotNull.as("contaminated"))
        .orderBy(col("pair_id"))
    },

    // CONVERSATION STATS + SUFFIX TRUNCATION (Chat.conversationStats —
    // round 19): multi-turn chat accounting ahead of packing — role-aware
    // whitespace-token totals plus the "keep the most recent turns that
    // fit the context window" rule (longest suffix with cumulative tokens
    // <= 48). Conversations are synthesized 4 docs at a time (turn =
    // doc_id % 4, alternating roles, content = the doc's leading
    // 10 + doc_id % 7 words), so kept_turns genuinely varies 2-4. One
    // conv-keyed shuffle; the suffix window's group is the conversation's
    // own bounded turn count.
    QueryDef("i3_conversation_stats", convStatsOracle) { (s, d) =>
      val docs = Tables.documents(s, d)
      val turns = docs.select(
        expr("doc_id div 4").as("conv_id"),
        (col("doc_id") % 4).as("turn"),
        when(col("doc_id") % 2 === 0, lit("user")).otherwise(lit("assistant"))
          .as("role"),
        array_join(slice(split(col("text"), " "), lit(1),
          (lit(10) + col("doc_id") % 7).cast("int")), " ").as("content"))
      graft.operators.Chat.conversationStats(turns, "conv_id", "turn",
          "role", "content", budget = 48L)
        .orderBy(col("conv_id"))
    },

    // PREFERENCE WIN-RATE / LENGTH-MARGIN AUDIT (round 19): the standard
    // reward-data diagnostic — per prompt-template family, how often the
    // chosen response out-scores the rejected one under the t2 quality
    // model, and the mean score margin. Rejected responses are planted in
    // two classes: punctuation-junk 3-word stubs (chosen should win) and,
    // for pair_id % 5 = 0, a clean 40-word passage that legitimately
    // out-scores the short chosen response — so the win rate is a real
    // measurement, not a constant. Scores compare as exact micro-units
    // (CAST(round(q*1e6) AS BIGINT) — the e9 discipline), so the verdict
    // column never touches float ordering; only the two reported rates
    // divide, under the round(·,6) convention.
    QueryDef("i4_preference_audit", preferenceAuditOracle) { (s, d) =>
      val docs = Tables.documents(s, d)
      val base = docs.select(col("doc_id").as("bid"),
        split(col("text"), " ").as("bw"))
      val resp = when(col("pair_id") % 3 === 2,
        lit("in short it covers ")).otherwise(lit("the passage discusses "))
      val pairs = docs.select(col("doc_id").as("pair_id"),
          (col("doc_id") - col("doc_id") % 3).as("bid"))
        .join(base, Seq("bid"))
        .select(col("pair_id"),
          concat(resp, array_join(slice(col("bw"), 1, 5), " ")).as("chosen"),
          when(col("pair_id") % 5 === 0,
            array_join(slice(col("bw"), 1, 40), " "))
            .otherwise(concat(lit("!!! "),
              array_join(slice(col("bw"), 1, 3), " "))).as("rejected"))
      val qc = round(TextOps.qualityScore(col("chosen")) * 1000000)
        .cast("long")
      val qr = round(TextOps.qualityScore(col("rejected")) * 1000000)
        .cast("long")
      pairs
        .select((col("pair_id") % 3).as("family"),
          (qc > qr).cast("long").as("win"), (qc - qr).as("margin_micro"))
        .groupBy(col("family"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("win")).as("n_chosen_wins"),
          round(sum(col("win")).cast("double") /
            count(lit(1)).cast("double"), 6).as("win_rate"),
          round(sum(col("margin_micro")).cast("double") /
            count(lit(1)).cast("double") / 1000000.0, 6).as("mean_margin"))
        .orderBy(col("family"))
    },

    // CONVERSATION-LEVEL EXACT DEDUP (Chat.dedupConversations — round 19):
    // the dedup unit for chat corpora is the whole turn SEQUENCE —
    // doc-level d1/d2 can't see that two conversations are identical once
    // the turns are stored as separate rows, and a role swap must NOT
    // count as a dup (lines render role-tagged). Conversations are
    // synthesized in planted triples (every conv in a family of 3 draws
    // its turn content from the family head's source docs), so fingerprint
    // groups of 3 (boundary partials smaller) with keep-first-by-conv-id
    // are the expected shape. The canonical turn order is re-established
    // INSIDE the aggregate (array_sort over (turn, line)) — collect order
    // is shuffle-dependent.
    QueryDef("i5_conversation_dedup", convDedupOracle) { (s, d) =>
      val docs = Tables.documents(s, d)
      val turns = docs.select(
          expr("doc_id div 4").as("conv_id"),
          (col("doc_id") % 4).as("turn"),
          when(col("doc_id") % 2 === 0, lit("user"))
            .otherwise(lit("assistant")).as("role"),
          expr("(doc_id div 4 - (doc_id div 4) % 3) * 4 + doc_id % 4")
            .as("src_id"))
        .join(docs.select(col("doc_id").as("src_id"),
          col("text").as("src_text")), Seq("src_id"))
        .select(col("conv_id"), col("turn"),
          concat(col("role"), lit(": "),
            array_join(slice(split(col("src_text"), " "), 1, 12), " "))
            .as("line"))
      graft.operators.Chat.dedupConversations(turns, "conv_id", "turn", "line")
        .orderBy(col("conv_id"))
    },

    // SFT CURATION COMPOSED RUN (SftApp.curatePairs — round 19: the
    // corpus_app/web_app discipline for INSTRUCTION data): pair synthesis
    // (i1's fixture) -> prompt-side minhash-LSH dedup with response-exact
    // keep-first (i1) -> prompt-side benchmark decontamination against the
    // doc_id % 17 eval slice (i2) -> two-turn chat render + token
    // accounting -> 256-token sequence packing (pk1's two-level prefix
    // sum) -> per-pack manifest whose id_fp/text_fp hash-check membership
    // AND the exact rendered bytes. Every stage is an oracle-checked
    // operator; this row checks their INTERACTION (dedup survivors feeding
    // the anti-join, the packer consuming the post-gate order). Stage
    // wall-split + stage counts print to stderr; bookkeeping is ONE
    // tagged-union aggregate.
    QueryDef("sft_app", sftAppOracle) { (s, d) =>
      val stages = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
      val docs = Tables.documents(s, d)
      val base = docs.select(col("doc_id").as("bid"),
        split(col("text"), " ").as("bw"))
      val tmpl = when(col("pair_id") % 3 === 0,
          lit("please summarize the following passage "))
        .when(col("pair_id") % 3 === 1,
          lit("summarize the following passage please "))
        .otherwise(lit("kindly summarize this passage "))
      val resp = when(col("pair_id") % 3 === 2,
        lit("in short it covers ")).otherwise(lit("the passage discusses "))
      val pr = docs.select(col("doc_id").as("pair_id"),
          (col("doc_id") - col("doc_id") % 3).as("bid"))
        .join(base, Seq("bid"))
        .select(col("pair_id"),
          concat(tmpl, array_join(slice(col("bw"), 1, 30), " ")).as("prompt"),
          concat(resp, array_join(slice(col("bw"), 1, 5), " ")).as("response"))
      val ev = docs.filter(col("doc_id") % 17 === 0)
        .select(col("doc_id"),
          array_join(slice(split(col("text"), " "), 1, 30), " ").as("etext"))
      val (manifest, stats) = graft.apps.SftApp.curatePairs(s, pr, ev,
        onStage = (n, sec) => stages += (n -> sec))
      System.err.println(Timing.stageLine("sft_app", stages.toSeq) +
        s" | pairs=${stats.pairs} after_dedup=${stats.afterDedup}" +
        s" after_decontam=${stats.afterDecontam} packs=${stats.packs}")
      manifest.orderBy(col("pack_id"))
    }
  )

  /** sft_app's oracle: i1's synthesis + dedup chain through keep-first,
    * i2's gram decontamination as an anti-join, the chat render + pk1
    * global prefix-sum packing, and the per-pack manifest rollup.
    */
  private lazy val sftAppOracle: String = {
    import graft.operators.Dedup
    val sigAggs = (0 until Dedup.NumHashes).map(i =>
      s"  min((${Dedup.hashA(i)} * h + ${Dedup.hashB(i)}) % ${Dedup.MinhashPrime}) AS m$i")
      .mkString(",\n")
    val bandArms = (0 until Dedup.NumBands).map { b =>
      val cols = (0 until Dedup.RowsPerBand)
        .map(r => s"m${b * Dedup.RowsPerBand + r}").mkString(", ")
      s"  SELECT sid, $b AS band, concat_ws('_', $cols) AS bkey FROM sig"
    }.mkString("\n  UNION ALL\n")
    s"""WITH RECURSIVE pr AS MATERIALIZED (SELECT d.doc_id AS pair_id,
       |    CASE d.doc_id % 3
       |      WHEN 0 THEN 'please summarize the following passage '
       |      WHEN 1 THEN 'summarize the following passage please '
       |      ELSE 'kindly summarize this passage ' END ||
       |    array_to_string(list_slice(string_split(b.text, ' '), 1, 30), ' ') AS prompt,
       |    CASE WHEN d.doc_id % 3 = 2 THEN 'in short it covers '
       |         ELSE 'the passage discusses ' END ||
       |    array_to_string(list_slice(string_split(b.text, ' '), 1, 5), ' ') AS response
       |  FROM documents d JOIN documents b ON b.doc_id = d.doc_id - d.doc_id % 3),
       |pw AS (SELECT pair_id AS sid, string_split(prompt, ' ') AS w FROM pr),
       |sh0 AS (SELECT DISTINCT sid, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS gram
       |  FROM pw, unnest(generate_series(1, len(w) - 2)) AS t(i)),
       |sh AS MATERIALIZED (SELECT sid, gram, ${sqlHash("gram", 12)} AS g FROM sh0),
       |sizes AS (SELECT sid, COUNT(*) AS nsh FROM sh GROUP BY sid),
       |h AS (SELECT sid, ${sqlHash("gram", 8)} AS h FROM sh),
       |sig AS (SELECT sid,
       |$sigAggs
       |FROM h GROUP BY sid),
       |bands AS (
       |$bandArms
       |),
       |cand AS (SELECT DISTINCT a.sid AS ida, b.sid AS idb
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bkey = b.bkey AND a.sid < b.sid),
       |inter AS (SELECT ida, idb, COUNT(*) AS n_inter
       |  FROM cand JOIN sh a ON ida = a.sid JOIN sh b ON idb = b.sid AND a.g = b.g
       |  GROUP BY ida, idb),
       |vp AS (SELECT ida, idb FROM (
       |  SELECT ida, idb,
       |    CAST(n_inter AS DOUBLE) / (sa.nsh + sb.nsh - n_inter) AS jaccard
       |  FROM inter JOIN sizes sa ON ida = sa.sid JOIN sizes sb ON idb = sb.sid
       |) WHERE jaccard >= 0.5),
       |bidir(a, b) AS (SELECT ida, idb FROM vp UNION SELECT idb, ida FROM vp),
       |cnodes(x) AS (SELECT DISTINCT a FROM bidir),
       |r(x, y) AS (SELECT x, x FROM cnodes
       |  UNION SELECT r.x, e.b FROM r JOIN bidir e ON e.a = r.y),
       |comp AS (SELECT x AS sid, min(y) AS component FROM r GROUP BY x),
       |lab AS (SELECT pr.pair_id,
       |    coalesce(comp.component, pr.pair_id) AS component,
       |    md5(lower(regexp_replace(response, '\\s+', ' ', 'g'))) AS response_fp
       |  FROM pr LEFT JOIN comp ON pr.pair_id = comp.sid),
       |keep AS MATERIALIZED (SELECT p.pair_id, p.prompt, p.response
       |  FROM (SELECT pair_id,
       |      ROW_NUMBER() OVER (PARTITION BY component, response_fp
       |        ORDER BY pair_id) AS rn
       |    FROM lab) l JOIN pr p ON p.pair_id = l.pair_id WHERE l.rn = 1),
       |ew AS (SELECT list_slice(string_split(text, ' '), 1, 30) AS w
       |  FROM documents WHERE doc_id % 17 = 0),
       |eg AS MATERIALIZED (SELECT DISTINCT
       |    ${sqlHash("w[i] || ' ' || w[i+1] || ' ' || w[i+2]", 12)} AS g
       |  FROM ew, unnest(generate_series(1, len(w) - 2)) AS t(i)),
       |kw AS (SELECT pair_id, string_split(prompt, ' ') AS w FROM keep),
       |bad AS (SELECT DISTINCT pair_id FROM (
       |    SELECT DISTINCT pair_id,
       |      ${sqlHash("w[i] || ' ' || w[i+1] || ' ' || w[i+2]", 12)} AS g
       |    FROM kw, unnest(generate_series(1, len(w) - 2)) AS t(i))
       |  WHERE g IN (SELECT g FROM eg)),
       |clean AS (SELECT * FROM keep
       |  WHERE pair_id NOT IN (SELECT pair_id FROM bad)),
       |tt AS (SELECT pair_id,
       |    'user: ' || prompt || chr(10) || 'assistant: ' || response AS chat,
       |    CAST(len(regexp_split_to_array(trim(prompt), '\\s+'))
       |       + len(regexp_split_to_array(trim(response), '\\s+'))
       |       + 4 AS BIGINT) AS n_tokens
       |  FROM clean),
       |st AS (SELECT pair_id, chat, n_tokens,
       |    CAST(SUM(n_tokens) OVER (ORDER BY pair_id ROWS UNBOUNDED PRECEDING)
       |      - n_tokens AS BIGINT) AS so
       |  FROM tt)
       |SELECT so // 256 AS pack_id, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       |  CAST(SUM(${sqlHash("CAST(pair_id AS VARCHAR)", 12)}) AS BIGINT) AS id_fp,
       |  CAST(SUM(${sqlHash("md5(chat)", 12)}) AS BIGINT) AS text_fp
       |FROM st GROUP BY pack_id ORDER BY pack_id""".stripMargin
  }

  /** i2's oracle: i1's prompt synthesis, distinct 48-bit 3-gram hashes on
    * both sides, semi-join overlap count, left-join verdict per pair.
    */
  private lazy val prefPairDecontOracle: String =
    s"""WITH pr AS MATERIALIZED (SELECT d.doc_id AS pair_id,
       |    CASE d.doc_id % 3
       |      WHEN 0 THEN 'please summarize the following passage '
       |      WHEN 1 THEN 'summarize the following passage please '
       |      ELSE 'kindly summarize this passage ' END ||
       |    array_to_string(list_slice(string_split(b.text, ' '), 1, 30), ' ') AS prompt
       |  FROM documents d JOIN documents b ON b.doc_id = d.doc_id - d.doc_id % 3),
       |ew AS (SELECT list_slice(string_split(text, ' '), 1, 30) AS w
       |  FROM documents WHERE doc_id % 17 = 0),
       |eg AS MATERIALIZED (SELECT DISTINCT
       |    ${sqlHash("w[i] || ' ' || w[i+1] || ' ' || w[i+2]", 12)} AS g
       |  FROM ew, unnest(generate_series(1, len(w) - 2)) AS t(i)),
       |pw AS (SELECT pair_id, string_split(prompt, ' ') AS w FROM pr),
       |pg AS (SELECT DISTINCT pair_id AS sid,
       |    ${sqlHash("w[i] || ' ' || w[i+1] || ' ' || w[i+2]", 12)} AS g
       |  FROM pw, unnest(generate_series(1, len(w) - 2)) AS t(i)),
       |ov AS (SELECT sid, CAST(COUNT(*) AS BIGINT) AS n_overlap
       |  FROM pg WHERE g IN (SELECT g FROM eg) GROUP BY sid)
       |SELECT p.pair_id, coalesce(o.n_overlap, 0) AS n_overlap,
       |  o.sid IS NOT NULL AS contaminated
       |FROM pr p LEFT JOIN ov o ON p.pair_id = o.sid
       |ORDER BY p.pair_id""".stripMargin

  /** i3's oracle: the same turn synthesis, a per-conv suffix running sum
    * (turn DESC), and the role-aware rollup with the budget-48 suffix keep.
    */
  private lazy val convStatsOracle: String =
    """WITH t AS (SELECT doc_id // 4 AS conv_id, doc_id % 4 AS turn,
      |    CASE WHEN doc_id % 2 = 0 THEN 'user' ELSE 'assistant' END AS role,
      |    array_to_string(list_slice(string_split(text, ' '), 1,
      |      CAST(10 + doc_id % 7 AS INT)), ' ') AS content
      |  FROM documents),
      |k AS (SELECT conv_id, turn, role,
      |    CAST(len(string_split(content, ' ')) AS BIGINT) AS tk FROM t),
      |sfx AS (SELECT conv_id, role, tk,
      |    CAST(SUM(tk) OVER (PARTITION BY conv_id ORDER BY turn DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sfx
      |  FROM k)
      |SELECT conv_id, CAST(COUNT(*) AS BIGINT) AS n_turns,
      |  CAST(SUM(CASE WHEN role = 'user' THEN tk ELSE CAST(0 AS BIGINT) END)
      |    AS BIGINT) AS user_tokens,
      |  CAST(SUM(CASE WHEN role = 'assistant' THEN tk ELSE CAST(0 AS BIGINT) END)
      |    AS BIGINT) AS assistant_tokens,
      |  CAST(SUM(tk) AS BIGINT) AS total_tokens,
      |  CAST(SUM(CASE WHEN sfx <= 48 THEN 1 ELSE 0 END) AS BIGINT) AS kept_turns,
      |  coalesce(max(CASE WHEN sfx <= 48 THEN sfx END), 0) AS kept_tokens
      |FROM sfx GROUP BY conv_id ORDER BY conv_id""".stripMargin

  /** i4's oracle: pair synthesis with the two rejected classes, the t2
    * quality twin on both sides in exact micro-units, family rollup.
    */
  private lazy val preferenceAuditOracle: String =
    s"""WITH base AS (SELECT d.doc_id AS pair_id,
       |    CASE WHEN d.doc_id % 3 = 2 THEN 'in short it covers '
       |         ELSE 'the passage discusses ' END ||
       |    array_to_string(list_slice(string_split(b.text, ' '), 1, 5), ' ') AS chosen,
       |    CASE WHEN d.doc_id % 5 = 0
       |         THEN array_to_string(list_slice(string_split(b.text, ' '), 1, 40), ' ')
       |         ELSE '!!! ' ||
       |           array_to_string(list_slice(string_split(b.text, ' '), 1, 3), ' ')
       |    END AS rejected
       |  FROM documents d JOIN documents b ON b.doc_id = d.doc_id - d.doc_id % 3),
       |q AS (SELECT pair_id % 3 AS family,
       |    CAST(round((${sqlQuality("chosen")}) * 1000000) AS BIGINT) AS qc,
       |    CAST(round((${sqlQuality("rejected")}) * 1000000) AS BIGINT) AS qr
       |  FROM base)
       |SELECT family, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       |  CAST(SUM(CASE WHEN qc > qr THEN 1 ELSE 0 END) AS BIGINT) AS n_chosen_wins,
       |  round(CAST(SUM(CASE WHEN qc > qr THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(COUNT(*) AS DOUBLE), 6) AS win_rate,
       |  round(CAST(SUM(qc - qr) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
       |    / 1000000.0, 6) AS mean_margin
       |FROM q GROUP BY family ORDER BY family""".stripMargin

  /** i5's oracle: the planted-triple conversation synthesis, turn-ordered
    * role-tagged rendering via string_agg(... ORDER BY turn), md5
    * fingerprint, keeper = min conv id per group.
    */
  private lazy val convDedupOracle: String =
    """WITH c AS (SELECT doc_id // 4 AS conv_id, doc_id % 4 AS turn,
      |    CASE WHEN doc_id % 2 = 0 THEN 'user' ELSE 'assistant' END AS role,
      |    (doc_id // 4 - (doc_id // 4) % 3) * 4 + doc_id % 4 AS src_id
      |  FROM documents),
      |t AS (SELECT conv_id, turn, role || ': ' ||
      |    array_to_string(list_slice(string_split(b.text, ' '), 1, 12), ' ') AS line
      |  FROM c JOIN documents b ON b.doc_id = c.src_id),
      |r AS (SELECT conv_id,
      |    md5(string_agg(line, chr(10) ORDER BY turn)) AS conv_fp
      |  FROM t GROUP BY conv_id),
      |g AS (SELECT conv_fp, min(conv_id) AS keeper,
      |    CAST(COUNT(*) AS BIGINT) AS group_size
      |  FROM r GROUP BY conv_fp)
      |SELECT r.conv_id, r.conv_fp, r.conv_id = g.keeper AS keep, g.group_size
      |FROM r JOIN g ON r.conv_fp = g.conv_fp ORDER BY r.conv_id""".stripMargin

  /** i1's oracle: pair synthesis (family base passage + 3 templates), the
    * generated minhash sig/band arms over PROMPT shingles, exact-jaccard
    * verify at 0.5, recursive min-id components, d2 response fingerprint,
    * keep-first per (component, response_fp).
    */
  private lazy val sftPairDedupOracle: String = {
    import graft.operators.Dedup
    val sigAggs = (0 until Dedup.NumHashes).map(i =>
      s"  min((${Dedup.hashA(i)} * h + ${Dedup.hashB(i)}) % ${Dedup.MinhashPrime}) AS m$i")
      .mkString(",\n")
    val bandArms = (0 until Dedup.NumBands).map { b =>
      val cols = (0 until Dedup.RowsPerBand)
        .map(r => s"m${b * Dedup.RowsPerBand + r}").mkString(", ")
      s"  SELECT sid, $b AS band, concat_ws('_', $cols) AS bkey FROM sig"
    }.mkString("\n  UNION ALL\n")
    s"""WITH RECURSIVE pr AS MATERIALIZED (SELECT d.doc_id AS pair_id,
       |    CASE d.doc_id % 3
       |      WHEN 0 THEN 'please summarize the following passage '
       |      WHEN 1 THEN 'summarize the following passage please '
       |      ELSE 'kindly summarize this passage ' END ||
       |    array_to_string(list_slice(string_split(b.text, ' '), 1, 30), ' ') AS prompt,
       |    CASE WHEN d.doc_id % 3 = 2 THEN 'in short it covers '
       |         ELSE 'the passage discusses ' END ||
       |    array_to_string(list_slice(string_split(b.text, ' '), 1, 5), ' ') AS response
       |  FROM documents d JOIN documents b ON b.doc_id = d.doc_id - d.doc_id % 3),
       |pw AS (SELECT pair_id AS sid, string_split(prompt, ' ') AS w FROM pr),
       |sh0 AS (SELECT DISTINCT sid, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS gram
       |  FROM pw, unnest(generate_series(1, len(w) - 2)) AS t(i)),
       |sh AS MATERIALIZED (SELECT sid, gram, ${sqlHash("gram", 12)} AS g FROM sh0),
       |sizes AS (SELECT sid, COUNT(*) AS nsh FROM sh GROUP BY sid),
       |h AS (SELECT sid, ${sqlHash("gram", 8)} AS h FROM sh),
       |sig AS (SELECT sid,
       |$sigAggs
       |FROM h GROUP BY sid),
       |bands AS (
       |$bandArms
       |),
       |cand AS (SELECT DISTINCT a.sid AS ida, b.sid AS idb
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bkey = b.bkey AND a.sid < b.sid),
       |inter AS (SELECT ida, idb, COUNT(*) AS n_inter
       |  FROM cand JOIN sh a ON ida = a.sid JOIN sh b ON idb = b.sid AND a.g = b.g
       |  GROUP BY ida, idb),
       |vp AS (SELECT ida, idb FROM (
       |  SELECT ida, idb,
       |    CAST(n_inter AS DOUBLE) / (sa.nsh + sb.nsh - n_inter) AS jaccard
       |  FROM inter JOIN sizes sa ON ida = sa.sid JOIN sizes sb ON idb = sb.sid
       |) WHERE jaccard >= 0.5),
       |bidir(a, b) AS (SELECT ida, idb FROM vp UNION SELECT idb, ida FROM vp),
       |cnodes(x) AS (SELECT DISTINCT a FROM bidir),
       |r(x, y) AS (SELECT x, x FROM cnodes
       |  UNION SELECT r.x, e.b FROM r JOIN bidir e ON e.a = r.y),
       |comp AS (SELECT x AS sid, min(y) AS component FROM r GROUP BY x),
       |lab AS (SELECT pr.pair_id,
       |    coalesce(comp.component, pr.pair_id) AS component,
       |    md5(lower(regexp_replace(response, '\\s+', ' ', 'g'))) AS response_fp
       |  FROM pr LEFT JOIN comp ON pr.pair_id = comp.sid)
       |SELECT pair_id, component, response_fp,
       |  ROW_NUMBER() OVER (PARTITION BY component, response_fp
       |    ORDER BY pair_id) = 1 AS keep
       |FROM lab ORDER BY pair_id""".stripMargin
  }
}
