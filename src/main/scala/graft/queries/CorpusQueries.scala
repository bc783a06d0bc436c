package graft.queries

import graft.QueryDef
import graft.core.{Tables, Timing}
import graft.operators.{AnnIndex, Dedup, FtsIndex, Html, Multimodal, Quality, Similarity, TextOps}
import org.apache.spark.sql.functions._

/** LLM-data-pipeline operators (dedup, similarity search, text analysis,
  * multimodal) over the `documents` / `embeddings` tables, each with a
  * DuckDB oracle generated from the SAME constants as the Spark
  * implementation — hash functions, minhash permutation params, band
  * layout, stopword lists, score weights — so both sides are one source of
  * truth apart.
  */
object CorpusQueries {

  // ---- shared oracle SQL fragments ----------------------------------------

  /** Word n-gram shingle CTEs (mirror of Dedup.wordShingles, n=3); `g` is
    * the 48-bit gram hash the intersection joins key on (mirror of the
    * engine's 8-byte-shuffle-key discipline).
    */
  private val shingleCtes =
    """w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |sh0 AS (SELECT DISTINCT doc_id AS sid, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS gram
      |  FROM w, unnest(generate_series(1, len(w) - 2)) AS t(i)),
      |sh AS (SELECT sid, gram,
      |  CAST(concat('0x', substr(md5(gram), 1, 12)) AS BIGINT) AS g FROM sh0),
      |sizes AS (SELECT sid, COUNT(*) AS nsh FROM sh GROUP BY sid)""".stripMargin

  /** Mirror of Dedup.hash32 / hash48. */
  private def sqlHash(expr: String, hexChars: Int): String =
    s"CAST(concat('0x', substr(md5($expr), 1, $hexChars)) AS BIGINT)"

  /** Visible text of an HTML fragment — the EXACT semantics of the native
    * [[graft.plans.HtmlStrip]] kernel: strip `<[^>]*>` spans, then decode
    * entities in ONE tokenize-and-transform pass (the five named entities
    * plus in-range numeric character references — see HtmlStrip's
    * scaladoc for the range/digit-run rules). The tokenizer regex is
    * lossless (every char lands in exactly one token, entities before the
    * bare `&` alternative) and the transform never rescans decoded
    * output, mirroring the kernel's single pass. Shared by t25 and fn4 so
    * engine and oracle can never drift.
    */
  private def sqlHtmlVis(frag: String): String = {
    val dec = "CAST(substr(t, 3, len(t) - 3) AS BIGINT)"
    val hexDigits =
      "regexp_extract_all(lower(substr(t, 4, len(t) - 4)), '[0-9a-f]')"
    val hexVal = s"list_reduce(list_transform($hexDigits, " +
      "c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), " +
      "(a, b) -> a * 16 + b)"
    val tokRe = "&lt;|&gt;|&quot;|&nbsp;|&amp;|" +
      "&#[0-9]{1,7};|&#[xX][0-9a-fA-F]{1,6};|&|[^&]+"
    s"""coalesce(list_aggregate(list_transform(
       |      regexp_extract_all(regexp_replace($frag, '<[^>]*>', '', 'g'), '$tokRe'),
       |      t -> CASE WHEN t = '&lt;' THEN '<' WHEN t = '&gt;' THEN '>'
       |        WHEN t = '&quot;' THEN '"' WHEN t = '&nbsp;' THEN ' '
       |        WHEN t = '&amp;' THEN '&'
       |        WHEN regexp_matches(t, '^&#[0-9]+;${"$"}') THEN
       |          CASE WHEN $dec IN (9, 10, 13) OR $dec BETWEEN 32 AND 255
       |               THEN chr(CAST($dec AS INT)) ELSE t END
       |        WHEN regexp_matches(t, '^&#[xX][0-9a-fA-F]+;${"$"}') THEN
       |          CASE WHEN $hexVal IN (9, 10, 13) OR $hexVal BETWEEN 32 AND 255
       |               THEN chr(CAST($hexVal AS INT)) ELSE t END
       |        ELSE t END), 'string_agg', ''), '')""".stripMargin
  }

  /** `frag` with anchor spans (tag + visible text) erased — the non-link
    * side of the t25/fn4 link-density measure. */
  private def sqlAnchorErased(frag: String): String =
    s"regexp_replace($frag, '(?is)<a\\b[^>]*>.*?</a>', '', 'g')"

  /** t28/t29's abstention threshold in integer micro-nats — one constant
    * for the Spark call and the oracle literal. Sits inside the observed
    * margin distribution at sf0.01 so BOTH branches (confident and "und")
    * are exercised by the correctness gate.
    */
  private val LangIdMarginTau = 57000000L

  /** d14's oracle, shared VERBATIM by d33_decontaminate_served: the served
    * path reuses d14's scoring tail in code, so through-storage
    * correctness is "same oracle, same hash" by construction (the lm8
    * discipline).
    */
  private lazy val decontaminateOracleSql =
    s"""WITH wds AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |g AS (SELECT DISTINCT doc_id AS sid,
       |    ${sqlHash("wds.w[i] || ' ' || wds.w[i+1] || ' ' || wds.w[i+2]", 12)} AS g
       |  FROM wds, unnest(generate_series(1, len(w) - 2)) AS t(i)),
       |bg AS (SELECT DISTINCT g FROM g WHERE sid % 7 = 0),
       |cg AS (SELECT sid, g FROM g WHERE sid % 7 <> 0)
       |SELECT sid AS doc_id, COUNT(*) AS n_overlap
       |FROM cg JOIN bg USING (g) GROUP BY sid ORDER BY doc_id""".stripMargin

  /** e11's per-k pass@k expression — the DuckDB twin of
    * Quality.passAtK's falling-factorial product (HUGEINT chains, one
    * floor division, same short-circuits).
    */
  private def sqlPassAtK(k: Int): String = {
    def prod(term: String) =
      s"list_reduce(list_transform(generate_series(0, ${k - 1}), " +
        s"i -> CAST($term AS HUGEINT)), (a, b) -> a * b)"
    s"""CASE WHEN n_samples < $k THEN NULL
       |    WHEN n_correct > n_samples - $k THEN CAST(1000000 AS BIGINT)
       |    ELSE CAST(1000000 - (${prod("n_samples - n_correct - i")} * 1000000)
       |      // ${prod("n_samples - i")} AS BIGINT) END""".stripMargin
  }

  /** t28/t29's synthesized corpus: the fixture text is language-neutral
    * word salad (lang is independent of content), so — the t6/t8
    * synthesis pattern — a deterministic per-language phrase is appended
    * on BOTH the Spark and SQL sides; the classifier must find it among
    * the shared-salad noise.
    */
  private def langIdSynth(s: org.apache.spark.sql.SparkSession,
                          d: String): org.apache.spark.sql.DataFrame = {
    val phrase = TextOps.langMarkers.foldLeft(lit(null).cast("string")) {
      case (acc, (l, _)) =>
        when(col("lang") === l, TextOps.langPhrase(l)).otherwise(acc)
    }
    Tables.documents(s, d)
      .withColumn("text", concat(col("text"), lit(" "), phrase))
  }

  /** The t28 trained-language-ID chain through `spick` (per-doc per-lang
    * scores ranked by (score DESC, cand)) — shared VERBATIM by t28 and
    * t29 so the margin serve can never drift from the argmax serve.
    */
  private def langIdChainCtes: String =
    s"""msyn AS (SELECT doc_id, lang, text || ' ' || CASE lang
       |${TextOps.langMarkers.map { case (l, _) =>
           s"    WHEN '$l' THEN '${TextOps.langPhrase(l)}'"
         }.mkString("\n")}
       |  END AS text FROM documents),
       |tr AS (SELECT doc_id, lang, text FROM msyn WHERE doc_id % 3 <> 0),
       |mlangs AS MATERIALIZED (SELECT DISTINCT lang FROM tr),
       |mk AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM mlangs),
       |trtf AS (SELECT lang, ${sqlHash("feat", 12)} % 256 AS b
       |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS feat FROM tr)
       |  WHERE len(feat) > 0),
       |mbc AS (SELECT lang, b, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM trtf GROUP BY 1, 2),
       |mtc AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS tc FROM mbc GROUP BY 1),
       |mdense AS (SELECT l.lang, gb.b, coalesce(mbc.c, 0) AS c,
       |    coalesce(mtc.tc, 0) AS tc
       |  FROM mlangs l
       |  CROSS JOIN (SELECT unnest(generate_series(0, 255)) AS b) gb
       |  LEFT JOIN mtc ON mtc.lang = l.lang
       |  LEFT JOIN mbc ON mbc.lang = l.lang AND mbc.b = gb.b),
       |mlp0 AS (SELECT lang || '#' || b AS key, c + 1 AS p,
       |    tc + 256 AS q FROM mdense),
       |${sqlLog2Fp("mlw", "mlp0", "key")},
       |mlpv AS MATERIALIZED (SELECT string_split(key, '#')[1] AS lang,
       |    CAST(string_split(key, '#')[2] AS BIGINT) AS b,
       |    $sqlLnMicroFromL AS lp FROM mlwL),
       |mpr0 AS (SELECT l.lang AS key, nd.ndc + 1 AS p, t.nd + mk.k AS q
       |  FROM mlangs l
       |  JOIN (SELECT lang, CAST(COUNT(*) AS BIGINT) AS ndc FROM tr
       |        GROUP BY 1) nd ON nd.lang = l.lang
       |  CROSS JOIN (SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM tr) t
       |  CROSS JOIN mk),
       |${sqlLog2Fp("mpw", "mpr0", "key")},
       |mprv AS MATERIALIZED (SELECT key AS lang, $sqlLnMicroFromL AS prior_fp
       |  FROM mpwL),
       |scdb AS (SELECT doc_id, ${sqlHash("feat", 12)} % 256 AS b,
       |    CAST(COUNT(*) AS BIGINT) AS c
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS feat
       |        FROM msyn)
       |  WHERE len(feat) > 0 GROUP BY 1, 2),
       |sll AS (SELECT scdb.doc_id, mlpv.lang,
       |    CAST(SUM(scdb.c * mlpv.lp) AS BIGINT) AS ll
       |  FROM scdb JOIN mlpv ON mlpv.b = scdb.b GROUP BY 1, 2),
       |ssc AS (SELECT d.doc_id, d.lang AS true_lang, p.lang AS cand,
       |    coalesce(sll.ll, 0) + p.prior_fp AS score
       |  FROM documents d CROSS JOIN mprv p
       |  LEFT JOIN sll ON sll.doc_id = d.doc_id AND sll.lang = p.lang),
       |spick AS (SELECT doc_id, true_lang, cand, score,
       |    ROW_NUMBER() OVER (PARTITION BY doc_id
       |      ORDER BY score DESC, cand) AS rn FROM ssc)""".stripMargin

  // ---- graft.plans.LnFp SQL twin (deterministic integer fixed-point ln) --

  /** Powers of two 2^0..2^125 as HUGEINT — the "variable shift" primitive
    * the LnFp recurrence needs (DuckDB has no HUGEINT shift operator).
    */
  private val pow2Cte =
    """pow2(i, v) AS (
      |  SELECT 0, CAST(1 AS HUGEINT) UNION ALL SELECT i + 1, v * 2 FROM pow2 WHERE i < 125)""".stripMargin

  /** fn1's gate/score/fingerprint expressions (t11 + t2 + d2 verbatim)
    * over an arbitrary (…, text) source — shared by fn1 and the HTML
    * funnel (fn4) so the two can never drift. Emits one CTE named `tag`.
    */
  private def sqlFunnelF(tag: String, src: String): String =
    s"""$tag AS (SELECT
       |  (len(string_split(text, ' ')) BETWEEN 30 AND 10000
       |   AND (CAST(length(replace(text, ' ', '')) AS DOUBLE) /
       |        greatest(CAST(len(string_split(text, ' ')) AS DOUBLE), 1.0))
       |       BETWEEN 4.0 AND 5.0
       |   AND len(list_filter(string_split(text, ' '),
       |         w -> w IN (${sqlList(TextOps.stopwords)}))) >= 2) AS g,
       |  0.4 * least(1.0, greatest(CAST(len(string_split(text, ' ')) AS DOUBLE), 1.0) / 100.0)
       |   + 0.3 * (1.0 - CAST(len(regexp_extract_all(text, '[^a-z0-9 ]')) AS DOUBLE)
       |       / greatest(CAST(length(text) AS DOUBLE), 1.0))
       |   + 0.3 * least(1.0, 4.0 * CAST(len(list_filter(string_split(text, ' '),
       |         w -> w IN (${sqlList(TextOps.stopwords)}))) AS DOUBLE)
       |       / greatest(CAST(len(string_split(text, ' ')) AS DOUBLE), 1.0)) AS q,
       |  md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fp
       |FROM $src)""".stripMargin

  /** Mirror of LnFp.log2fp50: EXACT integer Q50 log2(p/q) for a relation
    * `src`(`key`, p, q) -> CTE `{x}L`(`key`, L). The 120-bit scaled
    * quotient normalizes to a 51-bit mantissa; 50 shift-and-square rounds
    * (a recursive CTE over HUGEINT) emit one fraction bit each. Every step
    * is integer arithmetic, so L is a pure function of (p, q) — the same
    * integers the engine's LnFp computes, no libm on either side.
    */
  private def sqlLog2Fp(x: String, src: String, key: String): String =
    s"""${x}s AS (SELECT $key, p, q, length(format('{:b}', p)) AS blp FROM $src),
       |${x}a AS (SELECT $key, blp,
       |  (CAST(p << (62 - blp) AS HUGEINT) * 288230376151711744) // CAST(q AS HUGEINT) AS bq
       |  FROM ${x}s),
       |${x}b AS (SELECT $key, blp, bq, p2.i + 1 AS blq
       |  FROM ${x}a JOIN pow2 p2 ON bq >= p2.v AND bq < p2.v * 2),
       |${x}m AS (SELECT $key, (blq - 1) - 120 + blp AS etot, bq // p2.v AS x0
       |  FROM ${x}b JOIN pow2 p2 ON p2.i = blq - 51),
       |${x}it($key, i, x, fb) AS (
       |  SELECT $key, 0, x0, CAST(0 AS BIGINT) FROM ${x}m
       |  UNION ALL
       |  SELECT $key, i + 1,
       |    CASE WHEN y >= 2251799813685248 THEN y // 2 ELSE y END,
       |    fb * 2 + CASE WHEN y >= 2251799813685248 THEN 1 ELSE 0 END
       |  FROM (SELECT $key, i, (x * x) // 1125899906842624 AS y, fb
       |        FROM ${x}it WHERE i < 50)),
       |${x}L AS (SELECT m.$key, CAST(etot AS BIGINT) * 1125899906842624 + fb AS L
       |  FROM ${x}m m JOIN ${x}it it ON m.$key = it.$key WHERE it.i = 50)""".stripMargin

  /** Mirror of LnFp.lnMicro's final scaling: micro-nats from a Q50 log2
    * (L x round(ln2*1e6*2^20), half-away-rounded >> 70).
    */
  private val sqlLnMicroFromL =
    """CAST(CASE WHEN L >= 0
      |  THEN (CAST(L AS HUGEINT) * 726817498003 + 590295810358705651712) // 1180591620717411303424
      |  ELSE -((CAST(-L AS HUGEINT) * 726817498003 + 590295810358705651712) // 1180591620717411303424)
      |END AS BIGINT)""".stripMargin

  /** lm4's oracle, shared VERBATIM by lm8_kn_served: serving the KN doc
    * scorer from the persisted LmIndex count table must be bit-identical
    * to the from-scratch recount, so through-storage correctness is "same
    * oracle, same hash" by construction. Likewise lm7 / lm9 below.
    */
  private lazy val knDocScoreOracleSql =
    s"""WITH RECURSIVE $pow2Cte,
         |w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |tb AS (SELECT w.w[t.i] AS w1, w.w[t.i+1] AS w2
         |  FROM w, unnest(generate_series(1, len(w.w) - 1)) AS t(i)
         |  WHERE doc_id % 3 <> 0),
         |bc AS (SELECT w1, w2, COUNT(*) AS c FROM tb GROUP BY 1, 2),
         |lf AS (SELECT w1, CAST(SUM(c) AS BIGINT) AS l,
         |    CAST(COUNT(*) AS BIGINT) AS p FROM bc GROUP BY 1),
         |rc AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS c1 FROM bc GROUP BY 1),
         |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS t,
         |    CAST(COUNT(DISTINCT w2) + 1 AS BIGINT) AS u FROM bc),
         |sb AS (SELECT doc_id, w.w[t.i] AS w1, w.w[t.i+1] AS w2
         |  FROM w, unnest(generate_series(1, len(w.w) - 1)) AS t(i)),
         |db AS (SELECT doc_id, w1, w2, COUNT(*) AS k FROM sb GROUP BY 1, 2, 3),
         |pt AS (SELECT DISTINCT w1, w2 FROM db),
         |pp AS (SELECT pt.w1, pt.w2, CASE
         |    WHEN bc.c IS NOT NULL THEN CAST(
         |      (CAST(4 * bc.c - 3 AS HUGEINT) * t
         |         + CAST(3 AS HUGEINT) * lf.p * rc.c1)
         |        * CAST(1000000000000 AS HUGEINT)
         |      // (CAST(4 AS HUGEINT) * lf.l * t) AS BIGINT)
         |    WHEN lf.l IS NOT NULL THEN CAST(
         |      CAST(3 AS HUGEINT) * lf.p * (coalesce(rc.c1, 0) + 1)
         |        * CAST(1000000000000 AS HUGEINT)
         |      // (CAST(4 AS HUGEINT) * lf.l * (t + u)) AS BIGINT)
         |    ELSE CAST(
         |      CAST(coalesce(rc.c1, 0) + 1 AS HUGEINT)
         |        * CAST(1000000000000 AS HUGEINT)
         |      // CAST(t + u AS HUGEINT) AS BIGINT)
         |    END AS p_fp
         |  FROM pt LEFT JOIN bc USING (w1, w2) LEFT JOIN lf USING (w1)
         |    LEFT JOIN rc USING (w2) CROSS JOIN tot),
         |l0 AS (SELECT w1 || ' ' || w2 AS key, greatest(p_fp, 1) AS p,
         |    CAST(1000000000000 AS BIGINT) AS q FROM pp),
         |${sqlLog2Fp("lk", "l0", "key")},
         |lv AS (SELECT key, $sqlLnMicroFromL AS lnp FROM lkL),
         |dl AS (SELECT doc_id, CAST(SUM(k) AS BIGINT) AS n_bigrams,
         |    CAST(SUM(k * lnp) AS BIGINT) AS ll_fp
         |  FROM db JOIN lv ON lv.key = db.w1 || ' ' || db.w2
         |  GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(n_bigrams, 0) AS n_bigrams,
         |  coalesce(ll_fp, 0) AS ll_fp,
         |  CASE WHEN coalesce(n_bigrams, 0) > 0
         |    THEN (-ll_fp) // n_bigrams END AS avg_nll_micro
         |FROM documents d LEFT JOIN dl USING (doc_id)
         |ORDER BY doc_id""".stripMargin

  private lazy val sbDocScoreOracleSql =
    s"""WITH RECURSIVE $pow2Cte,
         |w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |tu AS (SELECT unnest(w.w) AS wd FROM w WHERE doc_id % 3 <> 0),
         |uni AS (SELECT wd, CAST(COUNT(*) AS BIGINT) AS c FROM tu GROUP BY 1),
         |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS nn,
         |    CAST(COUNT(*) + 1 AS BIGINT) AS uu FROM uni),
         |tb AS (SELECT w.w[t.i] AS w1, w.w[t.i+1] AS w2
         |  FROM w, unnest(generate_series(1, len(w.w) - 1)) AS t(i)
         |  WHERE doc_id % 3 <> 0),
         |bc AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c FROM tb GROUP BY 1, 2),
         |tt AS (SELECT w.w[t.i] AS w1, w.w[t.i+1] AS w2, w.w[t.i+2] AS w3
         |  FROM w, unnest(generate_series(1, len(w.w) - 2)) AS t(i)
         |  WHERE doc_id % 3 <> 0),
         |tc AS (SELECT w1, w2, w3, CAST(COUNT(*) AS BIGINT) AS c3
         |  FROM tt GROUP BY 1, 2, 3),
         |st AS (SELECT doc_id, w.w[t.i] AS w1, w.w[t.i+1] AS w2, w.w[t.i+2] AS w3
         |  FROM w, unnest(generate_series(1, len(w.w) - 2)) AS t(i)),
         |db AS (SELECT doc_id, w1, w2, w3, COUNT(*) AS k FROM st GROUP BY 1, 2, 3, 4),
         |pt AS (SELECT DISTINCT w1, w2, w3 FROM db),
         |pp AS (SELECT pt.w1, pt.w2, pt.w3, CASE
         |    WHEN tc.c3 IS NOT NULL THEN CAST(
         |      (CAST(tc.c3 AS HUGEINT) * 1000000000000)
         |        // CAST(b12.c AS HUGEINT) AS BIGINT)
         |    WHEN b23.c IS NOT NULL THEN CAST(
         |      (CAST(b23.c AS HUGEINT) * 2000000000000)
         |        // (CAST(u2.c AS HUGEINT) * 5) AS BIGINT)
         |    ELSE CAST(
         |      (CAST(coalesce(u3.c, 0) + 1 AS HUGEINT) * 4000000000000)
         |        // (CAST(nn + uu AS HUGEINT) * 25) AS BIGINT)
         |    END AS p_fp
         |  FROM pt LEFT JOIN tc USING (w1, w2, w3)
         |    LEFT JOIN bc b12 ON b12.w1 = pt.w1 AND b12.w2 = pt.w2
         |    LEFT JOIN bc b23 ON b23.w1 = pt.w2 AND b23.w2 = pt.w3
         |    LEFT JOIN uni u2 ON u2.wd = pt.w2
         |    LEFT JOIN uni u3 ON u3.wd = pt.w3
         |    CROSS JOIN tot),
         |l0 AS (SELECT w1 || ' ' || w2 || ' ' || w3 AS key,
         |    greatest(p_fp, 1) AS p, CAST(1000000000000 AS BIGINT) AS q FROM pp),
         |${sqlLog2Fp("lk", "l0", "key")},
         |lv AS (SELECT key, $sqlLnMicroFromL AS lnp FROM lkL),
         |dl AS (SELECT doc_id, CAST(SUM(k) AS BIGINT) AS n_trigrams,
         |    CAST(SUM(k * lnp) AS BIGINT) AS ll_fp
         |  FROM db JOIN lv ON lv.key = db.w1 || ' ' || db.w2 || ' ' || db.w3
         |  GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(n_trigrams, 0) AS n_trigrams,
         |  coalesce(ll_fp, 0) AS ll_fp,
         |  CASE WHEN coalesce(n_trigrams, 0) > 0
         |    THEN (-ll_fp) // n_trigrams END AS avg_nll_micro
         |FROM documents d LEFT JOIN dl USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin

  /** One Viterbi-EM round of the unigram tokenizer oracle (t24): the DP
    * is UNROLLED one CTE per word length (fixture words are <= 8 chars —
    * asserted by the hash check itself: a longer word would leave its
    * Viterbi path NULL and mismatch), candidates take the piece-score
    * join against `vIn`, and the winner per (word, position) is
    * ROW_NUMBER ordered by (total DESC, j DESC) — the engine kernel's
    * longer-last-piece tie-break, bit-for-bit. Produces ud{r}_k, useg{r},
    * uusg{r}, uall{r}, utt{r}, upr{r}, the ul{r} log2 chain and
    * uv{r+1}(piece, lnp).
    */
  private def unigramRoundCtes(r: Int, vIn: String, maxWordLen: Int,
                               maxPieceLen: Int): String = {
    val dp = (1 to maxWordLen).map { k =>
      val cands = (1 to math.min(maxPieceLen, k)).map { j =>
        val piece = s"substr(w.w, ${k - j + 1}, $j)"
        val (from, prevTotal, prevPath) =
          if (k - j == 0) ("wf w", "CAST(0 AS BIGINT)", "''")
          else (s"ud${r}_${k - j} d JOIN wf w ON w.w = d.w", "d.total", "d.path")
        s"""SELECT w.w AS w, w.freq AS freq, $prevTotal + v.lnp AS total,
           |      CASE WHEN $prevPath = '' THEN $piece
           |        ELSE $prevPath || ' ' || $piece END AS path, $j AS j
           |    FROM $from JOIN $vIn v ON v.piece = $piece
           |    WHERE len(w.w) >= $k""".stripMargin
      }.mkString("\n    UNION ALL\n    ")
      s"""ud${r}_$k AS MATERIALIZED (SELECT w, freq, total, path FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY w
         |      ORDER BY total DESC, j DESC) AS rn FROM (
         |    $cands))
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val lvls = (1 to maxWordLen)
      .map(k => s"SELECT *, $k AS lvl FROM ud${r}_$k")
      .mkString("\n    UNION ALL ")
    s"""$dp,
       |useg$r AS (SELECT w, freq, path FROM (
       |    $lvls) WHERE lvl = len(w)),
       |uusg$r AS (SELECT piece, CAST(SUM(freq) AS BIGINT) AS usage FROM (
       |    SELECT freq, unnest(string_split(path, ' ')) AS piece FROM useg$r)
       |  GROUP BY piece),
       |uall$r AS (SELECT c.piece, coalesce(u.usage, 0) AS usage
       |    FROM uchars c LEFT JOIN uusg$r u USING (piece)
       |  UNION ALL
       |  SELECT piece, usage FROM uusg$r WHERE len(piece) > 1),
       |utt$r AS (SELECT CAST(SUM(usage) AS HUGEINT) AS tt FROM uall$r),
       |upr$r AS (SELECT piece AS key,
       |    greatest(CAST((CAST(usage AS HUGEINT) * 1000000000000) // tt AS BIGINT), 1) AS p,
       |    CAST(1000000000000 AS BIGINT) AS q FROM uall$r CROSS JOIN utt$r),
       |${sqlLog2Fp(s"ul$r", s"upr$r", "key")},
       |uv${r + 1} AS MATERIALIZED (SELECT key AS piece, $sqlLnMicroFromL AS lnp FROM ul${r}L)"""
      .stripMargin
  }

  /** Mirror of LnFp.lnQ40's final scaling: Q40 nats from a Q50 log2. */
  private val sqlLnQ40FromL =
    """CAST(CASE WHEN L >= 0
      |  THEN (CAST(L AS HUGEINT) * 24387948313146 + 18014398509481984) // 36028797018963968
      |  ELSE -((CAST(-L AS HUGEINT) * 24387948313146 + 18014398509481984) // 36028797018963968)
      |END AS BIGINT)""".stripMargin

  /** Mirror of TextOps.trainQualityModel for training docs selected by
    * `where`: emits the CTE chain `<t>seed … <t>wt` (dense per-bucket
    * w_fp, 256 buckets) and `<t>prior` — tag-prefixed so ds9 can carry
    * two model versions in one WITH RECURSIVE. The ds5 oracle spells the
    * same chain inline (untagged, single version).
    */
  private def qualityModelCtes(t: String, where: String): String =
    s"""${t}seed AS (SELECT doc_id, source IN ('src0','src1','src2','src3') AS is_p,
       |    text FROM documents WHERE $where),
       |${t}sf AS (SELECT doc_id, is_p, ${sqlHash("feat", 12)} % 256 AS b
       |  FROM (SELECT doc_id, is_p, unnest(string_split(text, ' ')) AS feat
       |        FROM ${t}seed)
       |  WHERE len(feat) > 0),
       |${t}bc AS (SELECT b,
       |    CAST(SUM(CASE WHEN is_p THEN 1 ELSE 0 END) AS BIGINT) AS pc,
       |    CAST(SUM(CASE WHEN is_p THEN 0 ELSE 1 END) AS BIGINT) AS nc
       |  FROM ${t}sf GROUP BY b),
       |${t}tot AS (SELECT SUM(pc) AS pn, SUM(nc) AS nn FROM ${t}bc),
       |${t}bcd AS (SELECT g.b, coalesce(pc, 0) AS pc, coalesce(nc, 0) AS nc
       |  FROM generate_series(0, 255) g(b) LEFT JOIN ${t}bc ON ${t}bc.b = g.b),
       |${t}win AS (SELECT b * 2 AS key, pc + 1 AS p, pn + 256 AS q
       |    FROM ${t}bcd CROSS JOIN ${t}tot
       |  UNION ALL SELECT b * 2 + 1, nc + 1, nn + 256
       |    FROM ${t}bcd CROSS JOIN ${t}tot),
       |${sqlLog2Fp(s"${t}wl", s"${t}win", "key")},
       |${t}wm AS (SELECT key, $sqlLnMicroFromL AS micro FROM ${t}wlL),
       |${t}wt AS (SELECT p.key // 2 AS b, p.micro - n.micro AS w_fp
       |  FROM ${t}wm p JOIN ${t}wm n ON n.key = p.key + 1 WHERE p.key % 2 = 0),
       |${t}dt AS (SELECT 0 AS key,
       |    CAST(SUM(CASE WHEN is_p THEN 1 ELSE 0 END) + 1 AS BIGINT) AS p,
       |    CAST(SUM(CASE WHEN is_p THEN 0 ELSE 1 END) + 1 AS BIGINT) AS q
       |  FROM (SELECT DISTINCT doc_id, is_p FROM ${t}seed)),
       |${sqlLog2Fp(s"${t}pr", s"${t}dt", "key")},
       |${t}prior AS (SELECT $sqlLnMicroFromL AS prior_fp FROM ${t}prL)""".stripMargin

  /** WEIGHTED twin of [[qualityModelCtes]] (TextOps.trainQualityModelWeighted
    * — t34): identical chain except every count sums a per-doc `wt` from a
    * `wts(doc_id, wt)` CTE the caller provides. Weight-1 rows contribute
    * exactly as in the unweighted form.
    */
  private def weightedQualityModelCtes(t: String): String =
    s"""${t}seed AS (SELECT d.doc_id, d.source IN ('src0','src1','src2','src3') AS is_p,
       |    d.text, w.wt FROM documents d JOIN wts w USING (doc_id)),
       |${t}sf AS (SELECT doc_id, is_p, wt, ${sqlHash("feat", 12)} % 256 AS b
       |  FROM (SELECT doc_id, is_p, wt, unnest(string_split(text, ' ')) AS feat
       |        FROM ${t}seed)
       |  WHERE len(feat) > 0),
       |${t}bc AS (SELECT b,
       |    CAST(SUM(CASE WHEN is_p THEN wt ELSE 0 END) AS BIGINT) AS pc,
       |    CAST(SUM(CASE WHEN is_p THEN 0 ELSE wt END) AS BIGINT) AS nc
       |  FROM ${t}sf GROUP BY b),
       |${t}tot AS (SELECT SUM(pc) AS pn, SUM(nc) AS nn FROM ${t}bc),
       |${t}bcd AS (SELECT g.b, coalesce(pc, 0) AS pc, coalesce(nc, 0) AS nc
       |  FROM generate_series(0, 255) g(b) LEFT JOIN ${t}bc ON ${t}bc.b = g.b),
       |${t}win AS (SELECT b * 2 AS key, pc + 1 AS p, pn + 256 AS q
       |    FROM ${t}bcd CROSS JOIN ${t}tot
       |  UNION ALL SELECT b * 2 + 1, nc + 1, nn + 256
       |    FROM ${t}bcd CROSS JOIN ${t}tot),
       |${sqlLog2Fp(s"${t}wl", s"${t}win", "key")},
       |${t}wm AS (SELECT key, $sqlLnMicroFromL AS micro FROM ${t}wlL),
       |${t}wt AS (SELECT p.key // 2 AS b, p.micro - n.micro AS w_fp
       |  FROM ${t}wm p JOIN ${t}wm n ON n.key = p.key + 1 WHERE p.key % 2 = 0),
       |${t}dt AS (SELECT 0 AS key,
       |    CAST(SUM(CASE WHEN is_p THEN wt ELSE 0 END) + 1 AS BIGINT) AS p,
       |    CAST(SUM(CASE WHEN is_p THEN 0 ELSE wt END) + 1 AS BIGINT) AS q
       |  FROM (SELECT DISTINCT doc_id, is_p, wt FROM ${t}seed)),
       |${sqlLog2Fp(s"${t}pr", s"${t}dt", "key")},
       |${t}prior AS (SELECT $sqlLnMicroFromL AS prior_fp FROM ${t}prL)""".stripMargin

  /** Hashed uni+bigram features of `documents WHERE where` — the DSIR
    * featurization (Quality.dsirFeats twin): unigrams with len > 0, plus
    * space-joined bigrams over raw token positions with both parts
    * non-empty, bucketed into 256 by the 48-bit fingerprint.
    */
  private def dsirFeatSql(where: String): String =
    s"""SELECT doc_id, ${sqlHash("feat", 12)} % 256 AS b
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS feat
       |        FROM documents WHERE $where)
       |  WHERE len(feat) > 0
       |UNION ALL
       |SELECT doc_id, ${sqlHash("w[i] || ' ' || w[i+1]", 12)} % 256 AS b
       |  FROM (SELECT doc_id, string_split(text, ' ') AS w
       |        FROM documents WHERE $where) tw,
       |    unnest(generate_series(1, len(w) - 1)) AS u(i)
       |  WHERE len(w[i]) > 0 AND len(w[i+1]) > 0""".stripMargin

  /** Mirror of Quality.dsirWeights (target = documents WHERE `targetWhere`,
    * raw = all documents): emits CTEs up to `sc`(doc_id, n_feats, dsir_fp)
    * — the per-doc exact micro-nat log importance ratio between the dense
    * add-one-smoothed target and raw bucket models, every ln through the
    * LnFp twin. Requires `pow2Cte` in scope.
    */
  private def dsirWeightCtes(targetWhere: String): String =
    s"""dtf AS (${dsirFeatSql(targetWhere)}),
       |drf AS (${dsirFeatSql("TRUE")}),
       |dtc AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS ct FROM dtf GROUP BY b),
       |drc AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS cr FROM drf GROUP BY b),
       |ddn AS (SELECT g.b, coalesce(ct, 0) AS ct, coalesce(cr, 0) AS cr
       |  FROM generate_series(0, 255) g(b)
       |  LEFT JOIN dtc ON dtc.b = g.b LEFT JOIN drc ON drc.b = g.b),
       |dtt AS (SELECT SUM(ct) AS tn, SUM(cr) AS rn FROM ddn),
       |dwin AS (SELECT b * 2 AS key, CAST(ct + 1 AS BIGINT) AS p,
       |    CAST(tn + 256 AS BIGINT) AS q FROM ddn CROSS JOIN dtt
       |  UNION ALL SELECT b * 2 + 1, CAST(cr + 1 AS BIGINT),
       |    CAST(rn + 256 AS BIGINT) FROM ddn CROSS JOIN dtt),
       |${sqlLog2Fp("dwl", "dwin", "key")},
       |dwm AS (SELECT key, $sqlLnMicroFromL AS micro FROM dwlL),
       |dwt AS (SELECT p.key // 2 AS b, p.micro - n.micro AS w_fp
       |  FROM dwm p JOIN dwm n ON n.key = p.key + 1 WHERE p.key % 2 = 0),
       |dpd AS (SELECT doc_id, b, COUNT(*) AS c FROM drf GROUP BY 1, 2),
       |sc AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_feats,
       |    CAST(SUM(c * w_fp) AS BIGINT) AS dsir_fp
       |  FROM dpd JOIN dwt USING (b) GROUP BY doc_id)""".stripMargin

  /** Shared e7/e9/e10 oracle tail of [[qualityModelCtes]]: rescore EVERY
    * document with the "m"-tagged model and attach lang + the weak label —
    * the `scored(doc_id, lang, is_p, s)` frame the classifier evals read.
    */
  private lazy val classifierScoredCtes: String =
    s"""${qualityModelCtes("m", "TRUE")},
       |af AS (SELECT doc_id, ${sqlHash("feat", 12)} % 256 AS b
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS feat
       |        FROM documents)
       |  WHERE len(feat) > 0),
       |cdb AS (SELECT doc_id, b, COUNT(*) AS c FROM af GROUP BY 1, 2),
       |ll AS (SELECT doc_id, CAST(SUM(c * w_fp) AS BIGINT) AS ll_fp
       |  FROM cdb JOIN mwt USING (b) GROUP BY doc_id),
       |scored AS (SELECT d.doc_id, d.lang,
       |    d.source IN ('src0','src1','src2','src3') AS is_p,
       |    COALESCE(ll_fp, 0) + prior_fp AS s
       |  FROM documents d CROSS JOIN mprior LEFT JOIN ll USING (doc_id))"""
      .stripMargin

  /** Shared e7/e9/e10 engine side: train-and-score the t22 classifier over
    * the whole corpus and attach lang — (did, score_fp, actual, pred, lang).
    */
  private def scoredWithLang(s: org.apache.spark.sql.SparkSession,
                             d: String): org.apache.spark.sql.DataFrame = {
    val docs = Tables.documents(s, d)
    TextOps.hashedQualityClassifier(docs, "doc_id", "text",
        isPositive = col("source").isin("src0", "src1", "src2", "src3"),
        nBuckets = 256)
      .join(docs.select(col("doc_id").as("did"), col("lang")), Seq("did"))
  }

  /** Mirror of GraphOps.derivationEdges + pageRank for docs selected by
    * `where`: tag-prefixed CTE pyramid (edges, degrees, `iters` unrolled
    * integer iterations) ending at `${t}r$iters` — shared by g1/g2 (g2
    * carries two corpus snapshots in one WITH).
    */
  private def authorityCtes(t: String, where: String, iters: Int): String = {
    val it = (1 to iters).map { i =>
      s"""${t}m$i AS (SELECT e.dst AS sid, SUM(r.r // e.d) AS s
         |  FROM ${t}ed e JOIN ${t}r${i - 1} r ON r.sid = e.src GROUP BY e.dst),
         |${t}r$i AS (SELECT n.sid,
         |    CAST(150000 + COALESCE(m.s, 0) * 850000 // 1000000 AS BIGINT) AS r
         |  FROM ${t}nodes n LEFT JOIN ${t}m$i m USING (sid))""".stripMargin
    }.mkString(",\n")
    s"""${t}w0 AS (SELECT doc_id, string_split(text, ' ') AS w
       |  FROM documents WHERE $where),
       |${t}sh0 AS (SELECT DISTINCT doc_id AS sid,
       |    w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS gram
       |  FROM ${t}w0, unnest(generate_series(1, len(w) - 2)) AS t(i)),
       |${t}shh AS (SELECT sid, ${sqlHash("gram", 12)} AS g FROM ${t}sh0),
       |${t}fh AS (SELECT g, MIN(sid) AS dst FROM ${t}shh GROUP BY g),
       |${t}edges AS (SELECT DISTINCT s.sid AS src, f.dst
       |  FROM ${t}shh s JOIN ${t}fh f USING (g) WHERE f.dst < s.sid),
       |${t}deg AS (SELECT src, COUNT(*) AS d FROM ${t}edges GROUP BY src),
       |${t}ed AS (SELECT e.src, e.dst, d.d FROM ${t}edges e JOIN ${t}deg d USING (src)),
       |${t}nodes AS (SELECT doc_id AS sid FROM documents WHERE $where),
       |${t}r0 AS (SELECT sid, CAST(1000000 AS BIGINT) AS r FROM ${t}nodes),
       |$it""".stripMargin
  }

  /** Mirror of Dedup.minhashSignatures: 32 min-aggregates. */
  private val sigSelect: String = {
    val aggs = (0 until Dedup.NumHashes).map(i =>
      s"  min((${Dedup.hashA(i)} * h + ${Dedup.hashB(i)}) % ${Dedup.MinhashPrime}) AS m$i")
    s"""h AS (SELECT sid, ${sqlHash("gram", 8)} AS h FROM sh),
       |sig AS (SELECT sid,
       |${aggs.mkString(",\n")}
       |FROM h GROUP BY sid)""".stripMargin
  }

  /** Mirror of Dedup.lshBands: 8 UNION ALL arms. */
  private val bandsCte: String = {
    val arms = (0 until Dedup.NumBands).map { b =>
      val cols = (0 until Dedup.RowsPerBand)
        .map(r => s"m${b * Dedup.RowsPerBand + r}").mkString(", ")
      s"  SELECT sid, $b AS band, concat_ws('_', $cols) AS bkey FROM sig"
    }
    s"bands AS (\n${arms.mkString("\n  UNION ALL\n")}\n)"
  }

  private val candidatesCte =
    """cand AS (SELECT DISTINCT a.sid AS ida, b.sid AS idb
      |  FROM bands a JOIN bands b
      |    ON a.band = b.band AND a.bkey = b.bkey AND a.sid < b.sid)""".stripMargin

  /** Mirror of Dedup.simhash: 48 signed bit sums -> packed long. */
  private val simhashCtes: String = {
    val bitSums = (0 until Dedup.SimhashBits).map(b =>
      s"  CAST(SUM(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS b$b")
    val packed = (0 until Dedup.SimhashBits).map(b =>
      s"CASE WHEN b$b > 0 THEN (CAST(1 AS BIGINT) << $b) ELSE CAST(0 AS BIGINT) END")
    s"""toks AS (SELECT doc_id AS sid, unnest(string_split(text, ' ')) AS tok FROM documents),
       |th AS (SELECT sid, ${sqlHash("tok", 12)} AS h FROM toks),
       |bits AS (SELECT sid,
       |${bitSums.mkString(",\n")}
       |FROM th GROUP BY sid),
       |sim AS (SELECT sid, ${packed.mkString(" + ")} AS simhash FROM bits)""".stripMargin
  }

  /** The e4/e5 shared counting CTEs: adjacent-document candidate/reference
    * pairs (even doc_id = candidate, odd = reference), per-(pair, order,
    * gram) occurrence counts for orders 1..3 in one fan-out per side, the
    * clipped-match join and the two per-(pair, order) totals — the DuckDB
    * twin of `TextOps.idNgramCounts` + the `ngramOverlapEval` rollup.
    */
  private val ngramOverlapCtes =
    """cd AS (SELECT doc_id // 2 AS id, string_split(text, ' ') AS w
      |  FROM documents WHERE doc_id % 2 = 0),
      |rd AS (SELECT doc_id // 2 AS id, string_split(text, ' ') AS w
      |  FROM documents WHERE doc_id % 2 = 1),
      |cg AS (SELECT id, n.n AS ord,
      |    array_to_string(w[t.i:t.i+n.n-1], ' ') AS gram, COUNT(*) AS cc
      |  FROM cd, unnest(generate_series(1, 3)) AS n(n),
      |       unnest(generate_series(1, len(w) - n.n + 1)) AS t(i)
      |  GROUP BY 1, 2, 3),
      |rg AS (SELECT id, n.n AS ord,
      |    array_to_string(w[t.i:t.i+n.n-1], ' ') AS gram, COUNT(*) AS rc
      |  FROM rd, unnest(generate_series(1, 3)) AS n(n),
      |       unnest(generate_series(1, len(w) - n.n + 1)) AS t(i)
      |  GROUP BY 1, 2, 3),
      |m AS (SELECT id, ord, CAST(SUM(least(cc, rc)) AS BIGINT) AS matches
      |  FROM cg JOIN rg USING (id, ord, gram) GROUP BY 1, 2),
      |ct AS (SELECT id, ord, CAST(SUM(cc) AS BIGINT) AS cand_total
      |  FROM cg GROUP BY 1, 2),
      |rt AS (SELECT id, ord, CAST(SUM(rc) AS BIGINT) AS ref_total
      |  FROM rg GROUP BY 1, 2)""".stripMargin

  /** Mirror of Similarity.quantize + cosineQ. MATERIALIZED: every ANN
    * oracle references `v` from several CTEs; inlined, DuckDB re-runs the
    * parquet scan + list transform per reference.
    */
  private val quantVecCte =
    s"""v AS MATERIALIZED (SELECT vec_id AS sid,
       |  list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * ${Similarity.QuantScale}) AS BIGINT)) AS qv
       |  FROM embeddings)""".stripMargin

  /** The ONE parameter set of the self-search IVF-PQ family (s9/s13/s15/
    * s16/s17, Spark calls and oracle SQL alike — one source of truth).
    * m = 16 four-dim subspaces with k = 256 codewords replaced round 9's
    * m = 8 / k = 16 (4-bit books over 8-dim subspaces), which quantized so
    * coarsely that ADC ranking was near-random (recall@5 0.10–0.225 —
    * VERDICT r9 §wrong #1). Measured recall@5 at these settings:
    * raw ADC 0.575/0.65 (sf0.001/sf0.01), +exact refine at R = 25:
    * 0.83–0.95 on every fixture.
    */
  private val PqM = 16
  private val PqSub = 64 / PqM
  private val PqK = 256
  private val IvfCells = 16
  private val IvfProbe = 4
  private val RefineShortlist = 25

  /** The s16 lsh recall row's table/plane counts — recall-tuned, unlike
    * s2's precision-tuned (8 x 10); see [[lshCtes]] for the math.
    */
  private val LshRecallTables = 8
  private val LshRecallPlanes = 4

  /** One BPE training round as a DuckDB CTE chain (t14 oracle): pair counts
    * with overlap (pcR), the argmax merge with (c DESC, l, r) tie-break
    * (topR), then greedy left-to-right application via run-parity — within
    * each maximal run of consecutive matching positions, merges start at
    * even offsets (the only overlapping case is l = r), and a position is
    * consumed when its predecessor started a merge.
    *
    * `st$r` is MATERIALIZED: each round references the previous state CTE
    * four times (both pair-count sides, the merge scan, and its next-pos
    * self-join); inlined, the 6-round chain re-evaluates the whole prefix
    * per reference (~4^6 plan blowup — measured 140 s vs 0.3 s at sf0.01,
    * identical rows). Materialization makes the oracle linear in rounds,
    * which is what keeps the driver's correctness pass inside its budget.
    */
  private def bpeRoundCtes(r: Int): String = {
    val p = s"st${r - 1}"
    s"""pc$r AS (SELECT a.sym AS l, b.sym AS r, CAST(SUM(a.freq) AS BIGINT) AS c
       |  FROM $p a JOIN $p b ON a.wid = b.wid AND b.pos = a.pos + 1
       |  GROUP BY 1, 2),
       |top$r AS (SELECT l, r, c FROM pc$r ORDER BY c DESC, l, r LIMIT 1),
       |mk$r AS (SELECT s.wid, s.freq, s.pos, s.sym, t.l AS tl, t.r AS tr,
       |    CASE WHEN s.sym = t.l AND nx.sym = t.r THEN 1 ELSE 0 END AS cand
       |  FROM $p s
       |  LEFT JOIN $p nx ON nx.wid = s.wid AND nx.pos = s.pos + 1
       |  CROSS JOIN top$r t),
       |rn$r AS (SELECT *, pos - ROW_NUMBER() OVER (PARTITION BY wid, cand ORDER BY pos) AS grp
       |  FROM mk$r),
       |ss$r AS (SELECT *,
       |    CASE WHEN cand = 1
       |      AND (pos - MIN(pos) OVER (PARTITION BY wid, cand, grp)) % 2 = 0
       |      THEN 1 ELSE 0 END AS strt
       |  FROM rn$r),
       |st$r AS MATERIALIZED (SELECT wid, freq,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY wid ORDER BY pos) AS BIGINT) AS pos,
       |    CASE WHEN strt = 1 THEN tl || tr ELSE sym END AS sym
       |  FROM (SELECT *,
       |      COALESCE(LAG(strt) OVER (PARTITION BY wid ORDER BY pos), 0) AS consumed
       |    FROM ss$r)
       |  WHERE consumed = 0)""".stripMargin
  }

  private def sqlCosine(a: String, b: String): String =
    s"""CAST(list_dot_product($a, $b) AS DOUBLE) /
       |    nullif(sqrt(CAST(list_dot_product($a, $a) AS DOUBLE)) * sqrt(CAST(list_dot_product($b, $b) AS DOUBLE)), 0.0)""".stripMargin

  private def sqlList(xs: Seq[String]): String = xs.map(s => s"'$s'").mkString(", ")

  /** IVF-PQ (seeded) CTE chain, shared by the s9 oracle and the s16/s17
    * oracles: seeded cells, top-1 assignment / top-nProbe probing, seeded
    * PQ codebook, ADC distances. Ends at `dist (qid, nid, d2)`; callers
    * rank. Heavy multi-referenced CTEs (`cranked`, `e`, `a`) are
    * MATERIALIZED — inlined they re-evaluate per reference (the
    * bpeRoundCtes lesson), and `a` alone is n x m x k rows.
    */
  private val ivfPqSeededCtes: String =
    s"""c AS (SELECT sid AS cid, qv AS cv FROM v ORDER BY sid LIMIT $IvfCells),
       |cscored AS (SELECT v.sid, c.cid, ${sqlCosine("v.qv", "c.cv")} AS ccos
       |  FROM v CROSS JOIN c),
       |cranked AS MATERIALIZED (SELECT sid, cid,
       |    ROW_NUMBER() OVER (PARTITION BY sid ORDER BY ccos DESC, cid) AS crank
       |  FROM cscored),
       |e AS MATERIALIZED (SELECT sid, qv[pos] AS q,
       |    ((pos - 1) // $PqSub) AS m, ((pos - 1) % $PqSub) AS j
       |  FROM v, unnest(generate_series(1, 64)) AS t(pos)),
       |seeds AS (SELECT sid, ROW_NUMBER() OVER (ORDER BY sid) - 1 AS code
       |  FROM (SELECT DISTINCT sid FROM e ORDER BY sid LIMIT $PqK)),
       |cb AS (SELECT s.code, e.m, e.j, e.q FROM e JOIN seeds s USING (sid)),
       |a AS MATERIALIZED (SELECT e.sid, e.m, cb.code,
       |    CAST(SUM((e.q - cb.q) * (e.q - cb.q)) AS BIGINT) AS d2
       |  FROM e JOIN cb ON e.m = cb.m AND e.j = cb.j GROUP BY 1, 2, 3),
       |codes AS (SELECT sid, m, code FROM (SELECT sid, m, code,
       |    ROW_NUMBER() OVER (PARTITION BY sid, m ORDER BY d2, code) AS rn
       |  FROM a) WHERE rn = 1),
       |members AS (SELECT r.cid, cd.sid AS nid, cd.m, cd.code
       |  FROM cranked r JOIN codes cd ON r.sid = cd.sid WHERE r.crank = 1),
       |probes AS (SELECT cid, sid AS qid FROM cranked WHERE crank <= $IvfProbe),
       |dist AS (SELECT p.qid, mem.nid, CAST(SUM(qa.d2) AS BIGINT) AS d2
       |  FROM probes p JOIN members mem ON p.cid = mem.cid
       |  JOIN a qa ON qa.sid = p.qid AND qa.m = mem.m AND qa.code = mem.code
       |  WHERE p.qid <> mem.nid GROUP BY 1, 2)""".stripMargin

  /** RESIDUAL IVF-PQ CTE chain (s13 + s16 oracles): residual elements vs
    * the assigned seeded cell, residual codebook, per-cell query LUTs.
    * Ends at `dist (qid, nid, d2)`.
    */
  private val ivfPqResidualCtes: String =
    s"""c AS (SELECT sid AS cid, qv AS cv FROM v ORDER BY sid LIMIT $IvfCells),
       |cranked AS MATERIALIZED (SELECT sid, cid,
       |    ROW_NUMBER() OVER (PARTITION BY sid ORDER BY ccos DESC, cid) AS crank
       |  FROM (SELECT v.sid, c.cid, ${sqlCosine("v.qv", "c.cv")} AS ccos
       |        FROM v CROSS JOIN c)),
       |e AS MATERIALIZED (SELECT sid, qv[pos] AS q,
       |    ((pos - 1) // $PqSub) AS m, ((pos - 1) % $PqSub) AS j
       |  FROM v, unnest(generate_series(1, 64)) AS t(pos)),
       |top1 AS (SELECT sid, cid FROM cranked WHERE crank = 1),
       |eres AS MATERIALIZED (SELECT e.sid, t.cid, e.q - ec.q AS q, e.m, e.j
       |  FROM e JOIN top1 t ON t.sid = e.sid
       |  JOIN e ec ON ec.sid = t.cid AND ec.m = e.m AND ec.j = e.j),
       |seeds AS (SELECT sid, ROW_NUMBER() OVER (ORDER BY sid) - 1 AS code
       |  FROM (SELECT DISTINCT sid FROM eres ORDER BY sid LIMIT $PqK)),
       |cbr AS MATERIALIZED (SELECT s.code, er.m, er.j, er.q FROM eres er JOIN seeds s USING (sid)),
       |ar AS (SELECT er.sid, er.m, cbr.code,
       |    CAST(SUM((er.q - cbr.q) * (er.q - cbr.q)) AS BIGINT) AS d2
       |  FROM eres er JOIN cbr ON cbr.m = er.m AND cbr.j = er.j GROUP BY 1, 2, 3),
       |codesr AS (SELECT sid, m, code FROM (SELECT sid, m, code,
       |    ROW_NUMBER() OVER (PARTITION BY sid, m ORDER BY d2, code) AS rn
       |  FROM ar) WHERE rn = 1),
       |members AS (SELECT t.cid, cd.sid AS nid, cd.m, cd.code
       |  FROM top1 t JOIN codesr cd ON cd.sid = t.sid),
       |probes AS (SELECT sid AS qid, cid FROM cranked WHERE crank <= $IvfProbe),
       |eq AS (SELECT p.qid, p.cid, e.q - ec.q AS q, e.m, e.j
       |  FROM probes p JOIN e ON e.sid = p.qid
       |  JOIN e ec ON ec.sid = p.cid AND ec.m = e.m AND ec.j = e.j),
       |aq AS (SELECT q.qid, q.cid, q.m, cbr.code,
       |    CAST(SUM((q.q - cbr.q) * (q.q - cbr.q)) AS BIGINT) AS d2
       |  FROM eq q JOIN cbr ON cbr.m = q.m AND cbr.j = q.j
       |  GROUP BY 1, 2, 3, 4),
       |dist AS (SELECT p.qid, mem.nid, CAST(SUM(qa.d2) AS BIGINT) AS d2
       |  FROM probes p JOIN members mem ON p.cid = mem.cid
       |  JOIN aq qa ON qa.qid = p.qid AND qa.cid = p.cid
       |    AND qa.m = mem.m AND qa.code = mem.code
       |  WHERE p.qid <> mem.nid GROUP BY 1, 2)""".stripMargin

  /** TRAINED-cells residual IVF-PQ CTE chain (s15 + s16 oracles): one Lloyd
    * round refines the coarse quantizer, residuals anchor to rounded-mean
    * integer centroids, then the residual search. Ends at
    * `dist (qid, nid, d2)`.
    */
  private val ivfPqResidualTrainedCtes: String =
    s"""c0 AS (SELECT sid AS cid, qv AS cv FROM v ORDER BY sid LIMIT $IvfCells),
       |a1 AS MATERIALIZED (SELECT sid, qv, cid FROM (
       |  SELECT v.sid, v.qv, c.cid,
       |    ROW_NUMBER() OVER (PARTITION BY v.sid
       |      ORDER BY ${sqlCosine("v.qv", "c.cv")} DESC, c.cid) AS rn
       |  FROM v CROSS JOIN c0 c) WHERE rn = 1),
       |csum AS MATERIALIZED (SELECT cid, pos, SUM(qv[pos]) AS sx
       |  FROM a1, unnest(generate_series(1, 64)) AS t(pos) GROUP BY cid, pos),
       |c1 AS (SELECT cid, list(sx ORDER BY pos) AS cv FROM csum GROUP BY cid),
       |ccnt AS (SELECT cid, COUNT(*) AS n FROM a1 GROUP BY cid),
       |cel AS MATERIALIZED (SELECT s.cid, ((s.pos - 1) // $PqSub) AS m, ((s.pos - 1) % $PqSub) AS j,
       |    CAST(round(CAST(s.sx AS DOUBLE) / c.n) AS BIGINT) AS q
       |  FROM csum s JOIN ccnt c USING (cid)),
       |cranked AS MATERIALIZED (SELECT sid, cid,
       |    ROW_NUMBER() OVER (PARTITION BY sid ORDER BY ccos DESC, cid) AS crank
       |  FROM (SELECT v.sid, c.cid, ${sqlCosine("v.qv", "c.cv")} AS ccos
       |        FROM v CROSS JOIN c1 c)),
       |e AS MATERIALIZED (SELECT sid, qv[pos] AS q,
       |    ((pos - 1) // $PqSub) AS m, ((pos - 1) % $PqSub) AS j
       |  FROM v, unnest(generate_series(1, 64)) AS t(pos)),
       |top1 AS (SELECT sid, cid FROM cranked WHERE crank = 1),
       |eres AS MATERIALIZED (SELECT e.sid, t.cid, e.q - ce.q AS q, e.m, e.j
       |  FROM e JOIN top1 t ON t.sid = e.sid
       |  JOIN cel ce ON ce.cid = t.cid AND ce.m = e.m AND ce.j = e.j),
       |seeds AS (SELECT sid, ROW_NUMBER() OVER (ORDER BY sid) - 1 AS code
       |  FROM (SELECT DISTINCT sid FROM eres ORDER BY sid LIMIT $PqK)),
       |cbr AS MATERIALIZED (SELECT s.code, er.m, er.j, er.q FROM eres er JOIN seeds s USING (sid)),
       |ar AS (SELECT er.sid, er.m, cbr.code,
       |    CAST(SUM((er.q - cbr.q) * (er.q - cbr.q)) AS BIGINT) AS d2
       |  FROM eres er JOIN cbr ON cbr.m = er.m AND cbr.j = er.j GROUP BY 1, 2, 3),
       |codesr AS (SELECT sid, m, code FROM (SELECT sid, m, code,
       |    ROW_NUMBER() OVER (PARTITION BY sid, m ORDER BY d2, code) AS rn
       |  FROM ar) WHERE rn = 1),
       |members AS (SELECT t.cid, cd.sid AS nid, cd.m, cd.code
       |  FROM top1 t JOIN codesr cd ON cd.sid = t.sid),
       |probes AS (SELECT sid AS qid, cid FROM cranked WHERE crank <= $IvfProbe),
       |eq AS (SELECT p.qid, p.cid, e.q - ce.q AS q, e.m, e.j
       |  FROM probes p JOIN e ON e.sid = p.qid
       |  JOIN cel ce ON ce.cid = p.cid AND ce.m = e.m AND ce.j = e.j),
       |aq AS (SELECT q.qid, q.cid, q.m, cbr.code,
       |    CAST(SUM((q.q - cbr.q) * (q.q - cbr.q)) AS BIGINT) AS d2
       |  FROM eq q JOIN cbr ON cbr.m = q.m AND cbr.j = q.j
       |  GROUP BY 1, 2, 3, 4),
       |dist AS (SELECT p.qid, mem.nid, CAST(SUM(qa.d2) AS BIGINT) AS d2
       |  FROM probes p JOIN members mem ON p.cid = mem.cid
       |  JOIN aq qa ON qa.qid = p.qid AND qa.cid = p.cid
       |    AND qa.m = mem.m AND qa.code = mem.code
       |  WHERE p.qid <> mem.nid GROUP BY 1, 2)""".stripMargin

  /** The shared final ranking over `dist` for the IVF-PQ oracles. */
  private val ivfPqRankSelect: String =
    """SELECT qid, nid, d2, rank FROM (
      |  SELECT qid, nid, d2,
      |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d2 ASC, nid ASC) AS rank
      |  FROM dist) WHERE rank <= 5""".stripMargin

  /** Shared LSH index CTEs (md5-derived planes + per-table sign buckets);
    * ends at `buckets (sid, tbl, bucket)`.
    */
  private def lshIndexCtes(nTables: Int, nPlanes: Int): String =
    s"""planes AS MATERIALIZED (
       |  SELECT t.t AS tbl, m.m AS m,
       |    list(${sqlHash("'plane_' || t.t || '_' || m.m || '_' || j.j", 8)} % 2001 - 1000
       |         ORDER BY j.j) AS pv
       |  FROM generate_series(0, ${nTables - 1}) t(t), generate_series(0, ${nPlanes - 1}) m(m),
       |       generate_series(0, 63) j(j)
       |  GROUP BY t.t, m.m),
       |buckets AS MATERIALIZED (
       |  SELECT v.sid, p.tbl,
       |    SUM(CASE WHEN list_dot_product(v.qv, p.pv) > 0
       |        THEN (CAST(1 AS BIGINT) << p.m) ELSE 0 END) AS bucket
       |  FROM v CROSS JOIN planes p
       |  GROUP BY v.sid, p.tbl)""".stripMargin

  /** Random-hyperplane LSH CTE chain (s2 oracle + the s16 lsh recall row):
    * md5-derived planes (the Similarity.plane formula), per-table sign
    * buckets, bucket-collision candidates, exact-cosine scoring. Ends at
    * `sc (qid, nid, cosine)`; callers rank. Parameterized because the two
    * call sites tune for different goals: s2's (8 tables x 10 planes)
    * optimizes precision-at-cost, the recall row's (8 x 4) trades bucket
    * size for collision probability (at 10 planes a true neighbor at
    * cosine ~0.3 collides with probability (1 - theta/pi)^10 ~ 0.003 per
    * table — measured recall@5 0.025; at 4 planes it is ~0.1 per table,
    * 0.73-0.80 over 8 tables).
    */
  private def lshCtes(nTables: Int, nPlanes: Int): String =
    s"""${lshIndexCtes(nTables, nPlanes)},
       |cand AS (SELECT DISTINCT a.sid AS qid, b.sid AS nid
       |  FROM buckets a JOIN buckets b
       |    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.sid <> b.sid),
       |sc AS (SELECT c.qid, c.nid, ${sqlCosine("qa.qv", "nb.qv")} AS cosine
       |  FROM cand c JOIN v qa ON c.qid = qa.sid JOIN v nb ON c.nid = nb.sid)""".stripMargin

  /** Multi-probe LSH CTE chain: the same index, but each query (sid < 8)
    * probes every bucket within `maxFlips` sign-bit XOR flips. Ends at
    * `sc (qid, nid, cosine)`.
    */
  private def lshMultiProbeCtes(nTables: Int, nPlanes: Int): String =
    s"""${lshIndexCtes(nTables, nPlanes)},
       |fl AS (SELECT CAST(0 AS BIGINT) AS flip
       |  UNION ALL SELECT (CAST(1 AS BIGINT) << f)
       |    FROM generate_series(0, ${nPlanes - 1}) g(f)
       |  UNION ALL SELECT xor(CAST(1 AS BIGINT) << a.a, CAST(1 AS BIGINT) << b.b)
       |    FROM generate_series(0, ${nPlanes - 1}) a(a),
       |         generate_series(0, ${nPlanes - 1}) b(b) WHERE a.a < b.b),
       |probes AS (SELECT sid, tbl, xor(bucket, flip) AS bucket
       |  FROM buckets, fl WHERE sid < 8),
       |cand AS (SELECT DISTINCT p.sid AS qid, b.sid AS nid
       |  FROM probes p JOIN buckets b
       |    ON p.tbl = b.tbl AND p.bucket = b.bucket AND p.sid <> b.sid),
       |sc AS (SELECT c.qid, c.nid, ${sqlCosine("qa.qv", "nb.qv")} AS cosine
       |  FROM cand c JOIN v qa ON c.qid = qa.sid JOIN v nb ON c.nid = nb.sid)""".stripMargin

  /** IVF-flat CTE chain (s3 oracle + the s16 ivf_flat recall row): seeded
    * cells, top-1 membership, top-nProbe probing, exact-cosine scoring
    * within probed cells. Ends at `sc (qid, nid, cosine)`; callers rank.
    */
  private def ivfFlatCtes(nCells: Int, nProbe: Int): String =
    s"""c AS (SELECT sid AS cid, qv AS cv FROM v ORDER BY sid LIMIT $nCells),
       |scored AS (SELECT v.sid, v.qv, c.cid, ${sqlCosine("v.qv", "c.cv")} AS ccos
       |  FROM v CROSS JOIN c),
       |ranked AS MATERIALIZED (SELECT sid, qv, cid, ccos,
       |    ROW_NUMBER() OVER (PARTITION BY sid ORDER BY ccos DESC, cid) AS crank
       |  FROM scored),
       |members AS (SELECT cid, sid AS nid, qv AS nqv FROM ranked WHERE crank = 1),
       |probes AS (SELECT cid, sid AS qid, qv AS qqv FROM ranked WHERE crank <= $nProbe),
       |sc AS (SELECT qid, nid, ${sqlCosine("qqv", "nqv")} AS cosine
       |  FROM probes JOIN members USING (cid) WHERE qid <> nid)""".stripMargin

  /** Exact top-5 per query over `sc`, shared by the cosine-ranked ANN
    * oracles.
    */
  private val cosineRankSelect: String =
    """SELECT qid, nid, cosine, rank FROM (
      |  SELECT qid, nid, cosine,
      |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rank
      |  FROM sc)
      |WHERE rank <= 5""".stripMargin

  // ---- definitions --------------------------------------------------------

  val defs: Seq[QueryDef] = Seq(

    // == text analysis ==

    QueryDef(
      "t1_token_stats",
      s"""SELECT doc_id,
         |  len(regexp_split_to_array(trim(text), '\\s+')) AS ws_tokens,
         |  len(regexp_extract_all(text, '${TextOps.bpeishPattern}')) AS bpe_tokens,
         |  length(text) AS n_chars_m
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        TextOps.wsTokenCount(col("text")).cast("long").as("ws_tokens"),
        TextOps.bpeishTokenCount(col("text")).cast("long").as("bpe_tokens"),
        length(col("text")).cast("long").as("n_chars_m"))
        .orderBy(col("doc_id"))
    },

    QueryDef(
      "t2_quality_score",
      s"""SELECT doc_id, n_words, punct_ct, stop_ct,
         |  0.4 * least(1.0, n_words / 100.0) + 0.3 * (1.0 - punct_ct / n_chars)
         |    + 0.3 * least(1.0, 4.0 * stop_ct / n_words) AS quality
         |FROM (SELECT doc_id,
         |  greatest(CAST(len(string_split(text, ' ')) AS DOUBLE), 1.0) AS n_words,
         |  greatest(CAST(length(text) AS DOUBLE), 1.0) AS n_chars,
         |  CAST(len(regexp_extract_all(text, '[^a-z0-9 ]')) AS DOUBLE) AS punct_ct,
         |  CAST(len(list_filter(string_split(text, ' '),
         |    w -> w IN (${sqlList(TextOps.stopwords)}))) AS DOUBLE) AS stop_ct
         |FROM documents) ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        greatest(TextOps.nWords(col("text")).cast("double"), lit(1.0)).as("n_words"),
        greatest(length(col("text")).cast("double"), lit(1.0)).as("n_chars"),
        TextOps.punctCount(col("text")).cast("double").as("punct_ct"),
        TextOps.stopwordCount(col("text")).cast("double").as("stop_ct"))
        .select(col("doc_id"), col("n_words"), col("punct_ct"), col("stop_ct"),
          (lit(0.4) * least(lit(1.0), col("n_words") / 100.0)
            + lit(0.3) * (lit(1.0) - col("punct_ct") / col("n_chars"))
            + lit(0.3) * least(lit(1.0), lit(4.0) * col("stop_ct") / col("n_words")))
            .as("quality"))
        .orderBy(col("doc_id"))
    },

    QueryDef(
      "t3_lang_id",
      s"""SELECT doc_id, lang,
         |  CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
         |       WHEN s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
         |       WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
         |       WHEN s_fr >= s_zh THEN 'fr' ELSE 'zh' END AS lang_pred
         |FROM (SELECT doc_id, lang,
         |${TextOps.langMarkers.map { case (l, ms) =>
             s"  len(list_filter(string_split(text, ' '), w -> w IN (${sqlList(ms)}))) AS s_$l"
           }.mkString(",\n")}
         |FROM documents) ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"), col("lang"),
        TextOps.langId(col("text")).as("lang_pred"))
        .orderBy(col("doc_id"))
    },

    QueryDef(
      "t4_fingerprint",
      """SELECT doc_id, md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
        .orderBy(col("doc_id"))
    },

    QueryDef(
      "t5_winnow_fingerprints",
      s"""WITH pos AS (
         |  SELECT doc_id AS sid, i AS pos, len(text) - 7 AS npos,
         |    ${sqlHash("substr(text, i, 8)", 12)} AS h
         |  FROM documents, unnest(generate_series(1, len(text) - 7)) AS t(i)
         |  WHERE len(text) >= 8),
         |win AS (
         |  SELECT sid, pos, npos,
         |    min(h) OVER (PARTITION BY sid ORDER BY pos
         |      ROWS BETWEEN CURRENT ROW AND 9 FOLLOWING) AS wmin
         |  FROM pos)
         |SELECT DISTINCT sid, wmin AS fp FROM win
         |WHERE pos <= npos - 9 ORDER BY sid, fp""".stripMargin) { (s, d) =>
      TextOps.winnowFingerprints(Tables.documents(s, d), "doc_id", "text", k = 8, w = 10)
        .orderBy(col("sid"), col("fp"))
    },

    // Language ID over a synthesized multilingual corpus: the fixtures' text
    // is English word-salad for every lang label (t3 exercises only the en
    // branch), so this query constructs per-lang text — a 20-char slice of
    // the doc plus the label's marker-dense phrase — and predicts FROM TEXT
    // ONLY. Every langId branch fires and the prediction column genuinely
    // discriminates (all 5 values appear).
    QueryDef(
      "t6_lang_id_mixed",
      s"""SELECT doc_id, lang,
         |  CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
         |       WHEN s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
         |       WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
         |       WHEN s_fr >= s_zh THEN 'fr' ELSE 'zh' END AS lang_pred
         |FROM (SELECT doc_id, lang,
         |${TextOps.langMarkers.map { case (l, ms) =>
             s"  len(list_filter(string_split(t2, ' '), w -> w IN (${sqlList(ms)}))) AS s_$l"
           }.mkString(",\n")}
         |FROM (SELECT doc_id, lang,
         |  substr(text, 1, 20) || ' ' || CASE lang
         |${TextOps.langMarkers.map { case (l, _) =>
             s"    WHEN '$l' THEN '${TextOps.langPhrase(l)}'"
           }.mkString("\n")}
         |  END AS t2 FROM documents))
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val phrase = TextOps.langMarkers.foldLeft(lit(null).cast("string")) {
        case (acc, (l, _)) => when(col("lang") === l, TextOps.langPhrase(l)).otherwise(acc)
      }
      Tables.documents(s, d)
        .withColumn("t2", concat(substring(col("text"), 1, 20), lit(" "), phrase))
        .select(col("doc_id"), col("lang"), TextOps.langId(col("t2")).as("lang_pred"))
        .orderBy(col("doc_id"))
    },

    // Bigram corpus statistics: repetition ratio + corpus-frequency coverage
    // (integer-exact LM-plausibility stand-in; TextOps.bigramStats Scaladoc).
    QueryDef(
      "t7_bigram_stats",
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |bg AS (SELECT doc_id, w[i] || ' ' || w[i+1] AS g
        |  FROM toks, unnest(generate_series(1, len(w) - 1)) AS t(i)),
        |cnt AS (SELECT g, COUNT(*) AS c FROM bg GROUP BY g)
        |SELECT doc_id AS sid, COUNT(*) AS n_bigrams,
        |  COUNT(DISTINCT g) AS n_distinct,
        |  1.0 - CAST(COUNT(DISTINCT g) AS DOUBLE) / COUNT(*) AS rep_ratio,
        |  CAST(SUM(CASE WHEN c >= 50 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS coverage
        |FROM bg JOIN cnt USING (g) GROUP BY doc_id ORDER BY sid""".stripMargin) { (s, d) =>
      TextOps.bigramStats(Tables.documents(s, d), "doc_id", "text", minCount = 50)
        .orderBy(col("sid"))
    },

    // Gopher repetition signals (TextOps.repetitionSignals, n = 2): top
    // n-gram occurrence share + duplicate-occurrence share per document —
    // the looping-text filters the t11 length/stopword rules can't see.
    QueryDef(
      "t13_repetition_signals",
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |bg AS (SELECT doc_id, ${sqlHash("w[i] || ' ' || w[i+1]", 12)} AS g
         |  FROM toks, unnest(generate_series(1, len(w) - 1)) AS t(i)),
         |cnt AS (SELECT doc_id AS sid, g, COUNT(*) AS c FROM bg GROUP BY 1, 2)
         |SELECT sid, CAST(SUM(c) AS BIGINT) AS n_grams,
         |  CAST(MAX(c) AS BIGINT) AS top_count,
         |  CAST(MAX(c) AS DOUBLE) / SUM(c) AS top_frac,
         |  1.0 - CAST(COUNT(*) AS DOUBLE) / SUM(c) AS dup_frac
         |FROM cnt GROUP BY sid ORDER BY sid""".stripMargin) { (s, d) =>
      TextOps.repetitionSignals(Tables.documents(s, d), "doc_id", "text", 2)
        .orderBy(col("sid"))
    },

    // REAL BPE merge training (TextOps.bpeMerges): 6 rounds of
    // count-pairs -> merge-argmax over the corpus word-frequency table. The
    // oracle replays every round with a DIFFERENT algorithm (window-function
    // run-parity greedy matching over position rows vs the engine's
    // per-word left fold), unrolled one CTE chain per round — so tie-break
    // order, overlap counting and greedy merge semantics all hash-check.
    QueryDef(
      "t14_bpe_vocab",
      s"""WITH toks AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
         |wf AS (SELECT w, COUNT(*) AS freq FROM toks WHERE len(w) > 0 GROUP BY w),
         |st0 AS (SELECT w AS wid, freq, CAST(pos AS BIGINT) AS pos,
         |    substr(w, pos, 1) AS sym
         |  FROM wf, unnest(generate_series(1, len(w))) AS t(pos)),
         |${(1 to 6).map(bpeRoundCtes).mkString(",\n")}
         |SELECT * FROM (
         |${(1 to 6).map(r =>
             s"  SELECT CAST($r AS BIGINT) AS rank, l AS lft, r AS rgt, l || r AS merged, c AS pair_freq FROM top$r")
             .mkString("\n  UNION ALL\n")}
         |) ORDER BY rank""".stripMargin) { (s, d) =>
      TextOps.bpeMerges(Tables.documents(s, d), "text", rounds = 6)
        .orderBy(col("rank"))
    },

    // BATCHED BPE trainer through its exact-degenerate mode (batchK = 1):
    // the scalable multi-merge-per-sweep code path (TextOps.bpeMergesBatched,
    // VERDICT r7 ask #5) hash-checked against the SAME exact-BPE oracle as
    // t14 — K = 1 must reproduce argmax BPE bit-for-bit. The K > 1
    // approximation (non-overlapping merge batches, sub-linear jobs) is
    // property-tested in TextOpsSpec where SQL can't express it.
    QueryDef(
      "t16_bpe_batched",
      s"""WITH toks AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
         |wf AS (SELECT w, COUNT(*) AS freq FROM toks WHERE len(w) > 0 GROUP BY w),
         |st0 AS (SELECT w AS wid, freq, CAST(pos AS BIGINT) AS pos,
         |    substr(w, pos, 1) AS sym
         |  FROM wf, unnest(generate_series(1, len(w))) AS t(pos)),
         |${(1 to 6).map(bpeRoundCtes).mkString(",\n")}
         |SELECT * FROM (
         |${(1 to 6).map(r =>
             s"  SELECT CAST($r AS BIGINT) AS rank, l AS lft, r AS rgt, l || r AS merged, c AS pair_freq FROM top$r")
             .mkString("\n  UNION ALL\n")}
         |) ORDER BY rank""".stripMargin) { (s, d) =>
      TextOps.bpeMergesBatched(Tables.documents(s, d), "text", rounds = 6,
          batchK = 1)
        .orderBy(col("rank"))
    },

    // BPE APPLY (TextOps.bpeSegment — the NATIVE kernel, plans/BpeSegment):
    // segment every distinct corpus word with the 6 trained merges. The
    // oracle is t14's final training state — st6 IS the segmentation of
    // every word after 6 merges — so train and apply are hash-checked to
    // agree exactly. The apply path is one codegen'd per-row kernel with
    // the merges as plan constants (vocab-size-independent, so a 30k-merge
    // production table applies through the same plan): zero shuffle beyond
    // the word distinct. The declarative fold (bpeSegmentCol) remains as
    // the spec twin.
    QueryDef(
      "t15_bpe_segment",
      s"""WITH toks AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
         |wf AS (SELECT w, COUNT(*) AS freq FROM toks WHERE len(w) > 0 GROUP BY w),
         |st0 AS (SELECT w AS wid, freq, CAST(pos AS BIGINT) AS pos,
         |    substr(w, pos, 1) AS sym
         |  FROM wf, unnest(generate_series(1, len(w))) AS t(pos)),
         |${(1 to 6).map(bpeRoundCtes).mkString(",\n")}
         |SELECT wid AS word, CAST(COUNT(*) AS BIGINT) AS n_pieces,
         |  string_agg(sym, ' ' ORDER BY pos) AS pieces
         |FROM st6 GROUP BY wid ORDER BY word""".stripMargin) { (s, d) =>
      import s.implicits._
      val docs = Tables.documents(s, d)
      val merges = TextOps.bpeMerges(docs, "text", rounds = 6)
        .orderBy(col("rank")).select(col("lft"), col("rgt"))
        .as[(String, String)].collect().toSeq
      docs.select(explode(split(col("text"), " ")).as("word"))
        .filter(length(col("word")) > 0)
        .distinct()
        .select(col("word"),
          TextOps.bpeSegment(col("word"), merges).as("p"))
        .select(col("word"), size(col("p")).cast("long").as("n_pieces"),
          array_join(col("p"), " ").as("pieces"))
        .orderBy(col("word"))
    },

    // PII detect + redact. The fixtures' word-salad has no PII (an inert
    // detector would verify nothing — the t3 lesson), so the query
    // synthesizes deterministic PII for 3 of every 5 docs from doc_id and
    // the oracle mirrors the synthesis: counts prove detection
    // discriminates, md5(redacted) proves byte-exact scrubbing.
    QueryDef(
      "t8_pii_scrub",
      s"""WITH pii AS (SELECT doc_id,
         |  text || CASE doc_id % 5
         |    WHEN 0 THEN ' contact bob' || doc_id || '@example.com now'
         |    WHEN 1 THEN ' visit https://site' || doc_id || '.example.org/page'
         |    WHEN 2 THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' today'
         |    ELSE '' END AS t2
         |  FROM documents)
         |SELECT doc_id,
         |  len(regexp_extract_all(t2, '${TextOps.emailRe}')) AS n_emails,
         |  len(regexp_extract_all(t2, '${TextOps.urlRe}')) AS n_urls,
         |  len(regexp_extract_all(t2, '${TextOps.phoneRe}')) AS n_phones,
         |  md5(regexp_replace(regexp_replace(regexp_replace(t2,
         |    '${TextOps.urlRe}', '<URL>', 'g'),
         |    '${TextOps.emailRe}', '<EMAIL>', 'g'),
         |    '${TextOps.phoneRe}', '<PHONE>', 'g')) AS redacted_md5
         |FROM pii ORDER BY doc_id""".stripMargin) { (s, d) =>
      val t2 = concat(col("text"),
        when(col("doc_id") % 5 === 0,
          concat(lit(" contact bob"), col("doc_id").cast("string"), lit("@example.com now")))
          .when(col("doc_id") % 5 === 1,
            concat(lit(" visit https://site"), col("doc_id").cast("string"), lit(".example.org/page")))
          .when(col("doc_id") % 5 === 2,
            concat(lit(" call 555-"),
              lpad((col("doc_id") % 10000).cast("string"), 4, "0"), lit(" today")))
          .otherwise(lit("")))
      Tables.documents(s, d).withColumn("t2", t2)
        .select(col("doc_id"),
          TextOps.piiCount(col("t2"), TextOps.emailRe).cast("long").as("n_emails"),
          TextOps.piiCount(col("t2"), TextOps.urlRe).cast("long").as("n_urls"),
          TextOps.piiCount(col("t2"), TextOps.phoneRe).cast("long").as("n_phones"),
          md5(TextOps.redactPii(col("t2"))).as("redacted_md5"))
        .orderBy(col("doc_id"))
    },

    // Deterministic sampling / splitting (operators.Sampling): md5-bucket
    // membership, never rand(), so engine and oracle agree row-for-row.
    QueryDef(
      "sm1_hash_sample",
      s"""SELECT doc_id, lang FROM documents
         |WHERE ${sqlHash("'s1:' || doc_id", 8)} < ${math.round(0.1 * 4294967296L)}
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      graft.operators.Sampling.hashSample(Tables.documents(s, d), "doc_id", 0.1, "s1")
        .select(col("doc_id"), col("lang")).orderBy(col("doc_id"))
    },

    QueryDef(
      "sm2_split_assign",
      s"""SELECT doc_id,
         |  CASE WHEN ${sqlHash("'sp:' || doc_id", 8)} < ${math.round(0.8 * 4294967296L)} THEN 'train'
         |       WHEN ${sqlHash("'sp:' || doc_id", 8)} < ${math.round(0.9 * 4294967296L)} THEN 'val'
         |       ELSE 'test' END AS split
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      graft.operators.Sampling.splitAssign(Tables.documents(s, d), "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), "sp")
        .select(col("doc_id"), col("split")).orderBy(col("doc_id"))
    },

    // LEAKAGE-SAFE split (Sampling.splitAssignByCluster): the split keys on
    // each document's near-dup CLUSTER representative (d9's connected
    // components; singletons key on their own id), so no near-duplicate of
    // a training doc can land in val/test. Oracle = d9's recursive-CTE
    // component labels composed with sm2's md5 split CASE over the
    // representative — leakage safety is hash-checked end to end, clusters
    // included.
    QueryDef(
      "sp1_leakage_safe_split",
      s"""WITH RECURSIVE $shingleCtes,
         |$sigSelect,
         |$bandsCte,
         |$candidatesCte,
         |inter AS (SELECT ida, idb, COUNT(*) AS n_inter
         |  FROM cand JOIN sh a ON ida = a.sid JOIN sh b ON idb = b.sid AND a.g = b.g
         |  GROUP BY ida, idb),
         |pairs AS (SELECT ida, idb FROM (
         |  SELECT ida, idb,
         |    CAST(n_inter AS DOUBLE) / (sa.nsh + sb.nsh - n_inter) AS jaccard
         |  FROM inter JOIN sizes sa ON ida = sa.sid JOIN sizes sb ON idb = sb.sid
         |) WHERE jaccard >= 0.5),
         |bidir(a, b) AS (SELECT ida, idb FROM pairs UNION SELECT idb, ida FROM pairs),
         |nodes(x) AS (SELECT DISTINCT a FROM bidir),
         |r(x, y) AS (SELECT x, x FROM nodes
         |  UNION SELECT r.x, e.b FROM r JOIN bidir e ON e.a = r.y),
         |comp AS (SELECT x AS sid, min(y) AS component FROM r GROUP BY x),
         |rep AS (SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS rp
         |  FROM documents d LEFT JOIN comp c ON c.sid = d.doc_id)
         |SELECT doc_id,
         |  CASE WHEN ${sqlHash("'sp:' || rp", 8)} < ${math.round(0.8 * 4294967296L)} THEN 'train'
         |       WHEN ${sqlHash("'sp:' || rp", 8)} < ${math.round(0.9 * 4294967296L)} THEN 'val'
         |       ELSE 'test' END AS split
         |FROM rep ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val labels = graft.core.Storage.freeingIntermediates(s) {
        Dedup.connectedComponents(
          Dedup.minhashVerifiedPairs(docs, "doc_id", "text", 3, 0.5))
      }
      graft.operators.Sampling.splitAssignByCluster(docs, "doc_id", labels,
          "sid", "component",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), "sp")
        .select(col("doc_id"), col("split")).orderBy(col("doc_id"))
    },

    // Embargoed TEMPORAL split with entity-leakage annotation
    // (Sampling.temporalPurgedSplit — the purged time-series split, de
    // Prado 2018 ch.7): train < Jan 20, a 2-day embargo dropped, test >=
    // Jan 22, and every test event annotated cold_entity (its user has no
    // train events) — warm entities measure forecasting, cold ones
    // generalization. The oracle replays the cutoffs and the train-entity
    // left join.
    QueryDef(
      "sp2_temporal_purged_split",
      """WITH te AS (SELECT DISTINCT user_id FROM events
        |  WHERE ts < TIMESTAMP '2024-01-20 00:00:00'),
        |b AS (SELECT event_id, user_id,
        |    CASE WHEN ts < TIMESTAMP '2024-01-20 00:00:00' THEN 'train'
        |         ELSE 'test' END AS split
        |  FROM events
        |  WHERE ts < TIMESTAMP '2024-01-20 00:00:00'
        |     OR ts >= TIMESTAMP '2024-01-22 00:00:00')
        |SELECT b.event_id, b.split,
        |  b.split = 'test' AND te.user_id IS NULL AS cold_entity
        |FROM b LEFT JOIN te ON b.user_id = te.user_id
        |ORDER BY b.event_id""".stripMargin) { (s, d) =>
      graft.operators.Sampling.temporalPurgedSplit(Tables.events(s, d),
          "event_id", "user_id", "ts",
          java.sql.Timestamp.valueOf("2024-01-20 00:00:00"),
          java.sql.Timestamp.valueOf("2024-01-22 00:00:00"))
        .select(col("event_id"), col("split"), col("cold_entity"))
        .orderBy(col("event_id"))
    },

    // Stratified: keep every zh/fr doc, 20% of the rest — the language
    // rebalancing pass of a multilingual corpus build.
    QueryDef(
      "sm3_stratified_sample",
      s"""SELECT doc_id, lang FROM documents
         |WHERE ${sqlHash("'st:' || doc_id", 8)} <
         |  CASE WHEN lang IN ('zh', 'fr') THEN ${4294967296L} ELSE ${math.round(0.2 * 4294967296L)} END
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      graft.operators.Sampling.stratifiedSample(Tables.documents(s, d), "doc_id",
        "lang", Map("zh" -> 1.0, "fr" -> 1.0), defaultRate = 0.2, salt = "st")
        .select(col("doc_id"), col("lang")).orderBy(col("doc_id"))
    },

    // Subword tokenization (wordpiece/BPE inference): greedy longest-match
    // segmentation against a corpus-trained vocab (top-20 words + top-30
    // char bigrams + every corpus character). The engine runs a native
    // per-row expression with the vocab as a plan-time constant; the oracle
    // re-trains the IDENTICAL vocab in SQL and segments every distinct word
    // with a recursive CTE + longest-piece LATERAL probe — hash-equality
    // proves vocab training AND greedy segmentation match end to end.
    QueryDef(
      "t9_subword_count",
      """WITH RECURSIVE
        |toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |tk AS (SELECT doc_id, w FROM toks WHERE len(w) > 0),
        |words AS (SELECT DISTINCT w FROM tk),
        |vocab AS (
        |  SELECT w AS piece FROM (
        |    SELECT w, COUNT(*) AS c FROM tk GROUP BY w ORDER BY c DESC, w LIMIT 20)
        |  UNION
        |  SELECT bg AS piece FROM (
        |    SELECT substr(w, i, 2) AS bg, COUNT(*) AS c
        |    FROM tk, unnest(generate_series(1, len(w) - 1)) AS t(i)
        |    GROUP BY bg ORDER BY c DESC, bg LIMIT 30)
        |  UNION
        |  SELECT DISTINCT substr(w, i, 1)
        |  FROM words, unnest(generate_series(1, len(w))) AS t(i)),
        |seg(w, pos, n_pieces) AS (
        |  SELECT w, 1, 0 FROM words
        |  UNION ALL
        |  SELECT s.w, s.pos + len(b.piece), s.n_pieces + 1
        |  FROM seg s, LATERAL (SELECT piece FROM vocab v
        |    WHERE substr(s.w, s.pos, len(v.piece)) = v.piece
        |    ORDER BY len(v.piece) DESC LIMIT 1) b
        |  WHERE s.pos <= len(s.w)),
        |wp AS (SELECT w, max(n_pieces) AS np FROM seg WHERE pos > len(w) GROUP BY w),
        |per AS (SELECT doc_id, COUNT(*) AS n_words, CAST(SUM(np) AS BIGINT) AS n_subtokens
        |  FROM tk JOIN wp USING (w) GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(p.n_words, 0) AS n_words,
        |  coalesce(p.n_subtokens, 0) AS n_subtokens
        |FROM documents d LEFT JOIN per p USING (doc_id)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val vocab = TextOps.subwordVocab(docs, "text", topWords = 20, topBigrams = 30)
      docs.select(col("doc_id"),
        size(filter(split(col("text"), " "), w => length(w) > 0))
          .cast("long").as("n_words"),
        TextOps.subwordTokenCount(col("text"), vocab).as("n_subtokens"))
        .orderBy(col("doc_id"))
    },

    // == dedup ==

    QueryDef(
      "d1_dedup_exact",
      """SELECT md5(text) AS text_md5, min(doc_id) AS keeper_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY text_md5""".stripMargin) { (s, d) =>
      Dedup.exact(Tables.documents(s, d), "doc_id", "text")
        .orderBy(col("text_md5"))
    },

    QueryDef(
      "d2_dedup_fingerprint",
      """SELECT md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fp,
        |  min(doc_id) AS keeper_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY fp""".stripMargin) { (s, d) =>
      Dedup.byFingerprint(Tables.documents(s, d), "doc_id", "text")
        .orderBy(col("fp"))
    },

    // SOFT dedup (Dedup.softDedupWeights — the SlimPajama/D4 alternative
    // to d2's hard removal): every doc keeps its fingerprint cluster size
    // and the 1/n down-weight a loss-reweighted trainer consumes, so
    // duplicated text still trains but its gradient mass sums to one copy.
    // Cluster sizes ride a map-side-combinable groupBy + streaming join
    // back on fp (NOT a count-over-fp window — a hot boilerplate
    // fingerprint would pin one window partition in a single task);
    // weight is one IEEE division of an exact integer.
    QueryDef(
      "d34_soft_dedup_weights",
      """WITH f AS (SELECT doc_id,
        |    md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fp
        |  FROM documents),
        |sz AS (SELECT fp, COUNT(*) AS n_copies FROM f GROUP BY fp)
        |SELECT doc_id, fp, n_copies,
        |  CAST(1 AS DOUBLE) / CAST(n_copies AS DOUBLE) AS weight
        |FROM f JOIN sz USING (fp)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      Dedup.softDedupWeights(Tables.documents(s, d), "doc_id", "text")
        .orderBy(col("doc_id"))
    },

    QueryDef(
      "d3_minhash_candidates",
      s"""WITH $shingleCtes,
         |$sigSelect,
         |$bandsCte,
         |$candidatesCte
         |SELECT ida, idb FROM cand ORDER BY ida, idb""".stripMargin) { (s, d) =>
      Dedup.minhashCandidates(Tables.documents(s, d), "doc_id", "text", 3)
        .orderBy(col("ida"), col("idb"))
    },

    QueryDef(
      "d4_minhash_verified",
      s"""WITH $shingleCtes,
         |$sigSelect,
         |$bandsCte,
         |$candidatesCte,
         |inter AS (SELECT ida, idb, COUNT(*) AS n_inter
         |  FROM cand JOIN sh a ON ida = a.sid JOIN sh b ON idb = b.sid AND a.g = b.g
         |  GROUP BY ida, idb)
         |SELECT * FROM (
         |  SELECT ida, idb,
         |    CAST(n_inter AS DOUBLE) / (sa.nsh + sb.nsh - n_inter) AS jaccard
         |  FROM inter JOIN sizes sa ON ida = sa.sid JOIN sizes sb ON idb = sb.sid
         |) WHERE jaccard >= 0.5 ORDER BY ida, idb""".stripMargin) { (s, d) =>
      Dedup.minhashVerifiedPairs(Tables.documents(s, d), "doc_id", "text", 3, 0.5)
        .orderBy(col("ida"), col("idb"))
    },

    QueryDef(
      "d5_jaccard_bruteforce",
      s"""WITH $shingleCtes,
         |inter AS (SELECT a.sid AS ida, b.sid AS idb, COUNT(*) AS n_inter
         |  FROM sh a JOIN sh b ON a.g = b.g AND a.sid < b.sid
         |  GROUP BY 1, 2)
         |SELECT * FROM (
         |  SELECT ida, idb,
         |    CAST(n_inter AS DOUBLE) / (sa.nsh + sb.nsh - n_inter) AS jaccard
         |  FROM inter JOIN sizes sa ON ida = sa.sid JOIN sizes sb ON idb = sb.sid
         |) WHERE jaccard >= 0.5 ORDER BY ida, idb""".stripMargin) { (s, d) =>
      Dedup.jaccardPairs(Tables.documents(s, d), "doc_id", "text", 3, 0.5)
        .orderBy(col("ida"), col("idb"))
    },

    QueryDef(
      "d6_simhash",
      s"""WITH $simhashCtes
         |SELECT sid, simhash FROM sim ORDER BY sid""".stripMargin) { (s, d) =>
      Dedup.simhash(Tables.documents(s, d), "doc_id", "text")
        .orderBy(col("sid"))
    },

    QueryDef(
      "d7_simhash_pairs",
      s"""WITH $simhashCtes,
         |chunks AS (
         |${(0 until 4).map(c =>
             s"  SELECT sid, simhash, $c AS chunk, (simhash >> ${12 * c}) & 4095 AS ckey FROM sim")
             .mkString("\n  UNION ALL\n")}
         |)
         |SELECT * FROM (
         |  SELECT DISTINCT a.sid AS ida, b.sid AS idb,
         |    bit_count(xor(a.simhash, b.simhash)) AS hamming
         |  FROM chunks a JOIN chunks b
         |    ON a.chunk = b.chunk AND a.ckey = b.ckey AND a.sid < b.sid
         |) WHERE hamming <= 6 ORDER BY ida, idb""".stripMargin) { (s, d) =>
      Dedup.simhashPairs(Dedup.simhash(Tables.documents(s, d), "doc_id", "text"), 6)
        .orderBy(col("ida"), col("idb"))
    },

    // Transitive near-dup clusters: LSH-verified pairs -> connected
    // components; each doc labeled with its component's min id. Oracle is an
    // independent algorithm (recursive-CTE closure vs label propagation).
    QueryDef(
      "d9_neardup_components",
      s"""WITH RECURSIVE $shingleCtes,
         |$sigSelect,
         |$bandsCte,
         |$candidatesCte,
         |inter AS (SELECT ida, idb, COUNT(*) AS n_inter
         |  FROM cand JOIN sh a ON ida = a.sid JOIN sh b ON idb = b.sid AND a.g = b.g
         |  GROUP BY ida, idb),
         |pairs AS (SELECT ida, idb FROM (
         |  SELECT ida, idb,
         |    CAST(n_inter AS DOUBLE) / (sa.nsh + sb.nsh - n_inter) AS jaccard
         |  FROM inter JOIN sizes sa ON ida = sa.sid JOIN sizes sb ON idb = sb.sid
         |) WHERE jaccard >= 0.5),
         |bidir(a, b) AS (SELECT ida, idb FROM pairs UNION SELECT idb, ida FROM pairs),
         |nodes(x) AS (SELECT DISTINCT a FROM bidir),
         |r(x, y) AS (SELECT x, x FROM nodes
         |  UNION SELECT r.x, e.b FROM r JOIN bidir e ON e.a = r.y)
         |SELECT x AS sid, min(y) AS component FROM r GROUP BY x
         |ORDER BY sid""".stripMargin) { (s, d) =>
      // the outer wrapper frees the verified-pairs leaf the CC result no
      // longer references — the query leaves ONE leaf (the labels) behind
      graft.core.Storage.freeingIntermediates(s) {
        Dedup.connectedComponents(
          Dedup.minhashVerifiedPairs(Tables.documents(s, d), "doc_id", "text", 3, 0.5))
      }.orderBy(col("sid"))
    },

    // Cluster-size HISTOGRAM over d9's verified near-dup components
    // (Dedup.clusterSizeHistogram), singletons INCLUDED — the dedup-policy
    // one-pager: how much corpus mass sits in big clusters decides
    // keep-first vs down-weight vs drop. Oracle = d9's recursive-closure
    // chain + a singleton union + two grouped counts.
    QueryDef(
      "d36_cluster_histogram",
      s"""WITH RECURSIVE $shingleCtes,
         |$sigSelect,
         |$bandsCte,
         |$candidatesCte,
         |inter AS (SELECT ida, idb, COUNT(*) AS n_inter
         |  FROM cand JOIN sh a ON ida = a.sid JOIN sh b ON idb = b.sid AND a.g = b.g
         |  GROUP BY ida, idb),
         |pairs AS (SELECT ida, idb FROM (
         |  SELECT ida, idb,
         |    CAST(n_inter AS DOUBLE) / (sa.nsh + sb.nsh - n_inter) AS jaccard
         |  FROM inter JOIN sizes sa ON ida = sa.sid JOIN sizes sb ON idb = sb.sid
         |) WHERE jaccard >= 0.5),
         |bidir(a, b) AS (SELECT ida, idb FROM pairs UNION SELECT idb, ida FROM pairs),
         |nodes(x) AS (SELECT DISTINCT a FROM bidir),
         |r(x, y) AS (SELECT x, x FROM nodes
         |  UNION SELECT r.x, e.b FROM r JOIN bidir e ON e.a = r.y),
         |comp AS (SELECT x AS sid, min(y) AS component FROM r GROUP BY x),
         |allc AS (SELECT sid, component FROM comp
         |  UNION ALL SELECT doc_id, doc_id FROM documents
         |    WHERE doc_id NOT IN (SELECT sid FROM comp)),
         |sz AS (SELECT component, CAST(COUNT(*) AS BIGINT) AS cluster_size
         |  FROM allc GROUP BY 1)
         |SELECT cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters,
         |  CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs
         |FROM sz GROUP BY 1 ORDER BY cluster_size""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val comp = graft.core.Storage.freeingIntermediates(s) {
        Dedup.connectedComponents(
          Dedup.minhashVerifiedPairs(docs, "doc_id", "text", 3, 0.5))
      }
      Dedup.clusterSizeHistogram(comp, docs, "doc_id")
        .orderBy(col("cluster_size"))
    },

    // One-call corpus dedup: keep only canonical docs (min id per verified
    // near-dup component; exact dups are jaccard-1.0 members of the same
    // components).
    QueryDef(
      "d10_dedup_corpus",
      s"""WITH RECURSIVE $shingleCtes,
         |$sigSelect,
         |$bandsCte,
         |$candidatesCte,
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
         |  UNION SELECT r.x, e.b FROM r JOIN bidir e ON e.a = r.y)
         |SELECT doc_id, n_chars FROM documents
         |WHERE doc_id NOT IN (SELECT x FROM r GROUP BY x HAVING min(y) < x)
         |  AND doc_id NOT IN (
         |    SELECT d.doc_id FROM documents d
         |    JOIN (SELECT md5(text) AS m, min(doc_id) AS k FROM documents GROUP BY 1) g
         |      ON md5(d.text) = g.m WHERE d.doc_id <> g.k)
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      Dedup.dedupCorpus(Tables.documents(s, d), "doc_id", "text", 3, 0.5)
        .select(col("doc_id"), col("n_chars"))
        .orderBy(col("doc_id"))
    },

    // Incremental dedup: the new batch (doc_id % 4 = 0) is banded fresh;
    // the corpus index is REUSED (Dedup.bandIndex), and only pairs touching
    // the batch come back. Band keys are per-document, so this must equal
    // the full pipeline's pairs filtered to batch-touching ones — which is
    // what the oracle computes.
    QueryDef(
      "d12_dedup_incremental",
      s"""WITH $shingleCtes,
         |$sigSelect,
         |$bandsCte,
         |$candidatesCte,
         |inter AS (SELECT ida, idb, COUNT(*) AS n_inter
         |  FROM cand JOIN sh a ON ida = a.sid JOIN sh b ON idb = b.sid AND a.g = b.g
         |  GROUP BY ida, idb)
         |SELECT * FROM (
         |  SELECT ida, idb,
         |    CAST(n_inter AS DOUBLE) / (sa.nsh + sb.nsh - n_inter) AS jaccard
         |  FROM inter JOIN sizes sa ON ida = sa.sid JOIN sizes sb ON idb = sb.sid
         |) WHERE jaccard >= 0.5 AND (ida % 4 = 0 OR idb % 4 = 0)
         |ORDER BY ida, idb""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val newBatch = docs.filter(col("doc_id") % 4 === 0)
      val corpus = docs.filter(col("doc_id") % 4 =!= 0)
      val corpusIndex = Dedup.bandIndex(corpus, "doc_id", "text", 3)
      Dedup.incrementalNearDupPairs(newBatch, corpus, corpusIndex,
        "doc_id", "text", 3, 0.5)
        .orderBy(col("ida"), col("idb"))
    },

    // The PERSISTED-index incremental flow end-to-end: the corpus band
    // index is written as a BUCKETED managed table (Dedup.writeBandIndex,
    // bucketed on the candidate join's equi-keys) and read back for the
    // incremental join — the shape a nightly ingest actually runs, where
    // the corpus side of the candidate join is exchange-free
    // (DedupSpec asserts the plan; this query hash-checks the results
    // through the real write -> catalog -> read path). Same oracle as d12:
    // storage layout must not change answers.
    QueryDef(
      "d18_incremental_bucketed",
      s"""WITH $shingleCtes,
         |$sigSelect,
         |$bandsCte,
         |$candidatesCte,
         |inter AS (SELECT ida, idb, COUNT(*) AS n_inter
         |  FROM cand JOIN sh a ON ida = a.sid JOIN sh b ON idb = b.sid AND a.g = b.g
         |  GROUP BY ida, idb)
         |SELECT * FROM (
         |  SELECT ida, idb,
         |    CAST(n_inter AS DOUBLE) / (sa.nsh + sb.nsh - n_inter) AS jaccard
         |  FROM inter JOIN sizes sa ON ida = sa.sid JOIN sizes sb ON idb = sb.sid
         |) WHERE jaccard >= 0.5 AND (ida % 4 = 0 OR idb % 4 = 0)
         |ORDER BY ida, idb""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val newBatch = docs.filter(col("doc_id") % 4 === 0)
      val corpus = docs.filter(col("doc_id") % 4 =!= 0)
      // per-session table name: two sessions sharing a warehouse must not
      // race on one global name (ADVICE r7 #3). The bucketed write IS part
      // of the measured query — the nightly flow pays it too.
      val table = "graft_band_index_d18_" +
        s.sparkContext.applicationId.replaceAll("[^a-zA-Z0-9]", "_")
      graft.sources.Bucketing.ensureCleanTable(s, table)
      Dedup.writeBandIndex(corpus, "doc_id", "text", 3, table, nBuckets = 8)
      Dedup.incrementalNearDupPairs(newBatch, corpus, s.table(table),
        "doc_id", "text", 3, 0.5)
        .orderBy(col("ida"), col("idb"))
    },

    // Batch twin of the STREAMING ingestion-dedup flow (VERDICT r7 ask #4):
    // two micro-batches (doc_id % 8 = 0, then % 8 = 4) replayed against the
    // bucketed corpus band index exactly as a foreachBatch running
    // EventStreams.ingestBatchIdempotentBucketed does — round 1's verified pairs, round-1 LOSERS excluded
    // from the index (only survivors' bands are appended), then round 2
    // dedups against corpus + round-1 survivors. The oracle derives both
    // rounds from the global verified-pair set: round 2 drops pairs whose
    // batch-1 side lost round 1 (those bands never entered the index).
    // EventStreamsSpec asserts the live foreachBatch stream produces
    // byte-identical pairs, so the streaming path is oracle-anchored.
    QueryDef(
      "ds1_streaming_dedup_twin",
      s"""WITH $shingleCtes,
         |$sigSelect,
         |$bandsCte,
         |$candidatesCte,
         |inter AS (SELECT ida, idb, COUNT(*) AS n_inter
         |  FROM cand JOIN sh a ON ida = a.sid JOIN sh b ON idb = b.sid AND a.g = b.g
         |  GROUP BY ida, idb),
         |vp AS (SELECT ida, idb, jaccard FROM (
         |  SELECT ida, idb,
         |    CAST(n_inter AS DOUBLE) / (sa.nsh + sb.nsh - n_inter) AS jaccard
         |  FROM inter JOIN sizes sa ON ida = sa.sid JOIN sizes sb ON idb = sb.sid
         |) WHERE jaccard >= 0.5),
         |pa AS (SELECT ida, idb, jaccard FROM vp
         |  WHERE (ida % 8 = 0 OR idb % 8 = 0) AND ida % 8 <> 4 AND idb % 8 <> 4),
         |la AS (SELECT DISTINCT GREATEST(ida, idb) AS loser FROM pa),
         |pb AS (SELECT ida, idb, jaccard FROM vp
         |  WHERE (ida % 8 = 4 OR idb % 8 = 4)
         |    AND NOT (ida % 8 = 0 AND ida IN (SELECT loser FROM la))
         |    AND NOT (idb % 8 = 0 AND idb IN (SELECT loser FROM la)))
         |SELECT ida, idb, jaccard, round FROM (
         |  SELECT ida, idb, jaccard, CAST(1 AS BIGINT) AS round FROM pa
         |  UNION ALL
         |  SELECT ida, idb, jaccard, CAST(2 AS BIGINT) AS round FROM pb)
         |ORDER BY round, ida, idb""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val corpus = docs.filter(col("doc_id") % 4 =!= 0)
      val batchA = docs.filter(col("doc_id") % 8 === 0)
      val batchB = docs.filter(col("doc_id") % 8 === 4)
      val table = "graft_band_index_ds1_" +
        s.sparkContext.applicationId.replaceAll("[^a-zA-Z0-9]", "_")
      graft.sources.Bucketing.ensureCleanTable(s, table)
      Dedup.writeBandIndex(corpus, "doc_id", "text", 3, table, nBuckets = 8)
      // round 1 (incrementalNearDupPairs materializes its result, so the
      // index append below cannot race the candidate join)
      val pairsA = Dedup.incrementalNearDupPairs(batchA, corpus,
        s.table(table), "doc_id", "text", 3, 0.5)
      val losersA = pairsA
        .select(greatest(col("ida"), col("idb")).as("loser")).distinct()
      val keptA = batchA.join(broadcast(losersA),
        col("doc_id") === col("loser"), "left_anti")
      Dedup.appendBandIndex(keptA, "doc_id", "text", 3, table, nBuckets = 8)
      // round 2: index and corpus now include round-1 survivors
      val pairsB = Dedup.incrementalNearDupPairs(batchB,
        corpus.unionByName(keptA), s.table(table), "doc_id", "text", 3, 0.5)
      pairsA.withColumn("round", lit(1L))
        .unionByName(pairsB.withColumn("round", lit(2L)))
        .orderBy(col("round"), col("ida"), col("idb"))
    },

    // EXACTLY-ONCE + EXCHANGE-FREE ingestion dedup (VERDICT r8 ask #1):
    // the same two-batch replay as ds1 driven through
    // ingestBatchIdempotentBucketed — band index partitioned by
    // ingest_batch AND bucketed on (band, bkey), docs/pairs in
    // partition-overwrite parquet — with batch 0 deliberately RETRIED
    // mid-run. The oracle is ds1's (storage layout and retries must not
    // change answers): it goes green only if the retry replaced its own
    // partition instead of duplicating pairs, and DedupSpec's plan
    // contract separately proves the committed-prefix read stays
    // bucket-aligned with no corpus-side Exchange.
    QueryDef(
      "ds2_ingest_exactly_once",
      s"""WITH $shingleCtes,
         |$sigSelect,
         |$bandsCte,
         |$candidatesCte,
         |inter AS (SELECT ida, idb, COUNT(*) AS n_inter
         |  FROM cand JOIN sh a ON ida = a.sid JOIN sh b ON idb = b.sid AND a.g = b.g
         |  GROUP BY ida, idb),
         |vp AS (SELECT ida, idb, jaccard FROM (
         |  SELECT ida, idb,
         |    CAST(n_inter AS DOUBLE) / (sa.nsh + sb.nsh - n_inter) AS jaccard
         |  FROM inter JOIN sizes sa ON ida = sa.sid JOIN sizes sb ON idb = sb.sid
         |) WHERE jaccard >= 0.5),
         |pa AS (SELECT ida, idb, jaccard FROM vp
         |  WHERE (ida % 8 = 0 OR idb % 8 = 0) AND ida % 8 <> 4 AND idb % 8 <> 4),
         |la AS (SELECT DISTINCT GREATEST(ida, idb) AS loser FROM pa),
         |pb AS (SELECT ida, idb, jaccard FROM vp
         |  WHERE (ida % 8 = 4 OR idb % 8 = 4)
         |    AND NOT (ida % 8 = 0 AND ida IN (SELECT loser FROM la))
         |    AND NOT (idb % 8 = 0 AND idb IN (SELECT loser FROM la)))
         |SELECT ida, idb, jaccard, round FROM (
         |  SELECT ida, idb, jaccard, CAST(1 AS BIGINT) AS round FROM pa
         |  UNION ALL
         |  SELECT ida, idb, jaccard, CAST(2 AS BIGINT) AS round FROM pb)
         |ORDER BY round, ida, idb""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val corpus = docs.filter(col("doc_id") % 4 =!= 0).select("doc_id", "text")
      val batchA = docs.filter(col("doc_id") % 8 === 0)
      val batchB = docs.filter(col("doc_id") % 8 === 4)
      val table = "graft_band_index_ds2_" +
        s.sparkContext.applicationId.replaceAll("[^a-zA-Z0-9]", "_")
      graft.sources.Bucketing.ensureCleanTable(s, table)
      val base = java.nio.file.Files.createTempDirectory("graft_ds2_")
      val corpusPath = base.resolve("corpus").toString
      val pairsPath = base.resolve("pairs").toString
      // seed under ingest_batch = -1: docs in partition-overwrite parquet,
      // bands in the partitioned bucketed index
      graft.sources.Sinks.overwriteRunPartition(
        corpus.withColumn("ingest_batch", lit(-1L)), corpusPath, "ingest_batch")
      Dedup.writeBandIndexPartitioned(corpus, "doc_id", "text", 3, table,
        nBuckets = 8)
      def run(batch: org.apache.spark.sql.DataFrame, id: Long): Unit =
        graft.streaming.EventStreams.ingestBatchIdempotentBucketed(
          batch.select("doc_id", "text"), id, corpusPath, table, 8,
          pairsPath, "doc_id", "text", n = 3, threshold = 0.5)
      run(batchA, 0L)
      // the retry foreachBatch delivers after a failure
      graft.core.Timing.overhead { run(batchA, 0L) }
      run(batchB, 1L)
      // declared schema: a corpus with no near-dup pair lands no pair file,
      // and an empty directory has no schema to infer
      s.read.schema("ida BIGINT, idb BIGINT, jaccard DOUBLE, ingest_batch BIGINT")
        .parquet(pairsPath)
        .select(col("ida"), col("idb"), col("jaccard"),
          (col("ingest_batch") + 1L).cast("long").as("round"))
        .orderBy(col("round"), col("ida"), col("idb"))
    },

    // KMV (bottom-k) distinct sketch per language (ApproxOps
    // .kmvDistinctByKey): unlike HLL (ax1), the md5-derived hashes make the
    // raw ESTIMATE deterministic, so the oracle checks it bit-for-bit — no
    // accuracy-contract indirection. Languages with < k distinct tokens
    // report the exact count.
    QueryDef(
      "ax3_kmv_distinct",
      s"""WITH toks AS (SELECT lang, unnest(string_split(text, ' ')) AS w
         |  FROM documents),
         |th AS (SELECT DISTINCT lang, ${sqlHash("w", 12)} AS h
         |  FROM toks WHERE len(w) > 0),
         |ranked AS (SELECT lang, h,
         |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h) AS rn FROM th),
         |sk AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS sketch_size,
         |    MAX(h) AS kth FROM ranked WHERE rn <= 64 GROUP BY lang)
         |SELECT lang, sketch_size,
         |  CASE WHEN sketch_size < 64 THEN CAST(sketch_size AS DOUBLE)
         |       ELSE (63.0 * 281474976710656.0) / CAST(kth AS DOUBLE)
         |  END AS kmv_est
         |FROM sk ORDER BY lang""".stripMargin) { (s, d) =>
      val toks = Tables.documents(s, d)
        .select(col("lang"), explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) > 0)
      graft.operators.ApproxOps.kmvDistinctByKey(toks, "lang", "w", k = 64)
        .orderBy(col("lang"))
    },

    // The SAME sketch through the native graft_kmv TypedImperativeAggregate
    // (ApproxOps.kmvDistinctByKeyNative): one map-side-combinable aggregate
    // instead of distinct + rank window. Bottom-k is merge-order-
    // independent, so THE SAME oracle as ax3 hash-checks both plans —
    // a cross-implementation anchor for the native kernel.
    QueryDef(
      "ax5_kmv_native",
      s"""WITH toks AS (SELECT lang, unnest(string_split(text, ' ')) AS w
         |  FROM documents),
         |th AS (SELECT DISTINCT lang, ${sqlHash("w", 12)} AS h
         |  FROM toks WHERE len(w) > 0),
         |ranked AS (SELECT lang, h,
         |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h) AS rn FROM th),
         |sk AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS sketch_size,
         |    MAX(h) AS kth FROM ranked WHERE rn <= 64 GROUP BY lang)
         |SELECT lang, sketch_size,
         |  CASE WHEN sketch_size < 64 THEN CAST(sketch_size AS DOUBLE)
         |       ELSE (63.0 * 281474976710656.0) / CAST(kth AS DOUBLE)
         |  END AS kmv_est
         |FROM sk ORDER BY lang""".stripMargin) { (s, d) =>
      val toks = Tables.documents(s, d)
        .select(col("lang"), explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) > 0)
      graft.operators.ApproxOps.kmvDistinctByKeyNative(toks, "lang", "w", k = 64)
        .orderBy(col("lang"))
    },

    // Per-window distinct-user estimates — the BATCH TWIN of the streaming
    // windowedDistinct monitor (one KMV sketch per tumbling window via the
    // native graft_kmv aggregate; state is k longs per window). k = 64
    // exercises BOTH regimes across the fixture's windows: sparse hours
    // report exact counts, dense hours the (k-1)*2^48/h_k estimate — and
    // determinism makes every number oracle-checkable.
    QueryDef(
      "ax6_windowed_distinct",
      s"""WITH rows0 AS (SELECT
         |    make_timestamp((epoch_us(ts) // 3600000000) * 3600000000)
         |      AS window_start,
         |    ${sqlHash("CAST(user_id AS VARCHAR)", 12)} AS h
         |  FROM events),
         |th AS (SELECT DISTINCT window_start, h FROM rows0),
         |ranked AS (SELECT window_start, h,
         |    ROW_NUMBER() OVER (PARTITION BY window_start ORDER BY h) AS rn
         |  FROM th),
         |sk AS (SELECT window_start, CAST(COUNT(*) AS BIGINT) AS sketch_size,
         |    MAX(h) AS kth FROM ranked WHERE rn <= 64 GROUP BY window_start)
         |SELECT window_start, sketch_size,
         |  CASE WHEN sketch_size < 64 THEN CAST(sketch_size AS DOUBLE)
         |       ELSE (63.0 * 281474976710656.0) / CAST(kth AS DOUBLE)
         |  END AS kmv_est
         |FROM sk ORDER BY window_start""".stripMargin) { (s, d) =>
      graft.streaming.EventStreams.windowedDistinct(
          Tables.events(s, d), "user_id", k = 64)
        .orderBy(col("window_start"))
    },

    // KMV-sampled quantiles (ApproxOps.kmvQuantilesByKey): per-lang
    // bottom-64 md5-rank row sample (mergeable, deterministic) -> order
    // statistics of n_chars as q50/q90 estimates. The whole estimate —
    // sample membership included — is md5-determined, so unlike ax2's
    // accuracy-contract check this hash-matches the raw numbers.
    QueryDef(
      "ax7_kmv_quantile",
      s"""WITH r AS (SELECT lang, n_chars,
         |    ROW_NUMBER() OVER (PARTITION BY lang
         |      ORDER BY ${sqlHash("'kq:' || doc_id", 12)}) AS rn
         |  FROM documents),
         |s AS MATERIALIZED (SELECT lang, n_chars FROM r WHERE rn <= 64),
         |o AS (SELECT lang, n_chars,
         |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_chars) AS p,
         |    COUNT(*) OVER (PARTITION BY lang) AS n FROM s)
         |SELECT lang, CAST(MAX(n) AS BIGINT) AS n_sample,
         |  MAX(CASE WHEN p = CAST(FLOOR(0.5 * (n - 1)) AS BIGINT) + 1
         |      THEN n_chars END) AS q50,
         |  MAX(CASE WHEN p = CAST(FLOOR(0.9 * (n - 1)) AS BIGINT) + 1
         |      THEN n_chars END) AS q90
         |FROM o GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
      graft.operators.ApproxOps.kmvQuantilesByKey(
        Tables.documents(s, d), "lang", "doc_id", "n_chars",
        m = 64, qs = Seq(0.5, 0.9), salt = "kq")
        .orderBy(col("lang"))
    },

    // Count-min sketch (ApproxOps.cmsEstimates over the native
    // graft_count_min aggregate): d = 3 disjoint 16-bit md5 slices mod
    // w = 64 — small enough that the ~40-word fixture vocabulary collides
    // and overcounts become visible. CMS cells are order-insensitive SUMS,
    // so the oracle rebuilds the full counter matrix with a GROUP BY and
    // hash-checks the estimates themselves; never_under asserts the
    // one-sided guarantee per item.
    QueryDef(
      "ax8_cms_counts",
      s"""WITH toks AS (SELECT unnest(string_split(text, ' ')) AS item
         |  FROM documents),
         |h AS MATERIALIZED (SELECT item, ${sqlHash("item", 12)} AS g FROM toks),
         |p AS (SELECT item, j, ((g >> (16 * j)) & 65535) % 64 AS pos
         |  FROM h, unnest([0, 1, 2]) AS t(j)),
         |counters AS MATERIALIZED (SELECT j, pos, COUNT(*) AS c
         |  FROM p GROUP BY j, pos),
         |ip AS (SELECT DISTINCT item, j, pos FROM p),
         |exact AS (SELECT item, COUNT(*) AS n_exact FROM toks GROUP BY item),
         |est AS (SELECT item, MIN(c) AS cms_est
         |  FROM ip JOIN counters USING (j, pos) GROUP BY item)
         |SELECT item, n_exact, cms_est, cms_est >= n_exact AS never_under
         |FROM exact JOIN est USING (item) ORDER BY item""".stripMargin) { (s, d) =>
      graft.operators.ApproxOps.cmsEstimates(
        Tables.documents(s, d).select(explode(split(col("text"), " ")).as("item")),
        "item", w = 64, d = 3)
        .orderBy(col("item"))
    },

    // Windowed CMS monitor (EventStreams.windowedCms + ApproxOps.cmsProbe):
    // one 3 x 64 counter matrix per hourly window over event_type, probed
    // for every type that actually occurred — per-window frequency
    // monitoring with state independent of value cardinality, probeable
    // post-hoc for values never watched. Matrix cells are sums, so the
    // oracle rebuilds every counter and the estimates hash-check; the
    // batch frame here is the deterministic twin of the streaming run
    // (cells are merge-order-insensitive).
    QueryDef(
      "ax9_windowed_cms",
      s"""WITH rows0 AS (SELECT
         |    make_timestamp((epoch_us(ts) // 3600000000) * 3600000000) AS ws,
         |    event_type AS item FROM events),
         |h AS MATERIALIZED (SELECT ws, item, ${sqlHash("item", 12)} AS g FROM rows0),
         |p AS (SELECT ws, item, j, ((g >> (16 * j)) & 65535) % 64 AS pos
         |  FROM h, unnest([0, 1, 2]) AS t(j)),
         |counters AS MATERIALIZED (SELECT ws, j, pos, COUNT(*) AS c
         |  FROM p GROUP BY 1, 2, 3),
         |ip AS (SELECT DISTINCT ws, item, j, pos FROM p),
         |exact AS (SELECT ws, item, COUNT(*) AS n_exact FROM rows0 GROUP BY 1, 2),
         |est AS (SELECT ws, item, MIN(c) AS cms_est
         |  FROM ip JOIN counters USING (ws, j, pos) GROUP BY 1, 2)
         |SELECT ws AS window_start, item, n_exact, cms_est,
         |  cms_est >= n_exact AS never_under
         |FROM exact JOIN est USING (ws, item)
         |ORDER BY window_start, item""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      val sk = graft.streaming.EventStreams.windowedCms(ev, "event_type", w = 64, d = 3)
      ev.groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n_exact"))
        .select(col("window.start").as("window_start"),
          col("event_type").as("item"), col("n_exact"))
        .join(sk, Seq("window_start"))
        .select(col("window_start"), col("item"), col("n_exact"),
          graft.operators.ApproxOps.cmsProbe(col("sk"), col("item"), 64, 3)
            .as("cms_est"))
        .withColumn("never_under", col("cms_est") >= col("n_exact"))
        .orderBy(col("window_start"), col("item"))
    },

    // KMV set algebra (ApproxOps.kmvUnionIntersect): merged bottom-k
    // sketches estimate the distinct UNION, Jaccard, and INTERSECTION of
    // two token sets — the set operations HLL cannot express. Sketches are
    // k-row frames; the merge is bottom-k of their union, and every number
    // is a fixed deterministic expression the oracle replays.
    QueryDef(
      "ax4_kmv_setops",
      s"""WITH ta AS (SELECT unnest(string_split(text, ' ')) AS w
         |  FROM documents WHERE doc_id % 2 = 0),
         |tb AS (SELECT unnest(string_split(text, ' ')) AS w
         |  FROM documents WHERE doc_id % 2 = 1),
         |ha AS (SELECT DISTINCT ${sqlHash("w", 12)} AS h FROM ta WHERE len(w) > 0),
         |hb AS (SELECT DISTINCT ${sqlHash("w", 12)} AS h FROM tb WHERE len(w) > 0),
         |sa AS (SELECT h FROM ha ORDER BY h LIMIT 64),
         |sb AS (SELECT h FROM hb ORDER BY h LIMIT 64),
         |su AS (SELECT h FROM (SELECT h FROM sa UNION SELECT h FROM sb)
         |  ORDER BY h LIMIT 64),
         |stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS u_size, MAX(h) AS kth FROM su),
         |bothc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_both FROM su
         |  WHERE h IN (SELECT h FROM sa) AND h IN (SELECT h FROM sb))
         |SELECT
         |  CASE WHEN u_size < 64 THEN CAST(u_size AS DOUBLE)
         |       ELSE (63.0 * 281474976710656.0) / CAST(kth AS DOUBLE)
         |  END AS n_union_est,
         |  CAST(n_both AS DOUBLE) / CAST(u_size AS DOUBLE) AS jaccard_est,
         |  (CAST(n_both AS DOUBLE) / CAST(u_size AS DOUBLE)) *
         |    (CASE WHEN u_size < 64 THEN CAST(u_size AS DOUBLE)
         |          ELSE (63.0 * 281474976710656.0) / CAST(kth AS DOUBLE) END)
         |    AS n_intersect_est,
         |  u_size AS sketch_size, n_both AS n_shared
         |FROM stats, bothc""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      def toks(p: org.apache.spark.sql.Column) = docs.filter(p)
        .select(explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) > 0)
      graft.operators.ApproxOps.kmvUnionIntersect(
        toks(col("doc_id") % 2 === 0), toks(col("doc_id") % 2 === 1),
        "w", k = 64)
    },

    // Edit-distance verification of banding candidates (Dedup Scaladoc):
    // levenshtein <= 30% of the longer text, integer cross-multiplied.
    QueryDef(
      "d13_editdist_verified",
      s"""WITH $shingleCtes,
         |$sigSelect,
         |$bandsCte,
         |$candidatesCte
         |SELECT ida, idb, edit_dist FROM (
         |  SELECT ida, idb,
         |    CAST(levenshtein(da.text, db.text) AS BIGINT) AS edit_dist,
         |    CAST(greatest(len(da.text), len(db.text)) AS BIGINT) AS max_len
         |  FROM cand JOIN documents da ON ida = da.doc_id
         |            JOIN documents db ON idb = db.doc_id)
         |WHERE edit_dist * 10 <= 3 * max_len
         |ORDER BY ida, idb""".stripMargin) { (s, d) =>
      Dedup.editDistanceVerifiedPairs(Tables.documents(s, d), "doc_id", "text",
        n = 3, maxFracNum = 3, maxFracDen = 10)
        .orderBy(col("ida"), col("idb"))
    },

    // Character chunking with overlap: 120-char chunks, 20-char overlap
    // (stride 100) — the context-window splitter ahead of embedding jobs.
    QueryDef(
      "ch1_chunk_docs",
      """SELECT doc_id, CAST(i - 1 AS BIGINT) AS chunk_id,
        |  CAST((i - 1) * 100 + 1 AS BIGINT) AS chunk_start,
        |  substr(text, (i - 1) * 100 + 1, 120) AS chunk_text
        |FROM documents,
        |  unnest(generate_series(1, (greatest(length(text), 1) + 99) // 100)) AS t(i)
        |ORDER BY doc_id, chunk_id""".stripMargin) { (s, d) =>
      TextOps.chunkDocs(Tables.documents(s, d), "doc_id", "text",
        chunkLen = 120, overlap = 20)
        .orderBy(col("doc_id"), col("chunk_id"))
    },

    // Token-budget chunking with overlap (TextOps.chunkTokens): 32-token
    // windows, 8-token overlap (stride 24) — the RAG/embedding prep twin
    // of ch1's character chunks. The oracle mirrors the filtered split,
    // the stride sequence, the inclusive slice, and the final-partial
    // n_tokens arithmetic.
    QueryDef(
      "ch2_chunk_tokens",
      """WITH w AS (SELECT doc_id,
        |    list_filter(string_split(text, ' '), x -> len(x) > 0) AS w
        |  FROM documents)
        |SELECT doc_id, CAST(i - 1 AS BIGINT) AS chunk_id,
        |  CAST((i - 1) * 24 + 1 AS BIGINT) AS tok_start,
        |  array_to_string(w[(i - 1) * 24 + 1 : (i - 1) * 24 + 32], ' ') AS chunk_text,
        |  CAST(least(32, len(w) - ((i - 1) * 24 + 1) + 1) AS BIGINT) AS n_tokens
        |FROM w,
        |  unnest(generate_series(1, (greatest(len(w), 1) - 1) // 24 + 1)) AS t(i)
        |ORDER BY doc_id, chunk_id""".stripMargin) { (s, d) =>
      TextOps.chunkTokens(Tables.documents(s, d), "doc_id", "text",
        chunkToks = 32, overlap = 8)
        .orderBy(col("doc_id"), col("chunk_id"))
    },

    // CONTENT-DEFINED chunking (TextOps.cdcChunks): boundaries where the
    // word 3-gram hash is 0 mod 64 — edit-stable chunks (an insertion
    // re-synchronizes downstream boundaries), the unit d27 dedups on.
    // The oracle rebuilds boundary lists, chunk spans and chunk hashes
    // from the same md5 formula — offsets AND hashes hash-check.
    QueryDef(
      "ch3_cdc_chunks",
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |b AS (SELECT doc_id, list(i ORDER BY i) AS bs
         |  FROM w, unnest(generate_series(1, len(w) - 2)) AS t(i)
         |  WHERE ${sqlHash("w.w[i] || ' ' || w.w[i+1] || ' ' || w.w[i+2]", 12)} % 64 = 0
         |  GROUP BY doc_id),
         |s AS (SELECT w.doc_id, w.w,
         |    list_concat([CAST(1 AS BIGINT)],
         |      list_transform(coalesce(bs, []), p -> CAST(p + 1 AS BIGINT))) AS starts,
         |    list_concat(list_transform(coalesce(bs, []), p -> CAST(p AS BIGINT)),
         |      [CAST(len(w.w) AS BIGINT)]) AS ends
         |  FROM w LEFT JOIN b USING (doc_id))
         |SELECT doc_id, CAST(k AS BIGINT) AS chunk_id,
         |  starts[k] AS start_pos, ends[k] - starts[k] + 1 AS n_tokens,
         |  ${sqlHash("array_to_string(w[starts[k]:ends[k]], ' ')", 12)} AS chunk_hash
         |FROM s, unnest(generate_series(1, len(starts))) AS t(k)
         |ORDER BY doc_id, chunk_id""".stripMargin) { (s, d) =>
      TextOps.cdcChunks(Tables.documents(s, d), "doc_id", "text",
          n = 3, divisor = 64)
        .select(col("did").as("doc_id"), col("chunk_id"), col("start_pos"),
          col("n_tokens"), col("chunk_hash"))
        .orderBy(col("doc_id"), col("chunk_id"))
    },

    // Near-VERSION dedup on CDC chunks (Dedup.cdcOverlapPairs): pairs
    // sharing >= 2 distinct edit-stable chunk hashes, hot hashes
    // (df > 1000) suppressed before pairing — the dedup family member
    // that survives large insertions where Jaccard dilutes.
    QueryDef(
      "d27_cdc_overlap",
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |b AS (SELECT doc_id, list(i ORDER BY i) AS bs
         |  FROM w, unnest(generate_series(1, len(w) - 2)) AS t(i)
         |  WHERE ${sqlHash("w.w[i] || ' ' || w.w[i+1] || ' ' || w.w[i+2]", 12)} % 64 = 0
         |  GROUP BY doc_id),
         |s AS (SELECT w.doc_id, w.w,
         |    list_concat([CAST(1 AS BIGINT)],
         |      list_transform(coalesce(bs, []), p -> CAST(p + 1 AS BIGINT))) AS starts,
         |    list_concat(list_transform(coalesce(bs, []), p -> CAST(p AS BIGINT)),
         |      [CAST(len(w.w) AS BIGINT)]) AS ends
         |  FROM w LEFT JOIN b USING (doc_id)),
         |c AS (SELECT doc_id,
         |    ${sqlHash("array_to_string(w[starts[k]:ends[k]], ' ')", 12)} AS h
         |  FROM s, unnest(generate_series(1, len(starts))) AS t(k)),
         |dd AS (SELECT DISTINCT doc_id AS sid, h FROM c),
         |cold AS (SELECT sid, h FROM dd WHERE h NOT IN (
         |  SELECT h FROM (SELECT h, COUNT(*) AS hdf FROM dd GROUP BY h)
         |  WHERE hdf > 1000))
         |SELECT a.sid AS ida, b.sid AS idb, CAST(COUNT(*) AS BIGINT) AS n_shared
         |FROM cold a JOIN cold b ON a.h = b.h AND a.sid < b.sid
         |GROUP BY 1, 2 HAVING COUNT(*) >= 2
         |ORDER BY ida, idb""".stripMargin) { (s, d) =>
      Dedup.cdcOverlapPairs(Tables.documents(s, d), "doc_id", "text",
          n = 3, divisor = 64, minShared = 2L, maxDf = 1000L)
        .orderBy(col("ida"), col("idb"))
    },

    // INCREMENTAL near-version dedup (Dedup.incrementalCdcPairs): the d27
    // chunk postings persisted h-bucketed, a batch (doc_id % 5 == 0)
    // deduped against the index + itself — the d12/m8 incremental
    // contract for the CDC family: the oracle is d27's full pair set
    // restricted to batch-touching pairs.
    QueryDef(
      "d28_cdc_incremental",
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |b AS (SELECT doc_id, list(i ORDER BY i) AS bs
         |  FROM w, unnest(generate_series(1, len(w) - 2)) AS t(i)
         |  WHERE ${sqlHash("w.w[i] || ' ' || w.w[i+1] || ' ' || w.w[i+2]", 12)} % 64 = 0
         |  GROUP BY doc_id),
         |s AS (SELECT w.doc_id, w.w,
         |    list_concat([CAST(1 AS BIGINT)],
         |      list_transform(coalesce(bs, []), p -> CAST(p + 1 AS BIGINT))) AS starts,
         |    list_concat(list_transform(coalesce(bs, []), p -> CAST(p AS BIGINT)),
         |      [CAST(len(w.w) AS BIGINT)]) AS ends
         |  FROM w LEFT JOIN b USING (doc_id)),
         |c AS (SELECT doc_id,
         |    ${sqlHash("array_to_string(w[starts[k]:ends[k]], ' ')", 12)} AS h
         |  FROM s, unnest(generate_series(1, len(starts))) AS t(k)),
         |dd AS (SELECT DISTINCT doc_id AS sid, h FROM c),
         |cold AS (SELECT sid, h FROM dd WHERE h NOT IN (
         |  SELECT h FROM (SELECT h, COUNT(*) AS hdf FROM dd GROUP BY h)
         |  WHERE hdf > 1000))
         |SELECT * FROM (
         |  SELECT a.sid AS ida, b.sid AS idb, CAST(COUNT(*) AS BIGINT) AS n_shared
         |  FROM cold a JOIN cold b ON a.h = b.h AND a.sid < b.sid
         |  GROUP BY 1, 2 HAVING COUNT(*) >= 2)
         |WHERE ida % 5 = 0 OR idb % 5 = 0
         |ORDER BY ida, idb""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val app = s.sparkContext.applicationId.replaceAll("[^a-zA-Z0-9]", "_")
      val table = "graft_cdc_d28_" + app
      graft.sources.Bucketing.ensureCleanTable(s, table)
      Dedup.writeCdcIndex(docs.filter(col("doc_id") % 5 =!= 0), "doc_id",
        "text", n = 3, divisor = 64, table, nBuckets = 8)
      Dedup.incrementalCdcPairs(docs.filter(col("doc_id") % 5 === 0),
          s.table(table), "doc_id", "text", n = 3, divisor = 64,
          minShared = 2L, maxDf = 1000L)
        .orderBy(col("ida"), col("idb"))
    },

    // EXACT Jaccard-threshold pairs via prefix filtering (AllPairs/PPJoin)
    // — the subquadratic exact path whose correctness d5's brute force
    // baselines. The oracle is deliberately the SAME brute-force SQL as
    // d5: identical results prove the prefix-confined candidate join
    // loses no pair (total recall of the prefix bound + exact verify).
    QueryDef(
      "d29_prefix_filter_pairs",
      s"""WITH $shingleCtes,
         |inter AS (SELECT a.sid AS ida, b.sid AS idb, COUNT(*) AS n_inter
         |  FROM sh a JOIN sh b ON a.g = b.g AND a.sid < b.sid
         |  GROUP BY 1, 2)
         |SELECT * FROM (
         |  SELECT ida, idb,
         |    CAST(n_inter AS DOUBLE) / (sa.nsh + sb.nsh - n_inter) AS jaccard
         |  FROM inter JOIN sizes sa ON ida = sa.sid JOIN sizes sb ON idb = sb.sid
         |) WHERE jaccard >= 0.5 ORDER BY ida, idb""".stripMargin) { (s, d) =>
      Dedup.prefixFilterPairs(Tables.documents(s, d), "doc_id", "text", 3, 0.5)
        .orderBy(col("ida"), col("idb"))
    },

    // BM25 keyword ranking (k1=1.2, b=0.75), fixed-order per-term sums so
    // the double addition is engine-deterministic; 6dp rounding absorbs the
    // idf log's last ulp.
    QueryDef(
      "fts1_bm25_rank",
      """WITH toks AS (SELECT doc_id AS did, unnest(string_split(text, ' ')) AS tok
        |    FROM documents),
        |dl AS (SELECT did, COUNT(*) AS dl FROM toks GROUP BY 1),
        |stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
        |    CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
        |tf AS (SELECT did, tok, COUNT(*) AS tf FROM toks
        |    WHERE tok IN ('table', 'hash', 'merge') GROUP BY 1, 2),
        |dfreq AS (SELECT tok, COUNT(*) AS dfreq FROM tf GROUP BY 1),
        |sc AS (SELECT tf.did, tf.tok,
        |    ln((stats.n_docs - dfreq + 0.5) / (dfreq + 0.5) + 1.0)
        |      * (tf * (1.2 + 1)) / (tf + 1.2 * ((1 - 0.75) + 0.75 * dl / stats.avgdl)) AS s
        |  FROM tf JOIN dfreq USING (tok) JOIN dl USING (did) CROSS JOIN stats),
        |agg AS (SELECT did,
        |    coalesce(SUM(CASE WHEN tok = 'table' THEN s END), 0.0) AS s0,
        |    coalesce(SUM(CASE WHEN tok = 'hash' THEN s END), 0.0) AS s1,
        |    coalesce(SUM(CASE WHEN tok = 'merge' THEN s END), 0.0) AS s2
        |  FROM sc GROUP BY 1)
        |SELECT did AS doc_id, round(s0 + s1 + s2, 6) AS score FROM agg
        |ORDER BY score DESC, doc_id LIMIT 25""".stripMargin) { (s, d) =>
      TextOps.bm25Rank(Tables.documents(s, d), "doc_id", "text",
        terms = Seq("table", "hash", "merge"), k = 25)
    },

    // PSEUDO-RELEVANCE-FEEDBACK BM25 (TextOps.bm25PrfRank): two-round
    // query expansion — fts1's seed query, top-5 feedback docs, top-3 new
    // terms by the pure-integer (in-feedback-docs DESC, corpus-df ASC,
    // term ASC) criterion, rerank with seed+expansion. Per-(doc, term)
    // scores round ONCE to integer micro-points and SUM as integers, so
    // doc scores are summation-order-free on both engines (and the
    // per-term-column 16-term limit disappears). The oracle replays both
    // rounds and the expansion selection exactly.
    QueryDef(
      "fts7_prf_expansion",
      """WITH toks AS (SELECT doc_id AS did, unnest(string_split(text, ' ')) AS tok
        |    FROM documents),
        |dl AS (SELECT did, COUNT(*) AS dl FROM toks GROUP BY 1),
        |stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
        |    CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
        |tf0 AS (SELECT did, tok, COUNT(*) AS tf FROM toks
        |    WHERE tok IN ('table', 'hash', 'merge') GROUP BY 1, 2),
        |df0 AS (SELECT tok, COUNT(*) AS dfreq FROM tf0 GROUP BY 1),
        |sc0 AS (SELECT tf0.did,
        |    CAST(round((ln((stats.n_docs - dfreq + 0.5) / (dfreq + 0.5) + 1.0)
        |      * (tf * (1.2 + 1)) / (tf + 1.2 * ((1 - 0.75) + 0.75 * dl / stats.avgdl)))
        |      * 1000000) AS BIGINT) AS s_fp
        |  FROM tf0 JOIN df0 USING (tok) JOIN dl USING (did) CROSS JOIN stats),
        |r1 AS (SELECT did FROM (SELECT did, CAST(SUM(s_fp) AS BIGINT) AS fp
        |    FROM sc0 GROUP BY did ORDER BY fp DESC, did LIMIT 5)),
        |cand AS (SELECT tok, CAST(COUNT(DISTINCT t.did) AS BIGINT) AS nf
        |  FROM toks t JOIN r1 USING (did)
        |  WHERE len(tok) > 0 AND tok NOT IN ('table', 'hash', 'merge')
        |  GROUP BY tok),
        |cdf AS (SELECT t.tok, CAST(COUNT(DISTINCT t.did) AS BIGINT) AS dfc
        |  FROM toks t JOIN cand USING (tok) GROUP BY 1),
        |expq AS (SELECT cand.tok FROM cand JOIN cdf ON cand.tok = cdf.tok
        |  ORDER BY nf DESC, dfc ASC, cand.tok LIMIT 3),
        |q AS (SELECT 'table' AS tok UNION ALL SELECT 'hash'
        |  UNION ALL SELECT 'merge' UNION ALL SELECT tok FROM expq),
        |tf1 AS (SELECT did, t.tok, COUNT(*) AS tf FROM toks t JOIN q USING (tok)
        |  GROUP BY 1, 2),
        |df1 AS (SELECT tok, COUNT(*) AS dfreq FROM tf1 GROUP BY 1),
        |sc1 AS (SELECT tf1.did,
        |    CAST(round((ln((stats.n_docs - dfreq + 0.5) / (dfreq + 0.5) + 1.0)
        |      * (tf * (1.2 + 1)) / (tf + 1.2 * ((1 - 0.75) + 0.75 * dl / stats.avgdl)))
        |      * 1000000) AS BIGINT) AS s_fp
        |  FROM tf1 JOIN df1 USING (tok) JOIN dl USING (did) CROSS JOIN stats)
        |SELECT did AS doc_id, CAST(SUM(s_fp) AS BIGINT) AS score_fp
        |FROM sc1 GROUP BY did ORDER BY score_fp DESC, doc_id LIMIT 15""".stripMargin) { (s, d) =>
      TextOps.bm25PrfRank(Tables.documents(s, d), "doc_id", "text",
        terms = Seq("table", "hash", "merge"), k = 15, fbDocs = 5, fbTerms = 3)
    },

    // Query-likelihood ranking, Dirichlet smoothing (TextOps.
    // qlDirichletRank — Zhai & Lafferty 2001, the LM alternative to
    // fts1's BM25, same query): per (doc, term) the EXACT integer
    // micro-nat lnMicro(tf*|C| + mu*cf, dl + mu), per doc minus one
    // lnMicro(|C|, 1) per kept term — the oracle replays the identical
    // decomposition through the sqlLog2Fp twin (one key per doc#term
    // plus one for |C|), so the ranking hash-checks bitwise where
    // float-ln rankers need rounding slop. mu = 2000.
    QueryDef(
      "fts8_ql_dirichlet",
      s"""WITH RECURSIVE $pow2Cte,
         |qt AS (SELECT unnest(['table', 'hash', 'merge']) AS tok),
         |toks AS (SELECT doc_id AS did, unnest(string_split(text, ' ')) AS tok
         |    FROM documents),
         |dl AS (SELECT did, CAST(COUNT(*) AS BIGINT) AS dl FROM toks
         |  WHERE len(tok) > 0 GROUP BY 1),
         |ctot AS (SELECT CAST(SUM(dl) AS BIGINT) AS c FROM dl),
         |qcf AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cf
         |  FROM toks JOIN qt USING (tok) GROUP BY 1),
         |qtf AS (SELECT did, tok, CAST(COUNT(*) AS BIGINT) AS tf
         |  FROM toks JOIN qt USING (tok) GROUP BY 1, 2),
         |ql0 AS (SELECT dl.did || '#' || qcf.tok AS key,
         |    coalesce(qtf.tf, 0) * ctot.c + 2000 * qcf.cf AS p,
         |    dl.dl + 2000 AS q
         |  FROM dl CROSS JOIN qcf CROSS JOIN ctot
         |  LEFT JOIN qtf ON qtf.did = dl.did AND qtf.tok = qcf.tok),
         |${sqlLog2Fp("qlt", "ql0", "key")},
         |qs1 AS (SELECT CAST(string_split(key, '#')[1] AS BIGINT) AS did,
         |    $sqlLnMicroFromL AS s FROM qltL),
         |qc0 AS (SELECT 'c' AS key, c AS p, CAST(1 AS BIGINT) AS q FROM ctot),
         |${sqlLog2Fp("qlc", "qc0", "key")},
         |qs0 AS (SELECT $sqlLnMicroFromL AS s FROM qlcL)
         |SELECT did AS doc_id,
         |  CAST(SUM(s) - (SELECT COUNT(*) FROM qcf) * (SELECT s FROM qs0)
         |    AS BIGINT) AS score_fp
         |FROM qs1 GROUP BY did
         |ORDER BY score_fp DESC, doc_id LIMIT 25""".stripMargin) { (s, d) =>
      TextOps.qlDirichletRank(Tables.documents(s, d), "doc_id", "text",
        terms = Seq("table", "hash", "merge"), k = 25, mu = 2000L)
    },

    // Minimal-cover PROXIMITY ranking (TextOps.minSpanProximity — the
    // MinDist/span family, Tao & Zhai SIGIR 2007): per doc the SHORTEST
    // token window containing ALL of {join, hash, filter}, the signal that
    // separates "terms in one clause" from "terms scattered across the
    // doc" when tf·idf is equal. Exact by construction: an optimal cover
    // starts at a term position; for a fixed start the tightest end is the
    // max over terms of the next occurrence — anchors × per-term next-hit,
    // all integers. fts6's postings posture (only query-term hits leave
    // the scan; hits²-bounded per-doc join; argmin = WindowGroupLimit).
    QueryDef(
      "fts9_min_span",
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |p AS (SELECT doc_id AS did, CAST(i - 1 AS BIGINT) AS pos, w[i] AS tok
        |  FROM w, unnest(generate_series(1, len(w))) AS t(i)
        |  WHERE w[i] IN ('join', 'hash', 'filter')),
        |a AS (SELECT DISTINCT did, pos AS start FROM p),
        |nx AS (SELECT a.did, a.start, t.tok, MIN(t.pos) AS np
        |  FROM a JOIN p t ON a.did = t.did AND t.pos >= a.start
        |  GROUP BY a.did, a.start, t.tok),
        |sp AS (SELECT did, start,
        |    CAST(MAX(np) - start + 1 AS BIGINT) AS span
        |  FROM nx GROUP BY did, start HAVING COUNT(*) = 3),
        |best AS (SELECT did, span, start,
        |    ROW_NUMBER() OVER (PARTITION BY did ORDER BY span, start) AS rn
        |  FROM sp)
        |SELECT did, span, start FROM best WHERE rn = 1
        |ORDER BY span, did""".stripMargin) { (s, d) =>
      TextOps.minSpanProximity(Tables.documents(s, d), "doc_id", "text",
          Seq("join", "hash", "filter"))
        .orderBy(col("span"), col("did"))
    },

    // Query-likelihood ranking, JELINEK-MERCER smoothing (TextOps.
    // jelinekMercerRank — Zhai & Lafferty 2001): fts8's Dirichlet sibling
    // at fixed interpolation λ = 1/2, kept RATIONAL so each (doc, term)
    // partial is ONE exact integer micro-nat
    // lnMicro(tf·|C| + cf·dl, 2·dl·|C|) — the oracle replays the single
    // ln per doc#term through the sqlLog2Fp twin. Shipping JM beside
    // Dirichlet/KN/SB completes the standard LM-smoothing family.
    QueryDef(
      "lm10_jm_rank",
      s"""WITH RECURSIVE $pow2Cte,
         |qt AS (SELECT unnest(['table', 'hash', 'merge']) AS tok),
         |toks AS (SELECT doc_id AS did, unnest(string_split(text, ' ')) AS tok
         |    FROM documents),
         |dl AS (SELECT did, CAST(COUNT(*) AS BIGINT) AS dl FROM toks
         |  WHERE len(tok) > 0 GROUP BY 1),
         |ctot AS (SELECT CAST(SUM(dl) AS BIGINT) AS c FROM dl),
         |qcf AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cf
         |  FROM toks JOIN qt USING (tok) GROUP BY 1),
         |qtf AS (SELECT did, tok, CAST(COUNT(*) AS BIGINT) AS tf
         |  FROM toks JOIN qt USING (tok) GROUP BY 1, 2),
         |jm0 AS (SELECT dl.did || '#' || qcf.tok AS key,
         |    coalesce(qtf.tf, 0) * ctot.c + qcf.cf * dl.dl AS p,
         |    2 * dl.dl * ctot.c AS q
         |  FROM dl CROSS JOIN qcf CROSS JOIN ctot
         |  LEFT JOIN qtf ON qtf.did = dl.did AND qtf.tok = qcf.tok),
         |${sqlLog2Fp("jmt", "jm0", "key")},
         |js AS (SELECT CAST(string_split(key, '#')[1] AS BIGINT) AS did,
         |    $sqlLnMicroFromL AS s FROM jmtL)
         |SELECT did AS doc_id, CAST(SUM(s) AS BIGINT) AS score_fp
         |FROM js GROUP BY did
         |ORDER BY score_fp DESC, doc_id LIMIT 25""".stripMargin) { (s, d) =>
      TextOps.jelinekMercerRank(Tables.documents(s, d), "doc_id", "text",
        terms = Seq("table", "hash", "merge"), k = 25)
    },

    // GOOD-TURING re-estimation (TextOps.goodTuring — round 19: the
    // count-of-counts table behind every discounted LM, completing the
    // smoothing family's empirical side next to KN/SB's analytic
    // discounts): r* = (r+1)·N_{r+1}/N_r in exact integer micro-units,
    // one floor division per row. N_{r+1} = 0 reports gt_fp = 0 (the raw
    // estimator's hole, not smoothed away silently).
    QueryDef(
      "lm11_good_turing",
      """WITH w0 AS (SELECT string_split(text, ' ') AS w FROM documents),
        |t AS (SELECT w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
        |  FROM w0, unnest(generate_series(1, len(w) - 2)) AS t(i)),
        |wc AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS r FROM t GROUP BY g),
        |coc AS (SELECT r, CAST(COUNT(*) AS BIGINT) AS n_r FROM wc GROUP BY r)
        |SELECT c.r, c.n_r, COALESCE(x.n_r, 0) AS n_next,
        |  CAST((c.r + 1) * COALESCE(x.n_r, 0) * 1000000 // c.n_r AS BIGINT)
        |    AS gt_fp
        |FROM coc c LEFT JOIN coc x ON x.r = c.r + 1
        |WHERE c.r BETWEEN 1 AND 8 ORDER BY c.r""".stripMargin) { (s, d) =>
      TextOps.goodTuring(Tables.documents(s, d), "doc_id", "text", n = 3,
          maxR = 8L)
        .orderBy(col("r"))
    },

    // FUZZY search (TextOps.fuzzySearch — Elasticsearch `fuzziness: 1`):
    // the misspelled query {tabl, hashh, merge} still finds the
    // {table, hash, merge} docs — each query term expands to vocabulary
    // terms within Levenshtein 1 via SymSpell deletion-neighborhood
    // candidates + exact verify (transposition false-friends killed
    // there), then the shared integer-micro BM25 ranks the expansion. The
    // oracle generates the SAME matched set by brute levenshtein over the
    // vocabulary — different algorithm, same answer, the d29 twin
    // pattern.
    QueryDef(
      "fts11_fuzzy_search",
      """WITH toks AS (SELECT doc_id AS did, unnest(string_split(text, ' ')) AS tok
        |    FROM documents),
        |dl AS (SELECT did, COUNT(*) AS dl FROM toks GROUP BY 1),
        |stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
        |    CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
        |qt(q) AS (SELECT unnest(['tabl', 'hashh', 'merge'])),
        |vt AS (SELECT DISTINCT tok FROM toks WHERE len(tok) > 0),
        |m AS (SELECT DISTINCT tok FROM vt, qt WHERE levenshtein(q, tok) <= 1),
        |tf AS (SELECT did, tok, COUNT(*) AS tf FROM toks JOIN m USING (tok)
        |  GROUP BY 1, 2),
        |dfreq AS (SELECT tok, COUNT(*) AS dfreq FROM tf GROUP BY 1),
        |sc AS (SELECT did,
        |    CAST(round((ln((stats.n_docs - dfreq + 0.5) / (dfreq + 0.5) + 1.0)
        |      * (tf * (1.2 + 1)) / (tf + 1.2 * ((1 - 0.75) + 0.75 * dl / stats.avgdl)))
        |      * 1000000) AS BIGINT) AS s_fp
        |  FROM tf JOIN dfreq USING (tok) JOIN dl USING (did) CROSS JOIN stats)
        |SELECT did AS doc_id, CAST(SUM(s_fp) AS BIGINT) AS score_fp
        |FROM sc GROUP BY did
        |ORDER BY score_fp DESC, doc_id LIMIT 25""".stripMargin) { (s, d) =>
      TextOps.fuzzySearch(Tables.documents(s, d), "doc_id", "text",
        terms = Seq("tabl", "hashh", "merge"), k = 25)
    },

    // Simple BM25F (TextOps.bm25fRank — Robertson & Zaragoza 2009, the
    // Lucene multi-field ranking): title = first 8 tokens at weight 2,
    // body the rest at weight 1; per-field length normalization against
    // the field's OWN average, weighted then saturated ONCE through k1
    // (the fix for plain BM25's per-field saturation double-count); idf
    // over docs containing the term in any field. Same query as fts1 so
    // the field weighting is directly comparable; fts1's float
    // discipline (fixed-order sums, round 6).
    QueryDef(
      "fts10_bm25f",
      """WITH wq AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |fl AS (SELECT doc_id AS did, 't' AS f, unnest(w[1:8]) AS tok FROM wq
        |  UNION ALL SELECT doc_id, 'b', unnest(w[9:]) AS tok FROM wq),
        |len AS (SELECT did, f, CAST(COUNT(*) AS BIGINT) AS lf
        |  FROM fl GROUP BY 1, 2),
        |favg AS (SELECT f, CAST(SUM(lf) AS DOUBLE) / COUNT(*) AS af
        |  FROM len GROUP BY 1),
        |nd AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM wq),
        |tff AS (SELECT did, f, tok, CAST(COUNT(*) AS BIGINT) AS tf FROM fl
        |  WHERE tok IN ('table', 'hash', 'merge') GROUP BY 1, 2, 3),
        |dfq AS (SELECT tok, CAST(COUNT(DISTINCT did) AS BIGINT) AS dfreq
        |  FROM tff GROUP BY 1),
        |ctr AS (SELECT did, f, tok,
        |    CAST(tf AS DOUBLE)
        |      / ((1 - 0.75) + 0.75 * CAST(lf AS DOUBLE) / af) AS c
        |  FROM tff JOIN len USING (did, f) JOIN favg USING (f)),
        |wtf AS (SELECT did, tok,
        |    2.0 * coalesce(SUM(CASE WHEN f = 't' THEN c END), 0.0)
        |    + 1.0 * coalesce(SUM(CASE WHEN f = 'b' THEN c END), 0.0) AS tft
        |  FROM ctr GROUP BY 1, 2),
        |sc AS (SELECT did, tok,
        |    ln((n_docs - dfreq + 0.5) / (dfreq + 0.5) + 1.0)
        |      * tft / (1.2 + tft) AS s
        |  FROM wtf JOIN dfq USING (tok) CROSS JOIN nd),
        |ag AS (SELECT did,
        |    coalesce(SUM(CASE WHEN tok = 'table' THEN s END), 0.0) AS s0,
        |    coalesce(SUM(CASE WHEN tok = 'hash' THEN s END), 0.0) AS s1,
        |    coalesce(SUM(CASE WHEN tok = 'merge' THEN s END), 0.0) AS s2
        |  FROM sc GROUP BY 1)
        |SELECT did AS doc_id, round(s0 + s1 + s2, 6) AS score FROM ag
        |ORDER BY score DESC, doc_id LIMIT 25""".stripMargin) { (s, d) =>
      TextOps.bm25fRank(Tables.documents(s, d), "doc_id", "text",
          terms = Seq("table", "hash", "merge"), k = 25)
        .withColumnRenamed("did", "doc_id")
    },

    // PERSISTED BM25 index (FtsIndex): write from two thirds of the corpus,
    // APPEND the rest, then serve the fts1 query from storage — the oracle
    // is the from-scratch fts1 SQL over the whole corpus, so the hash
    // check proves the write -> append -> search storage round-trip
    // (bucketed postings, summed meta stats, serve-time dfreq) loses
    // nothing. Scoring code is SHARED with bm25Rank, not similar.
    QueryDef(
      "fts5_persisted_bm25",
      """WITH toks AS (SELECT doc_id AS did, unnest(string_split(text, ' ')) AS tok
        |    FROM documents),
        |dl AS (SELECT did, COUNT(*) AS dl FROM toks GROUP BY 1),
        |stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
        |    CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
        |tf AS (SELECT did, tok, COUNT(*) AS tf FROM toks
        |    WHERE tok IN ('table', 'hash', 'merge') GROUP BY 1, 2),
        |dfreq AS (SELECT tok, COUNT(*) AS dfreq FROM tf GROUP BY 1),
        |sc AS (SELECT tf.did, tf.tok,
        |    ln((stats.n_docs - dfreq + 0.5) / (dfreq + 0.5) + 1.0)
        |      * (tf * (1.2 + 1)) / (tf + 1.2 * ((1 - 0.75) + 0.75 * dl / stats.avgdl)) AS s
        |  FROM tf JOIN dfreq USING (tok) JOIN dl USING (did) CROSS JOIN stats),
        |agg AS (SELECT did,
        |    coalesce(SUM(CASE WHEN tok = 'table' THEN s END), 0.0) AS s0,
        |    coalesce(SUM(CASE WHEN tok = 'hash' THEN s END), 0.0) AS s1,
        |    coalesce(SUM(CASE WHEN tok = 'merge' THEN s END), 0.0) AS s2
        |  FROM sc GROUP BY 1)
        |SELECT did AS doc_id, round(s0 + s1 + s2, 6) AS score FROM agg
        |ORDER BY score DESC, doc_id LIMIT 25""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val app = s.sparkContext.applicationId.replaceAll("[^a-zA-Z0-9]", "_")
      val name = "fts5_" + app
      FtsIndex.writeBm25(docs.filter(col("doc_id") % 3 =!= 0),
        "doc_id", "text", name, nBuckets = 8)
      FtsIndex.appendBm25(docs.filter(col("doc_id") % 3 === 0),
        "doc_id", "text", name, nBuckets = 8)
      FtsIndex.searchBm25(s, name, Seq("table", "hash", "merge"), k = 25)
        .withColumnRenamed("did", "doc_id")
    },

    // EXACTLY-ONCE STREAMING FTS ingestion (FtsIndex.ingestBm25Batch): the
    // ds-series contract applied to the BM25 index — postings/doclens/meta
    // all batch-partitioned, a batch REPLACES its own partitions on retry
    // (where fts5's appendBm25 would double-append). Seed = doc_id%3==2,
    // batch 0 ingested TWICE (injected retry), batch 1, then serve; the
    // oracle is the from-scratch SQL over the whole corpus, so the hash
    // match proves the replay changed nothing and stats summed exactly.
    QueryDef(
      "ds6_fts_ingest",
      """WITH toks AS (SELECT doc_id AS did, unnest(string_split(text, ' ')) AS tok
        |    FROM documents),
        |dl AS (SELECT did, COUNT(*) AS dl FROM toks GROUP BY 1),
        |stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
        |    CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
        |tf AS (SELECT did, tok, COUNT(*) AS tf FROM toks
        |    WHERE tok IN ('table', 'hash', 'merge') GROUP BY 1, 2),
        |dfreq AS (SELECT tok, COUNT(*) AS dfreq FROM tf GROUP BY 1),
        |sc AS (SELECT tf.did, tf.tok,
        |    ln((stats.n_docs - dfreq + 0.5) / (dfreq + 0.5) + 1.0)
        |      * (tf * (1.2 + 1)) / (tf + 1.2 * ((1 - 0.75) + 0.75 * dl / stats.avgdl)) AS s
        |  FROM tf JOIN dfreq USING (tok) JOIN dl USING (did) CROSS JOIN stats),
        |agg AS (SELECT did,
        |    coalesce(SUM(CASE WHEN tok = 'table' THEN s END), 0.0) AS s0,
        |    coalesce(SUM(CASE WHEN tok = 'hash' THEN s END), 0.0) AS s1,
        |    coalesce(SUM(CASE WHEN tok = 'merge' THEN s END), 0.0) AS s2
        |  FROM sc GROUP BY 1)
        |SELECT did AS doc_id, round(s0 + s1 + s2, 6) AS score FROM agg
        |ORDER BY score DESC, doc_id LIMIT 25""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val app = s.sparkContext.applicationId.replaceAll("[^a-zA-Z0-9]", "_")
      val name = "ds6_" + app
      FtsIndex.writeBm25Partitioned(docs.filter(col("doc_id") % 3 === 2),
        "doc_id", "text", name, nBuckets = 8)
      val b0 = docs.filter(col("doc_id") % 3 === 0)
      FtsIndex.ingestBm25Batch(b0, 0L, "doc_id", "text", name, nBuckets = 8)
      // injected retry: replay batch 0 over its already-written partitions
      graft.core.Timing.overhead {
        FtsIndex.ingestBm25Batch(b0, 0L, "doc_id", "text", name, nBuckets = 8)
      }
      FtsIndex.ingestBm25Batch(docs.filter(col("doc_id") % 3 === 1), 1L,
        "doc_id", "text", name, nBuckets = 8)
      FtsIndex.searchBm25(s, name, Seq("table", "hash", "merge"), k = 25)
        .withColumnRenamed("did", "doc_id")
    },

    // Boolean keyword retrieval (TextOps.booleanSearch): docs containing
    // ALL of {spark, query} and NONE of {merge} — one postings pass, the
    // IN-list pruned in-scan, conjunction + exclusion decided by a single
    // per-doc counting aggregate (no semi/anti join chain).
    QueryDef(
      "fts2_boolean_search",
      """WITH post AS (SELECT DISTINCT doc_id, tok
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |        FROM documents)
        |  WHERE tok IN ('spark', 'query', 'merge')),
        |a AS (SELECT doc_id,
        |    COUNT(CASE WHEN tok IN ('spark', 'query') THEN 1 END) AS n_must,
        |    COUNT(CASE WHEN tok = 'merge' THEN 1 END) AS n_block
        |  FROM post GROUP BY doc_id)
        |SELECT doc_id FROM a WHERE n_must = 2 AND n_block = 0
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      TextOps.booleanSearch(Tables.documents(s, d), "doc_id", "text",
        mustAll = Seq("spark", "query"), mustNone = Seq("merge"))
        .select(col("did").as("doc_id")).orderBy(col("doc_id"))
    },

    // HYBRID retrieval via reciprocal-rank fusion (TextOps.rrfFuse,
    // Cormack et al. SIGIR'09): the fts1 BM25 top-25 fused with the exact
    // cosine top-25 of query vector 0 (doc ids and vec ids share the id
    // space in the fixtures). Credits are integer 1e6 DIV (60 + rank), so
    // the fused ordering is engine-exact with no score calibration between
    // the incomparable scales — the reason RRF is the production hybrid
    // default. Output: top-10 fused docs with list-membership count.
    QueryDef(
      "fts3_hybrid_rrf",
      s"""WITH $quantVecCte,
        |toks AS (SELECT doc_id AS did, unnest(string_split(text, ' ')) AS tok
        |    FROM documents),
        |dl AS (SELECT did, COUNT(*) AS dl FROM toks GROUP BY 1),
        |stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
        |    CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
        |tf AS (SELECT did, tok, COUNT(*) AS tf FROM toks
        |    WHERE tok IN ('table', 'hash', 'merge') GROUP BY 1, 2),
        |dfreq AS (SELECT tok, COUNT(*) AS dfreq FROM tf GROUP BY 1),
        |sc AS (SELECT tf.did, tf.tok,
        |    ln((stats.n_docs - dfreq + 0.5) / (dfreq + 0.5) + 1.0)
        |      * (tf * (1.2 + 1)) / (tf + 1.2 * ((1 - 0.75) + 0.75 * dl / stats.avgdl)) AS s
        |  FROM tf JOIN dfreq USING (tok) JOIN dl USING (did) CROSS JOIN stats),
        |agg AS (SELECT did,
        |    coalesce(SUM(CASE WHEN tok = 'table' THEN s END), 0.0) AS s0,
        |    coalesce(SUM(CASE WHEN tok = 'hash' THEN s END), 0.0) AS s1,
        |    coalesce(SUM(CASE WHEN tok = 'merge' THEN s END), 0.0) AS s2
        |  FROM sc GROUP BY 1),
        |kw AS (SELECT did, rank FROM (SELECT did,
        |    ROW_NUMBER() OVER (ORDER BY round(s0 + s1 + s2, 6) DESC, did) AS rank
        |  FROM agg) WHERE rank <= 25),
        |vec AS (SELECT did, rank FROM (
        |  SELECT v.sid AS did,
        |    ROW_NUMBER() OVER (ORDER BY ${sqlCosine("q.qv", "v.qv")} DESC, v.sid) AS rank
        |  FROM v CROSS JOIN (SELECT qv FROM v WHERE sid = 0) q
        |  WHERE v.sid <> 0) WHERE rank <= 25),
        |u AS (SELECT did, 1000000 // (60 + rank) AS c_fp FROM kw
        |  UNION ALL SELECT did, 1000000 // (60 + rank) FROM vec)
        |SELECT did AS doc_id, CAST(SUM(c_fp) AS BIGINT) AS rrf_fp,
        |  CAST(COUNT(*) AS BIGINT) AS n_lists
        |FROM u GROUP BY did ORDER BY rrf_fp DESC, doc_id LIMIT 10""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
      val emb = Tables.embeddings(s, d)
      // the BM25 list is 25 rows post-limit, so the rank window is
      // list-sized, never corpus-sized
      val kw = TextOps.bm25Rank(docs, "doc_id", "text",
          terms = Seq("table", "hash", "merge"), k = 25)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("score").desc, col("doc_id").asc)).cast("long"))
        .select(col("doc_id").as("did"), col("rank"))
      val vec = Similarity.bruteForceTopK(
          emb.filter(col("vec_id") === 0), emb, "vec_id", "embedding", 25)
        .select(col("nid").as("did"), col("rank"))
      TextOps.rrfFuse(Seq(kw, vec), rrfK = 60, k = 10)
        .select(col("did").as("doc_id"), col("rrf_fp"), col("n_lists"))
        .orderBy(col("rrf_fp").desc, col("doc_id"))
    },

    // Positional phrase search (TextOps.phraseSearch): docs containing the
    // exact consecutive sequence "table table" + match count + first
    // position — a repeated-term phrase, so the slot alignment (not mere
    // co-occurrence) is what the hash check proves. Overlaps count
    // separately on both engines.
    QueryDef(
      "fts4_phrase_search",
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |p AS (SELECT doc_id AS did, i - 1 AS pos, w[i] AS tok
        |  FROM w, unnest(generate_series(1, len(w))) AS t(i)),
        |ph(tok, idx) AS (SELECT * FROM (VALUES ('table', 0), ('table', 1))),
        |m AS (SELECT did, pos - idx AS base FROM p JOIN ph USING (tok)),
        |g AS (SELECT did, base, COUNT(*) AS n_slots FROM m GROUP BY 1, 2)
        |SELECT did AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_matches,
        |  CAST(MIN(base) AS BIGINT) AS first_pos
        |FROM g WHERE n_slots = 2 GROUP BY did ORDER BY did""".stripMargin) { (s, d) =>
      TextOps.phraseSearch(Tables.documents(s, d), "doc_id", "text",
          Seq("table", "table"))
        .select(col("did").as("doc_id"), col("n_matches"), col("first_pos"))
        .orderBy(col("doc_id"))
    },

    // Best-snippet extraction (TextOps.snippets): per doc the 8-token
    // window best covering the query {join, hash, filter} —
    // lexicographic (distinct terms, total hits, earliest start), all
    // integers. Candidates anchor at term positions (an optimal window
    // must start at one); only query-term postings shuffle; the per-doc
    // argmax is the w2 WindowGroupLimit shape. The oracle replays
    // postings, anchored windows and the tiebreak rank.
    QueryDef(
      "fts6_snippets",
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |p AS (SELECT doc_id AS did, CAST(i - 1 AS BIGINT) AS pos, w[i] AS tok
        |  FROM w, unnest(generate_series(1, len(w))) AS t(i)
        |  WHERE w[i] IN ('join', 'hash', 'filter')),
        |a AS (SELECT DISTINCT did, pos AS start FROM p),
        |s AS (SELECT a.did, a.start,
        |    CAST(COUNT(DISTINCT t.tok) AS BIGINT) AS n_terms,
        |    COUNT(*) AS n_hits
        |  FROM a JOIN p t ON a.did = t.did
        |    AND t.pos >= a.start AND t.pos < a.start + 8
        |  GROUP BY a.did, a.start),
        |r AS (SELECT did, start, n_terms, n_hits,
        |    ROW_NUMBER() OVER (PARTITION BY did
        |      ORDER BY n_terms DESC, n_hits DESC, start) AS rn
        |  FROM s)
        |SELECT did, start, n_terms, n_hits FROM r WHERE rn = 1
        |ORDER BY did""".stripMargin) { (s, d) =>
      TextOps.snippets(Tables.documents(s, d), "doc_id", "text",
          Seq("join", "hash", "filter"), window = 8)
        .orderBy(col("did"))
    },

    // Benchmark decontamination: corpus docs (doc_id % 7 <> 0) sharing any
    // word 3-gram with the "benchmark" slice (doc_id % 7 = 0) — the
    // test-set-leakage guard. Both sides reduce to distinct 48-bit gram
    // hashes before the join, so only 8-byte keys shuffle.
    QueryDef(
      "d14_decontaminate",
      decontaminateOracleSql) { (s, d) =>
      val docs = Tables.documents(s, d)
      Dedup.decontaminate(
        docs.filter(col("doc_id") % 7 =!= 0),
        docs.filter(col("doc_id") % 7 === 0),
        "doc_id", "text", 3)
        .select(col("sid").as("doc_id"), col("n_overlap"))
        .orderBy(col("doc_id"))
    },

    // Decontamination SERVED from the PERSISTED benchmark gram table
    // (Dedup.writeBenchmarkGrams + decontaminateServed — the lm8
    // train-once/serve-many closure for the leakage guard): eval suites
    // change on release cadence, corpora change per ingest, so the gram
    // set is built once into a g-bucketed catalog table and every later
    // corpus batch decontaminates against STORAGE. The scoring tail is
    // d14's code shared verbatim, so the oracle is d14's SQL VERBATIM:
    // through-storage must hash-equal from-scratch.
    QueryDef(
      "d33_decontaminate_served",
      decontaminateOracleSql) { (s, d) =>
      val docs = Tables.documents(s, d)
      val app = s.sparkContext.applicationId.replaceAll("[^a-zA-Z0-9]", "_")
      val name = "d33_" + app
      graft.sources.Bucketing.ensureCleanTable(
        s, Dedup.benchmarkGramsTable(name))
      Dedup.writeBenchmarkGrams(docs.filter(col("doc_id") % 7 === 0),
        "doc_id", "text", 3, name, 8)
      Dedup.decontaminateServed(s, docs.filter(col("doc_id") % 7 =!= 0),
          name, "doc_id", "text", 3)
        .select(col("sid").as("doc_id"), col("n_overlap"))
        .orderBy(col("doc_id"))
    },

    // Bloom-prefiltered decontamination: the same leakage guard as d14, but
    // the benchmark gram set is compressed to a 2^16-bit Bloom bitmap
    // (k = 3 disjoint 16-bit slices of the 48-bit gram hash) tested in-scan
    // — the layout for benchmark sets too big to broadcast as a join hash
    // relation. The oracle rebuilds the bitmap as a distinct probe-position
    // set and mirrors the 3-probe AND, so candidate selection (including
    // Bloom false positives, observable as n_bloom > n_exact) hash-checks
    // bit-for-bit. n_exact equals d14's n_overlap (asserted in DedupSpec).
    QueryDef(
      "bf1_bloom_prefilter",
      s"""WITH wds AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |g AS MATERIALIZED (SELECT DISTINCT doc_id AS sid,
         |    ${sqlHash("wds.w[i] || ' ' || wds.w[i+1] || ' ' || wds.w[i+2]", 12)} AS g
         |  FROM wds, unnest(generate_series(1, len(w) - 2)) AS t(i)),
         |bg AS MATERIALIZED (SELECT DISTINCT g FROM g WHERE sid % 7 = 0),
         |bp AS MATERIALIZED (SELECT DISTINCT (g >> t.s) & 65535 AS pos
         |  FROM bg, unnest([0, 16, 32]) AS t(s)),
         |cand AS (SELECT sid, g FROM g WHERE sid % 7 <> 0
         |  AND (g & 65535) IN (SELECT pos FROM bp)
         |  AND ((g >> 16) & 65535) IN (SELECT pos FROM bp)
         |  AND ((g >> 32) & 65535) IN (SELECT pos FROM bp))
         |SELECT sid AS doc_id, COUNT(*) AS n_bloom,
         |  CAST(SUM(CASE WHEN bg.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_exact
         |FROM cand LEFT JOIN bg ON cand.g = bg.g
         |GROUP BY sid ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      Dedup.bloomDecontaminate(
        docs.filter(col("doc_id") % 7 =!= 0),
        docs.filter(col("doc_id") % 7 === 0),
        "doc_id", "text", 3)
        .select(col("sid").as("doc_id"), col("n_bloom"), col("n_exact"))
        .orderBy(col("doc_id"))
    },

    // Sequence packing: documents concatenated in doc_id order into
    // 2048-token context windows; each doc assigned the pack holding its
    // first token. Engine computes the global prefix sum two-level
    // (per-bucket totals + within-bucket windows — no single-task global
    // window); the oracle is the naive one-window form, so the hash match
    // proves the distributed prefix sum is exact.
    QueryDef(
      "pk1_sequence_pack",
      s"""WITH t AS (SELECT doc_id,
         |    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens
         |  FROM documents),
         |st AS (SELECT doc_id, n_tokens,
         |  CAST(SUM(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
         |    - n_tokens AS BIGINT) AS start_offset
         |  FROM t)
         |SELECT doc_id, n_tokens, start_offset,
         |  start_offset // 2048 AS pack_id,
         |  start_offset % 2048 AS offset_in_pack
         |FROM st ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"),
        TextOps.wsTokenCount(col("text")).cast("long").as("n_tokens"))
      graft.operators.Packing.assignPacks(s, docs, "doc_id", "n_tokens", 2048L)
        .select(col("doc_id"), col("n_tokens"), col("start_offset"),
          col("pack_id"), col("offset_in_pack"))
        .orderBy(col("doc_id"))
    },

    // Length-banded packing (Packing.assignPacksBanded): docs band by
    // token-length (4 bands at 32-token width, top band open) and pack
    // independently within each band into 256-token windows — similar
    // lengths pack together. The oracle is the naive per-band window
    // cumsum; the engine's two-level decomposition must hash-match it,
    // band offsets included.
    QueryDef(
      "pk2_banded_pack",
      s"""WITH t AS (SELECT doc_id,
         |    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens
         |  FROM documents),
         |b AS (SELECT doc_id, n_tokens,
         |    least(n_tokens // 32, 3) AS band FROM t),
         |st AS (SELECT doc_id, n_tokens, band,
         |  CAST(SUM(n_tokens) OVER (PARTITION BY band ORDER BY doc_id
         |    ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS start_offset
         |  FROM b)
         |SELECT doc_id, n_tokens, CAST(band AS BIGINT) AS band, start_offset,
         |  start_offset // 256 AS pack_id,
         |  start_offset % 256 AS offset_in_pack
         |FROM st ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"),
        TextOps.wsTokenCount(col("text")).cast("long").as("n_tokens"))
        .withColumn("band", least(expr("n_tokens div 32"), lit(3L)).cast("long"))
      graft.operators.Packing.assignPacksBanded(s, docs, "doc_id", "n_tokens",
          256L, "band")
        .select(col("doc_id"), col("n_tokens"), col("band"),
          col("start_offset"), col("pack_id"), col("offset_in_pack"))
        .orderBy(col("doc_id"))
    },

    // Pack-homogeneity report (Packing.packSpreadReport): per-pack token-
    // length spread (max - min) summed over packs, for the GLOBAL pk1
    // layout vs the BANDED pk2 layout at the same 256-token pack size —
    // exact integers, so the banding claim (similar lengths together) is
    // measured, not asserted. The oracle replays both cumsum layouts.
    QueryDef(
      "pk3_pack_spread",
      s"""WITH t AS (SELECT doc_id,
         |    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens
         |  FROM documents),
         |g AS (SELECT n_tokens,
         |    CAST(SUM(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
         |      - n_tokens AS BIGINT) // 256 AS pack_id FROM t),
         |gs AS (SELECT 'global' AS layout,
         |    CAST(COUNT(*) AS BIGINT) AS n_packs,
         |    CAST(SUM(sp) AS BIGINT) AS sum_spread
         |  FROM (SELECT pack_id, MAX(n_tokens) - MIN(n_tokens) AS sp
         |        FROM g GROUP BY pack_id)),
         |b2 AS (SELECT band, n_tokens,
         |    CAST(SUM(n_tokens) OVER (PARTITION BY band ORDER BY doc_id
         |      ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) // 256 AS pack_id
         |  FROM (SELECT doc_id, n_tokens, least(n_tokens // 32, 3) AS band FROM t)),
         |bs AS (SELECT 'banded' AS layout,
         |    CAST(COUNT(*) AS BIGINT) AS n_packs,
         |    CAST(SUM(sp) AS BIGINT) AS sum_spread
         |  FROM (SELECT band, pack_id, MAX(n_tokens) - MIN(n_tokens) AS sp
         |        FROM b2 GROUP BY band, pack_id))
         |SELECT layout, n_packs, sum_spread,
         |  round(CAST(sum_spread AS DOUBLE) / n_packs, 6) AS mean_spread
         |FROM (SELECT * FROM gs UNION ALL SELECT * FROM bs)
         |ORDER BY layout""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"),
        TextOps.wsTokenCount(col("text")).cast("long").as("n_tokens"))
      val global = graft.operators.Packing.assignPacks(
        s, docs, "doc_id", "n_tokens", 256L)
      val banded = graft.operators.Packing.assignPacksBanded(
        s, docs.withColumn("band",
          least(expr("n_tokens div 32"), lit(3L)).cast("long")),
        "doc_id", "n_tokens", 256L, "band")
      graft.operators.Packing.packSpreadReport(global, "n_tokens",
          Seq("pack_id"), "global")
        .unionByName(graft.operators.Packing.packSpreadReport(banded,
          "n_tokens", Seq("band", "pack_id"), "banded"))
        .orderBy(col("layout"))
    },

    // Quality-WEIGHTED sampling: each doc survives with probability equal
    // to its quality score — high quality keeps near-certainty, junk keeps
    // a thin tail. Deterministic md5 bucket vs weight x 2^32, exactly
    // mirrored by the oracle.
    QueryDef(
      "sm5_weighted_sample",
      s"""SELECT doc_id, quality FROM (
         |  SELECT doc_id,
         |    0.4 * least(1.0, n_words / 100.0) + 0.3 * (1.0 - punct_ct / n_chars)
         |      + 0.3 * least(1.0, 4.0 * stop_ct / n_words) AS quality
         |  FROM (SELECT doc_id,
         |    greatest(CAST(len(string_split(text, ' ')) AS DOUBLE), 1.0) AS n_words,
         |    greatest(CAST(length(text) AS DOUBLE), 1.0) AS n_chars,
         |    CAST(len(regexp_extract_all(text, '[^a-z0-9 ]')) AS DOUBLE) AS punct_ct,
         |    CAST(len(list_filter(string_split(text, ' '),
         |      w -> w IN (${sqlList(TextOps.stopwords)}))) AS DOUBLE) AS stop_ct
         |  FROM documents))
         |WHERE CAST(CAST(concat('0x', substr(md5('w1:' || doc_id), 1, 8)) AS BIGINT)
         |    AS DOUBLE)
         |  < least(greatest(quality, 0.0), 1.0) * 4294967296.0
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val scored = Tables.documents(s, d).select(col("doc_id"),
        TextOps.qualityScore(col("text")).as("quality"))
      graft.operators.Sampling.weightedSample(scored, "doc_id", "quality", "w1")
        .orderBy(col("doc_id"))
    },

    // Per-source quota cap: at most 20 docs per source, lowest doc_ids kept
    // — the per-domain cap crawl corpora apply against dominant sources.
    QueryDef(
      "sm4_cap_per_source",
      """SELECT doc_id, source FROM (
        |  SELECT doc_id, source,
        |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        |  FROM documents) WHERE rn <= 20 ORDER BY doc_id""".stripMargin) { (s, d) =>
      graft.operators.Sampling.capPerKey(
        Tables.documents(s, d).select(col("doc_id"), col("source")),
        "source", "doc_id", 20)
        .orderBy(col("doc_id"))
    },

    QueryDef(
      "d8_embedding_neardup",
      s"""WITH $quantVecCte
         |SELECT * FROM (
         |  SELECT a.sid AS ida, b.sid AS idb,
         |    ${sqlCosine("a.qv", "b.qv")} AS cosine
         |  FROM v a JOIN v b ON a.sid < b.sid
         |) WHERE cosine >= 0.45 ORDER BY ida, idb""".stripMargin) { (s, d) =>
      Similarity.nearDupPairs(Tables.embeddings(s, d), "vec_id", "embedding", 0.45)
        .orderBy(col("ida"), col("idb"))
    },

    // Embedding near-dup, LSH-bucketed — the oracle-checked SCALE PATH for
    // d8's all-pairs baseline: same threshold, but exact cosine only within
    // shared (table, bucket). Oracle rebuilds the md5-derived planes.
    QueryDef(
      "d11_embedding_neardup_lsh",
      s"""WITH $quantVecCte,
         |planes AS (
         |  SELECT t.t AS tbl, m.m AS m,
         |    list(${sqlHash("'plane_' || t.t || '_' || m.m || '_' || j.j", 8)} % 2001 - 1000
         |         ORDER BY j.j) AS pv
         |  FROM generate_series(0, 15) t(t), generate_series(0, 5) m(m),
         |       generate_series(0, 63) j(j)
         |  GROUP BY t.t, m.m),
         |buckets AS (
         |  SELECT v.sid, p.tbl,
         |    SUM(CASE WHEN list_dot_product(v.qv, p.pv) > 0
         |        THEN (CAST(1 AS BIGINT) << p.m) ELSE 0 END) AS bucket
         |  FROM v CROSS JOIN planes p
         |  GROUP BY v.sid, p.tbl),
         |cand AS (SELECT DISTINCT a.sid AS ida, b.sid AS idb
         |  FROM buckets a JOIN buckets b
         |    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.sid < b.sid)
         |SELECT * FROM (
         |  SELECT c.ida, c.idb, ${sqlCosine("va.qv", "vb.qv")} AS cosine
         |  FROM cand c JOIN v va ON c.ida = va.sid JOIN v vb ON c.idb = vb.sid)
         |WHERE cosine >= 0.45 ORDER BY ida, idb""".stripMargin) { (s, d) =>
      Similarity.lshNearDupPairs(Tables.embeddings(s, d), "vec_id", "embedding",
        dim = 64, nTables = 16, nPlanes = 6, threshold = 0.45)
        .orderBy(col("ida"), col("idb"))
    },

    // MULTI-PROBE near-dup mining (Similarity.lshNearDupPairsMultiProbe):
    // the 8 x 10 precision index probed at <= 2 sign-bit flips. Measured
    // recall vs the exact d8 baseline at the same 0.45 threshold: 0.867
    // (sf0.01) / 0.943 (sf0.1) — above d11's 16 x 6 config (0.600/0.780)
    // at ~1.6x its candidates — precision still 1 by construction. Oracle
    // mirrors the XOR probe expansion into the pair join.
    QueryDef(
      "d20_neardup_multiprobe",
      s"""WITH $quantVecCte,
         |${lshIndexCtes(8, 10)},
         |fl AS (SELECT CAST(0 AS BIGINT) AS flip
         |  UNION ALL SELECT (CAST(1 AS BIGINT) << f)
         |    FROM generate_series(0, 9) g(f)
         |  UNION ALL SELECT xor(CAST(1 AS BIGINT) << a.a, CAST(1 AS BIGINT) << b.b)
         |    FROM generate_series(0, 9) a(a), generate_series(0, 9) b(b)
         |    WHERE a.a < b.b),
         |probes AS (SELECT sid, tbl, xor(bucket, flip) AS bucket
         |  FROM buckets, fl),
         |cand AS (SELECT DISTINCT p.sid AS ida, b.sid AS idb
         |  FROM probes p JOIN buckets b
         |    ON p.tbl = b.tbl AND p.bucket = b.bucket AND p.sid < b.sid)
         |SELECT * FROM (
         |  SELECT c.ida, c.idb, ${sqlCosine("va.qv", "vb.qv")} AS cosine
         |  FROM cand c JOIN v va ON c.ida = va.sid JOIN v vb ON c.idb = vb.sid)
         |WHERE cosine >= 0.45 ORDER BY ida, idb""".stripMargin) { (s, d) =>
      Similarity.lshNearDupPairsMultiProbe(Tables.embeddings(s, d), "vec_id",
        "embedding", dim = 64, nTables = 8, nPlanes = 10, maxFlips = 2,
        threshold = 0.45)
        .orderBy(col("ida"), col("idb"))
    },

    // Embedding dedup CLUSTERS: the d11 LSH-bucketed pairs fed through the
    // same pointer-jumping connected components text dedup uses (d9) —
    // semantic near-dup groups labeled by min id, the embedding analog of
    // the d10/d16 cluster step. Oracle: d11's plane/bucket CTEs + the
    // recursive-closure component labeling (an independent algorithm).
    QueryDef(
      "d19_embedding_components",
      s"""WITH RECURSIVE $quantVecCte,
         |planes AS (
         |  SELECT t.t AS tbl, m.m AS m,
         |    list(${sqlHash("'plane_' || t.t || '_' || m.m || '_' || j.j", 8)} % 2001 - 1000
         |         ORDER BY j.j) AS pv
         |  FROM generate_series(0, 15) t(t), generate_series(0, 5) m(m),
         |       generate_series(0, 63) j(j)
         |  GROUP BY t.t, m.m),
         |buckets AS (
         |  SELECT v.sid, p.tbl,
         |    SUM(CASE WHEN list_dot_product(v.qv, p.pv) > 0
         |        THEN (CAST(1 AS BIGINT) << p.m) ELSE 0 END) AS bucket
         |  FROM v CROSS JOIN planes p
         |  GROUP BY v.sid, p.tbl),
         |cand AS (SELECT DISTINCT a.sid AS ida, b.sid AS idb
         |  FROM buckets a JOIN buckets b
         |    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.sid < b.sid),
         |pairs AS (SELECT ida, idb FROM (
         |  SELECT c.ida, c.idb, ${sqlCosine("va.qv", "vb.qv")} AS cosine
         |  FROM cand c JOIN v va ON c.ida = va.sid JOIN v vb ON c.idb = vb.sid)
         |  WHERE cosine >= 0.45),
         |bidir(a, b) AS (SELECT ida, idb FROM pairs UNION SELECT idb, ida FROM pairs),
         |nodes(x) AS (SELECT DISTINCT a FROM bidir),
         |r(x, y) AS (SELECT x, x FROM nodes
         |  UNION SELECT r.x, e.b FROM r JOIN bidir e ON e.a = r.y)
         |SELECT x AS sid, min(y) AS component FROM r GROUP BY x
         |ORDER BY sid""".stripMargin) { (s, d) =>
      graft.core.Storage.freeingIntermediates(s) {
        Dedup.connectedComponents(
          Similarity.lshNearDupPairs(Tables.embeddings(s, d), "vec_id",
            "embedding", dim = 64, nTables = 16, nPlanes = 6, threshold = 0.45))
      }.orderBy(col("sid"))
    },

    // STREAMING COMPONENT-LABEL MAINTENANCE (Dedup.mergeComponentsTable):
    // the d26 merge driven through STORAGE with an injected replay — seed
    // labels from the corpus-slice minhash pairs, then two batches of
    // pairs folded into the persisted labels table, batch 1 merged TWICE
    // (replay-idempotent by the merge's semantics: re-merging unified
    // endpoints re-solves to identical min-member labels — no partition
    // machinery needed for cluster-sized state). The oracle is the
    // from-scratch closure over ALL verified pairs.
    QueryDef(
      "ds7_component_ingest",
      s"""WITH RECURSIVE $shingleCtes,
         |$sigSelect,
         |$bandsCte,
         |$candidatesCte,
         |inter AS (SELECT ida, idb, COUNT(*) AS n_inter
         |  FROM cand JOIN sh a ON ida = a.sid JOIN sh b ON idb = b.sid AND a.g = b.g
         |  GROUP BY ida, idb),
         |vp AS (SELECT ida, idb FROM (
         |  SELECT ida, idb,
         |    CAST(n_inter AS DOUBLE) / (sa.nsh + sb.nsh - n_inter) AS jaccard
         |  FROM inter JOIN sizes sa ON ida = sa.sid JOIN sizes sb ON idb = sb.sid
         |) WHERE jaccard >= 0.5),
         |bidir(a, b) AS (SELECT ida, idb FROM vp UNION SELECT idb, ida FROM vp),
         |nodes(x) AS (SELECT DISTINCT a FROM bidir),
         |r(x, y) AS (SELECT x, x FROM nodes
         |  UNION SELECT r.x, e.b FROM r JOIN bidir e ON e.a = r.y)
         |SELECT x AS sid, min(y) AS component FROM r GROUP BY x
         |ORDER BY sid""".stripMargin) { (s, d) =>
      graft.core.Storage.freeingIntermediates(s) {
        val docs = Tables.documents(s, d)
        val vp = graft.core.Storage.cut(
          Dedup.minhashVerifiedPairs(docs, "doc_id", "text", 3, 0.5), true)
        def stage(c: org.apache.spark.sql.Column) =
          when(c % 8 === 0, 1L).when(c % 8 === 4, 2L).otherwise(0L)
        val ps = vp.withColumn("stg",
          greatest(stage(col("ida")), stage(col("idb"))))
        val app = s.sparkContext.applicationId.replaceAll("[^a-zA-Z0-9]", "_")
        val table = "graft_labels_ds7_" + app
        graft.sources.Bucketing.ensureCleanTable(s, table)
        Dedup.connectedComponents(ps.filter(col("stg") === 0))
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .format("parquet").saveAsTable(table)
        val p1 = ps.filter(col("stg") === 1)
        Dedup.mergeComponentsTable(s, table, p1)
        // injected replay: fold batch 1 in again after it already landed
        graft.core.Timing.overhead {
          Dedup.mergeComponentsTable(s, table, p1)
        }
        Dedup.mergeComponentsTable(s, table, ps.filter(col("stg") === 2))
        s.table(table)
      }.orderBy(col("sid"))
    },

    // STREAMING SEMDEDUP (Similarity.writeSemIndex/ingestSemBatch): d25
    // made train-once/serve-many — centroids FROZEN on the seed corpus
    // (vec_id % 4 != 0), members batch-partitioned + cid-bucketed, labels
    // maintained incrementally per batch; batch 0 ingested TWICE (the
    // injected-retry discipline — partition replace + idempotent label
    // merge absorb it). The oracle is the from-scratch spec: assign ALL
    // vectors to the corpus-trained centroids, within-cell pairs at
    // 0.45, recursive closure — so the hash match proves the streaming
    // path accumulates exactly the full pair set's labels.
    QueryDef(
      "ds8_semdedup_ingest",
      s"""WITH RECURSIVE $quantVecCte,
         |vc AS (SELECT sid, qv FROM v WHERE sid % 4 <> 0),
         |c0 AS (SELECT sid AS cid, qv AS cv FROM vc ORDER BY sid LIMIT 8),
         |a1 AS (SELECT sid, qv, cid FROM (
         |  SELECT vc.sid, vc.qv, c.cid,
         |    ROW_NUMBER() OVER (PARTITION BY vc.sid
         |      ORDER BY ${sqlCosine("vc.qv", "c.cv")} DESC, c.cid) AS rn
         |  FROM vc CROSS JOIN c0 c) WHERE rn = 1),
         |c1 AS (SELECT cid, list(sx ORDER BY pos) AS cv FROM (
         |  SELECT cid, pos, SUM(qv[pos]) AS sx
         |  FROM a1, unnest(generate_series(1, 64)) AS t(pos)
         |  GROUP BY cid, pos) GROUP BY cid),
         |a2 AS (SELECT sid, qv, cid FROM (
         |  SELECT v.sid, v.qv, c.cid,
         |    ROW_NUMBER() OVER (PARTITION BY v.sid
         |      ORDER BY ${sqlCosine("v.qv", "c.cv")} DESC, c.cid) AS rn
         |  FROM v CROSS JOIN c1 c) WHERE rn = 1),
         |pairs AS (SELECT a.sid AS ida, b.sid AS idb
         |  FROM a2 a JOIN a2 b ON a.cid = b.cid AND a.sid < b.sid
         |  WHERE ${sqlCosine("a.qv", "b.qv")} >= 0.45),
         |bidir(a, b) AS (SELECT ida, idb FROM pairs UNION SELECT idb, ida FROM pairs),
         |nodes(x) AS (SELECT DISTINCT a FROM bidir),
         |r(x, y) AS (SELECT x, x FROM nodes
         |  UNION SELECT r.x, e.b FROM r JOIN bidir e ON e.a = r.y)
         |SELECT x AS sid, min(y) AS component FROM r GROUP BY x
         |ORDER BY sid""".stripMargin) { (s, d) =>
      graft.core.Storage.freeingIntermediates(s) {
        val emb = Tables.embeddings(s, d)
        val app = s.sparkContext.applicationId.replaceAll("[^a-zA-Z0-9]", "_")
        val name = "ds8_" + app
        Similarity.writeSemIndex(emb.filter(col("vec_id") % 4 =!= 0),
          "vec_id", "embedding", nCells = 8, rounds = 2, threshold = 0.45,
          name, nBuckets = 8)
        val b0 = emb.filter(col("vec_id") % 8 === 0)
        Similarity.ingestSemBatch(b0, 0L, "vec_id", "embedding", 0.45,
          name, nBuckets = 8)
        // injected retry: replay batch 0 after its partition landed
        graft.core.Timing.overhead {
          Similarity.ingestSemBatch(b0, 0L, "vec_id", "embedding", 0.45,
            name, nBuckets = 8)
        }
        Similarity.ingestSemBatch(emb.filter(col("vec_id") % 8 === 4), 1L,
          "vec_id", "embedding", 0.45, name, nBuckets = 8)
        s.table(Similarity.semLabelsTable(name))
      }.orderBy(col("sid"))
    },

    // INCREMENTAL components (Dedup.mergeComponents): the d19 pair set
    // split into an "existing corpus" slice and a "new batch" slice
    // (pairs touching vec_id % 4 == 3), labels built from the first then
    // MERGED with the second — the oracle is d19's from-scratch recursive
    // closure over ALL pairs, so the hash match proves incremental
    // label maintenance loses nothing (untouched clusters pass through,
    // touched clusters re-solve via their star edges).
    QueryDef(
      "d26_incremental_components",
      s"""WITH RECURSIVE $quantVecCte,
         |planes AS (
         |  SELECT t.t AS tbl, m.m AS m,
         |    list(${sqlHash("'plane_' || t.t || '_' || m.m || '_' || j.j", 8)} % 2001 - 1000
         |         ORDER BY j.j) AS pv
         |  FROM generate_series(0, 15) t(t), generate_series(0, 5) m(m),
         |       generate_series(0, 63) j(j)
         |  GROUP BY t.t, m.m),
         |buckets AS (
         |  SELECT v.sid, p.tbl,
         |    SUM(CASE WHEN list_dot_product(v.qv, p.pv) > 0
         |        THEN (CAST(1 AS BIGINT) << p.m) ELSE 0 END) AS bucket
         |  FROM v CROSS JOIN planes p
         |  GROUP BY v.sid, p.tbl),
         |cand AS (SELECT DISTINCT a.sid AS ida, b.sid AS idb
         |  FROM buckets a JOIN buckets b
         |    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.sid < b.sid),
         |pairs AS (SELECT ida, idb FROM (
         |  SELECT c.ida, c.idb, ${sqlCosine("va.qv", "vb.qv")} AS cosine
         |  FROM cand c JOIN v va ON c.ida = va.sid JOIN v vb ON c.idb = vb.sid)
         |  WHERE cosine >= 0.45),
         |bidir(a, b) AS (SELECT ida, idb FROM pairs UNION SELECT idb, ida FROM pairs),
         |nodes(x) AS (SELECT DISTINCT a FROM bidir),
         |r(x, y) AS (SELECT x, x FROM nodes
         |  UNION SELECT r.x, e.b FROM r JOIN bidir e ON e.a = r.y)
         |SELECT x AS sid, min(y) AS component FROM r GROUP BY x
         |ORDER BY sid""".stripMargin) { (s, d) =>
      graft.core.Storage.freeingIntermediates(s) {
        val pairs = Similarity.lshNearDupPairs(Tables.embeddings(s, d),
          "vec_id", "embedding", dim = 64, nTables = 16, nPlanes = 6,
          threshold = 0.45)
        val isNew = col("ida") % 4 === 3 || col("idb") % 4 === 3
        val labels0 = Dedup.connectedComponents(pairs.filter(!isNew))
        Dedup.mergeComponents(labels0, pairs.filter(isNew))
      }.orderBy(col("sid"))
    },

    // == similarity search ==

    QueryDef(
      "s1_knn_bruteforce",
      s"""WITH $quantVecCte,
         |q AS (SELECT sid AS qid, qv AS qqv FROM v WHERE sid < 8),
         |scored AS (SELECT qid, v.sid AS nid,
         |    ${sqlCosine("qqv", "v.qv")} AS cosine
         |  FROM v CROSS JOIN q WHERE v.sid <> qid)
         |SELECT * FROM (
         |  SELECT qid, nid, cosine,
         |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rank
         |  FROM scored
         |) WHERE rank <= 5 ORDER BY qid, rank""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      Similarity.bruteForceTopK(
        emb.filter(col("vec_id") < 8), emb, "vec_id", "embedding", 5)
        .orderBy(col("qid"), col("rank"))
    },

    // BINARY sign-bit ANN (Similarity.binarySignTopK — the FAISS
    // binary-index pattern): 64 dims pack to ONE long, Hamming shortlist
    // (xor + popcount, 8 bytes/vector moved), exact-cosine rerank of the
    // 4k-deep shortlist. The oracle packs the same signatures with bit_or
    // (the j=64 sign bit as a literal — DuckDB's shift is overflow-checked
    // where the JVM's wraps) and replays shortlist + rerank tiebreaks.
    QueryDef(
      "s25_binary_sign_knn",
      s"""WITH $quantVecCte,
         |sg AS (SELECT sid, bit_or(CASE WHEN qv[j] > 0 THEN
         |      CASE WHEN j = 64 THEN CAST(-9223372036854775808 AS BIGINT)
         |        ELSE CAST(1 AS BIGINT) << (j - 1) END
         |    ELSE CAST(0 AS BIGINT) END) AS sig
         |  FROM v, unnest(generate_series(1, 64)) AS t(j) GROUP BY sid),
         |q AS (SELECT sid AS qid, sig AS qsig FROM sg WHERE sid < 8),
         |sl AS (SELECT qid, nid, hamming FROM (
         |    SELECT q.qid, s.sid AS nid,
         |      CAST(bit_count(xor(s.sig, q.qsig)) AS BIGINT) AS hamming,
         |      ROW_NUMBER() OVER (PARTITION BY q.qid
         |        ORDER BY bit_count(xor(s.sig, q.qsig)), s.sid) AS rn
         |    FROM sg s CROSS JOIN q WHERE s.sid <> q.qid) WHERE rn <= 20),
         |re AS (SELECT sl.qid, sl.nid, sl.hamming,
         |    ${sqlCosine("qv2.qv", "cv.qv")} AS cosine
         |  FROM sl JOIN v cv ON cv.sid = sl.nid JOIN v qv2 ON qv2.sid = sl.qid)
         |SELECT qid, nid, hamming, cosine, rank FROM (
         |  SELECT qid, nid, hamming, cosine,
         |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rank
         |  FROM re) WHERE rank <= 5 ORDER BY qid, rank""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      Similarity.binarySignTopK(emb.filter(col("vec_id") < 8), emb,
          "vec_id", "embedding", dim = 64, k = 5, rerank = 4)
        .orderBy(col("qid"), col("rank"))
    },

    // Hard-negative mining (Similarity.hardNegatives): per query, the
    // top-5 highest-cosine corpus vectors with a DIFFERENT label — the
    // contrastive-training negatives a dual encoder needs. Same quantized
    // cosine + deterministic tiebreak as s1; scale path = the persisted
    // ANN shortlist + this label filter (scaladoc).
    QueryDef(
      "r1_hard_negatives",
      s"""WITH $quantVecCte,
         |l AS (SELECT vec_id AS sid, CAST(label AS BIGINT) AS label
         |  FROM embeddings),
         |q AS (SELECT v.sid AS qid, v.qv AS qqv, l.label AS qlabel
         |  FROM v JOIN l ON l.sid = v.sid WHERE v.sid < 8),
         |scored AS (SELECT qid, v.sid AS nid, l2.label AS nlabel,
         |    ${sqlCosine("qqv", "v.qv")} AS cosine
         |  FROM v JOIN l l2 ON l2.sid = v.sid CROSS JOIN q
         |  WHERE v.sid <> qid AND l2.label <> qlabel)
         |SELECT * FROM (
         |  SELECT qid, nid, nlabel, cosine,
         |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rank
         |  FROM scored
         |) WHERE rank <= 5 ORDER BY qid, rank""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      graft.operators.Similarity.hardNegatives(
        emb.filter(col("vec_id") < 8), emb, "vec_id", "embedding", "label", 5)
        .orderBy(col("qid"), col("rank"))
    },

    // LSH-bucketed ANN — the scale path. The hyperplanes are md5-derived
    // integer constants (Similarity.plane), so the oracle rebuilds them from
    // the SAME md5 formula (sqlHash) and mirrors bucketing + candidate join
    // + exact-cosine ranking — a full hash-check of the bucketed path, not
    // rows-only. Recall vs s1 additionally asserted in SimilaritySpec.
    QueryDef(
      "s2_knn_lsh",
      s"""WITH $quantVecCte,
         |${lshCtes(8, 10)}
         |$cosineRankSelect ORDER BY qid, rank""".stripMargin) { (s, d) =>
      Similarity.lshTopK(Tables.embeddings(s, d), "vec_id", "embedding",
        dim = 64, nTables = 8, nPlanes = 10, k = 5)
        .orderBy(col("qid"), col("rank"))
    },

    // IVF-bucketed ANN. Centroids are data-derived (the nCells lowest ids),
    // so the whole index build is SQL-expressible: the oracle mirrors
    // assignment (best cell), probing (top-nProbe cells) and in-cell exact
    // ranking — hash-checked end to end. Precision vs brute force asserted
    // in SimilaritySpec.
    QueryDef(
      "s3_knn_ivf",
      s"""WITH $quantVecCte,
         |${ivfFlatCtes(16, 4)}
         |$cosineRankSelect ORDER BY qid, rank""".stripMargin) { (s, d) =>
      Similarity.ivfTopK(Tables.embeddings(s, d), "vec_id", "embedding",
        nCells = 16, nProbe = 4, k = 5)
        .orderBy(col("qid"), col("rank"))
    },

    // AUTO-SIZED IVF (Similarity.indexParams): the FAISS-discipline
    // nCells ~ 4 sqrt(N) defaults, oracle-verified — the same probe path as
    // s3 but with the index sized from the corpus (N = 500 at the oracle's
    // sf0.01 -> 89 cells, probe 5; the oracle pins those numbers, the Spark
    // side derives them from count() so bench runs at other SFs keep
    // scaling). This is the configuration a production corpus should run;
    // s3's fixed 16 cells remain as the small-fixture baseline.
    QueryDef(
      "s18_knn_ivf_auto",
      s"""WITH $quantVecCte,
         |${ivfFlatCtes(89, 5)}
         |$cosineRankSelect ORDER BY qid, rank""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val (cells, probe) = Similarity.indexParams(emb.count())
      Similarity.ivfTopK(emb, "vec_id", "embedding",
        nCells = cells, nProbe = probe, k = 5)
        .orderBy(col("qid"), col("rank"))
    },

    // IVF RANGE search (Similarity.ivfRangeSearch): FAISS range_search
    // parity — every candidate with cosine >= 0.25 for each of the 8 query
    // vectors, via the same seeded 16-cell/4-probe index as s3. No rank
    // window anywhere: the threshold filters the per-cell scoring join
    // directly, so result size is data-driven (the radius serve shape).
    // The oracle reuses s3's IVF CTE chain with a threshold instead of a
    // rank.
    QueryDef(
      "s21_ivf_range",
      s"""WITH $quantVecCte,
         |${ivfFlatCtes(16, 4)}
         |SELECT qid, nid, cosine FROM sc
         |WHERE qid < 8 AND cosine >= 0.25 ORDER BY qid, nid""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      Similarity.ivfRangeSearch(emb.filter(col("vec_id") < 8), emb,
        "vec_id", "embedding", nCells = 16, updates = 0, nProbe = 4,
        minCosine = 0.25)
        .orderBy(col("qid"), col("nid"))
    },

    // MULTI-PROBE LSH (Similarity.lshTopKMultiProbe): the 8 x 10 precision
    // index probed at <= 2 sign-bit flips per table. Recall@5 measured
    // 0.825 (sf0.01) / 0.875 (sf0.1) — above the dedicated 8 x 4 recall
    // preset — with ~10x fewer candidates; the index side is unchanged, so
    // a persisted bucket layout serves both probe modes. Oracle mirrors
    // the XOR probe expansion exactly.
    QueryDef(
      "s22_lsh_multiprobe",
      s"""WITH $quantVecCte,
         |${lshMultiProbeCtes(8, 10)}
         |$cosineRankSelect ORDER BY qid, rank""".stripMargin) { (s, d) =>
      Similarity.lshTopKMultiProbe(Tables.embeddings(s, d), "vec_id",
        "embedding", dim = 64, nTables = 8, nPlanes = 10, maxFlips = 2,
        k = 5, probeFilter = col("qid") < 8)
        .orderBy(col("qid"), col("rank"))
    },

    // Spherical k-means embedding clustering (2 Lloyd rounds). Fully
    // hash-checked because centroids are integer SUM vectors (cosine to the
    // mean == cosine to the sum), so the oracle unrolls both rounds in exact
    // arithmetic: seed cells -> argmax-cosine assignment -> per-dimension
    // sums -> reassignment.
    // Per-label embedding centroid sums: the per-group vector reduction
    // (graft.plans.VectorSumLong) oracle-checked directly — exact integer
    // sums over quantized embeddings, any merge order. Output is flattened
    // to (label, pos, sx) scalar rows: the harness hashes scalar columns.
    QueryDef(
      "e1_label_centroids",
      s"""WITH v AS (SELECT label, list_transform(embedding,
         |    x -> CAST(round(CAST(x AS DOUBLE) * ${Similarity.QuantScale}) AS BIGINT)) AS qv
         |  FROM embeddings)
         |SELECT CAST(label AS BIGINT) AS label, CAST(pos AS BIGINT) AS pos,
         |  CAST(SUM(qv[pos]) AS BIGINT) AS sx
         |FROM v, unnest(generate_series(1, 64)) AS t(pos)
         |GROUP BY label, pos ORDER BY label, pos""".stripMargin) { (s, d) =>
      Tables.embeddings(s, d)
        .select(col("label").cast("long").as("label"),
          Similarity.quantize(col("embedding")).as("qv"))
        .groupBy(col("label"))
        .agg(graft.plans.VectorSumLong.vectorSum(col("qv")).as("centroid_sum"))
        .select(col("label"),
          posexplode(col("centroid_sum")).as(Seq("pos0", "sx")))
        .select(col("label"), (col("pos0") + 1).cast("long").as("pos"),
          col("sx"))
        .orderBy(col("label"), col("pos"))
    },

    // Embedding-space drift (Similarity.centroidDrift): per-label centroid
    // cosine between two snapshot slices (even vs odd vec_ids) — exact
    // integer centroid sums (the e1 contract) floor-shifted >> 10 so the
    // cross dot stays in BIGINT, then the house integer-ratio cosine.
    // Labels in one slice only drift by definition (NULL cosine).
    QueryDef(
      "e3_centroid_drift",
      s"""WITH va AS (SELECT CAST(label AS BIGINT) AS label,
         |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * ${Similarity.QuantScale}) AS BIGINT)) AS qv
         |  FROM embeddings WHERE vec_id % 2 = 0),
         |vb AS (SELECT CAST(label AS BIGINT) AS label,
         |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * ${Similarity.QuantScale}) AS BIGINT)) AS qv
         |  FROM embeddings WHERE vec_id % 2 = 1),
         |na AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n_a FROM va GROUP BY label),
         |nb AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n_b FROM vb GROUP BY label),
         |sa AS (SELECT label, list(sx >> 10 ORDER BY pos) AS cva FROM (
         |  SELECT label, pos, CAST(SUM(qv[pos]) AS BIGINT) AS sx
         |  FROM va, unnest(generate_series(1, 64)) AS t(pos)
         |  GROUP BY label, pos) GROUP BY label),
         |sb AS (SELECT label, list(sx >> 10 ORDER BY pos) AS cvb FROM (
         |  SELECT label, pos, CAST(SUM(qv[pos]) AS BIGINT) AS sx
         |  FROM vb, unnest(generate_series(1, 64)) AS t(pos)
         |  GROUP BY label, pos) GROUP BY label),
         |j AS (SELECT coalesce(sa.label, sb.label) AS label,
         |    coalesce(n_a, 0) AS n_a, coalesce(n_b, 0) AS n_b,
         |    ${sqlCosine("cva", "cvb")} AS cosine_shift
         |  FROM sa FULL OUTER JOIN sb ON sa.label = sb.label
         |    LEFT JOIN na ON na.label = sa.label
         |    LEFT JOIN nb ON nb.label = sb.label)
         |SELECT label, n_a, n_b, cosine_shift,
         |  (cosine_shift IS NULL OR cosine_shift < 0.95) AS drift
         |FROM j ORDER BY label""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      Similarity.centroidDrift(
          emb.filter(col("vec_id") % 2 === 0),
          emb.filter(col("vec_id") % 2 === 1),
          "embedding", "label", minCosine = 0.95)
        .orderBy(col("label"))
    },

    // Retrieval metrics (Similarity.retrievalMetrics): per-query hit
    // count, MRR and binary-relevance DCG@5 of the s2 LSH rung against s1
    // exact ground truth — all integer fixed point (mrr_fp = 1e6 // rank;
    // discount 1e12 // lnMicro(r+1) through the sqlLog2Fp twin of
    // graft.plans.LnFp, so the 5-row discount table cross-checks the
    // kernel). idcg_fp is the same table summed — the normalizer reported
    // as data.
    QueryDef(
      "e2_retrieval_metrics",
      s"""WITH RECURSIVE $pow2Cte, $quantVecCte,
         |${lshCtes(8, 10)},
         |ap AS (SELECT qid, nid, arank FROM (
         |  SELECT qid, nid, ROW_NUMBER() OVER (PARTITION BY qid
         |      ORDER BY cosine DESC, nid) AS arank
         |  FROM sc WHERE qid < 8) WHERE arank <= 5),
         |q AS (SELECT sid AS qid, qv AS qqv FROM v WHERE sid < 8),
         |exsc AS (SELECT qid, v.sid AS nid, ${sqlCosine("qqv", "v.qv")} AS cosine
         |  FROM v CROSS JOIN q WHERE v.sid <> qid),
         |ex AS (SELECT qid, nid, erank FROM (
         |  SELECT qid, nid, ROW_NUMBER() OVER (PARTITION BY qid
         |      ORDER BY cosine DESC, nid) AS erank
         |  FROM exsc) WHERE erank <= 5),
         |din AS (SELECT r AS key, CAST(r + 1 AS BIGINT) AS p,
         |    CAST(1 AS BIGINT) AS q FROM generate_series(1, 5) g(r)),
         |${sqlLog2Fp("dl", "din", "key")},
         |disc AS (SELECT key AS r, 1000000000000 // ($sqlLnMicroFromL) AS dg_fp
         |  FROM dlL),
         |idcg AS (SELECT CAST(SUM(dg_fp) AS BIGINT) AS idcg_fp FROM disc),
         |hits AS (SELECT ap.qid, ap.arank, ex.erank, d.dg_fp
         |  FROM ap JOIN ex ON ap.qid = ex.qid AND ap.nid = ex.nid
         |  JOIN disc d ON d.r = ap.arank),
         |perq AS (SELECT qid, CAST(COUNT(*) AS BIGINT) AS n_hits,
         |    CAST(SUM(dg_fp) AS BIGINT) AS dcg_fp,
         |    MIN(CASE WHEN erank = 1 THEN arank END) AS fr
         |  FROM hits GROUP BY qid)
         |SELECT qs.qid, coalesce(n_hits, 0) AS n_hits,
         |  coalesce(1000000 // fr, 0) AS mrr_fp,
         |  coalesce(dcg_fp, 0) AS dcg_fp, idcg_fp
         |FROM (SELECT DISTINCT qid FROM ex) qs
         |CROSS JOIN idcg LEFT JOIN perq USING (qid)
         |ORDER BY qs.qid""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val exact = Similarity.bruteForceTopK(
        emb.filter(col("vec_id") < 8), emb, "vec_id", "embedding", 5)
      val approx = Similarity.lshTopK(emb, "vec_id", "embedding",
        dim = 64, nTables = 8, nPlanes = 10, k = 5,
        probeFilter = col("qid") < 8)
      Similarity.retrievalMetrics(approx, exact, 5)
        .orderBy(col("qid"))
    },

    // N-gram overlap eval metrics (TextOps.ngramOverlapEval): the BLEU-n /
    // ROUGE-n counting core in exact integers — per (pair, order) CLIPPED
    // matches sum(min(c_cand, c_ref)), both occurrence totals, and the two
    // fixed-point ratios (modified precision / recall), floor-divided on
    // positive operands so DuckDB // == Spark DIV. Pairs are adjacent
    // documents (even doc_id = candidate, odd = reference).
    QueryDef(
      "e4_ngram_overlap",
      s"""WITH $ngramOverlapCtes
        |SELECT id, CAST(ord AS BIGINT) AS ord,
        |  coalesce(matches, 0) AS matches, cand_total, ref_total,
        |  coalesce(matches, 0) * 1000000 // cand_total AS p_fp,
        |  coalesce(matches, 0) * 1000000 // ref_total AS r_fp
        |FROM ct JOIN rt USING (id, ord) LEFT JOIN m USING (id, ord)
        |ORDER BY id, ord""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
        .withColumn("pair_id", expr("doc_id DIV 2"))
      TextOps.ngramOverlapEval(
          docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 === 1),
          "pair_id", "text", maxOrder = 3)
        .orderBy(col("id"), col("ord"))
    },

    // Corpus-level BLEU per candidate source (TextOps.corpusBleu): pooled
    // e4 counts per (source, order), every log through the LnFp integer
    // kernel (oracle = the sqlLog2Fp shift-and-square twin), zero-match
    // smoothing max(M, 1) with n_smoothed reported, brevity penalty
    // -floor((r-c)*1e6/c) pre-widened to HUGEINT/decimal(38,0). The score
    // ships as N*logBLEU (log_bleu_xn_micro) because dividing the negative
    // sum is where Spark DIV and DuckDB // disagree.
    QueryDef(
      "e5_corpus_bleu",
      s"""WITH RECURSIVE $pow2Cte,
        |$ngramOverlapCtes,
        |pg AS (SELECT doc_id // 2 AS id, source FROM documents
        |  WHERE doc_id % 2 = 0),
        |eo AS (SELECT id, ord, coalesce(matches, 0) AS matches,
        |    cand_total, ref_total
        |  FROM ct JOIN rt USING (id, ord) LEFT JOIN m USING (id, ord)),
        |po AS (SELECT source AS grp, ord,
        |    CAST(SUM(matches) AS BIGINT) AS pm,
        |    CAST(SUM(cand_total) AS BIGINT) AS c,
        |    CAST(SUM(ref_total) AS BIGINT) AS r
        |  FROM eo JOIN pg USING (id) GROUP BY 1, 2),
        |blin AS (SELECT grp || '#' || ord AS key, greatest(pm, 1) AS p,
        |    c AS q FROM po),
        |${sqlLog2Fp("bl", "blin", "key")},
        |lnp AS (SELECT key, $sqlLnMicroFromL AS ln_p FROM blL),
        |ag AS (SELECT grp,
        |    CAST(SUM(ln_p) AS BIGINT) AS sum_ln_p_micro,
        |    CAST(SUM(CASE WHEN pm = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_smoothed,
        |    CAST(SUM(CASE WHEN ord = 1 THEN c END) AS BIGINT) AS c_len,
        |    CAST(SUM(CASE WHEN ord = 1 THEN r END) AS BIGINT) AS r_len
        |  FROM po JOIN lnp ON lnp.key = po.grp || '#' || po.ord
        |  GROUP BY 1)
        |SELECT grp, sum_ln_p_micro, n_smoothed, c_len, r_len,
        |  CASE WHEN c_len < r_len THEN
        |    -(CAST(CAST(r_len - c_len AS HUGEINT) * 1000000 // c_len
        |      AS BIGINT)) ELSE 0 END AS ln_bp_micro,
        |  CASE WHEN c_len < r_len THEN
        |    -(CAST(CAST(r_len - c_len AS HUGEINT) * 1000000 // c_len
        |      AS BIGINT)) ELSE 0 END * 3 + sum_ln_p_micro
        |    AS log_bleu_xn_micro
        |FROM ag ORDER BY grp""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
        .withColumn("pair_id", expr("doc_id DIV 2"))
      TextOps.corpusBleu(
          docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 === 1),
          "pair_id", "text", "source", maxOrder = 3)
        .orderBy(col("grp"))
    },

    // ROUGE-L (TextOps.rougeL): token-level LCS per adjacent-document pair
    // through the native graft_lcs_tokens DP kernel; the oracle replays
    // the SAME two-row DP as a recursive CTE whose row update is a
    // list_reduce carrying dp'[j-1] (the intra-row dependency SQL can't
    // express elementwise). F1 = 2PR/(P+R) collapses to 2L/(c+r) — one
    // positive floor division, no float harmonic mean.
    QueryDef(
      "e6_rouge_l",
      """WITH RECURSIVE
        |cd AS (SELECT doc_id // 2 AS id, string_split(text, ' ') AS cw
        |  FROM documents WHERE doc_id % 2 = 0),
        |rd AS (SELECT doc_id // 2 AS id, string_split(text, ' ') AS rw
        |  FROM documents WHERE doc_id % 2 = 1),
        |pr AS (SELECT id, cw, rw, len(cw) AS cl, len(rw) AS rl
        |  FROM cd JOIN rd USING (id)),
        |it(id, i, cw, rw, dp) AS (
        |  SELECT id, 0, cw, rw,
        |    list_transform(generate_series(0, rl), x -> CAST(0 AS BIGINT))
        |  FROM pr
        |  UNION ALL
        |  SELECT id, i + 1, cw, rw,
        |    list_reduce(
        |      list_prepend([CAST(0 AS BIGINT)],
        |        list_transform(generate_series(1, len(rw)),
        |          j -> [CAST(j AS BIGINT)])),
        |      (acc, x) -> list_append(acc,
        |        greatest(dp[x[1] + 1], acc[len(acc)],
        |          dp[x[1]] + CASE WHEN cw[i + 1] = rw[x[1]]
        |            THEN 1 ELSE 0 END)))
        |  FROM it WHERE i < len(cw))
        |SELECT pr.id, dp[len(dp)] AS lcs,
        |  CAST(pr.cl AS BIGINT) AS c_len, CAST(pr.rl AS BIGINT) AS r_len,
        |  dp[len(dp)] * 1000000 // pr.cl AS p_fp,
        |  dp[len(dp)] * 1000000 // pr.rl AS r_fp,
        |  2 * dp[len(dp)] * 1000000 // (pr.cl + pr.rl) AS f_fp
        |FROM it JOIN pr USING (id) WHERE it.i = pr.cl
        |ORDER BY pr.id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
        .withColumn("pair_id", expr("doc_id DIV 2"))
      TextOps.rougeL(
          docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 === 1),
          "pair_id", "text")
        .orderBy(col("id"))
    },

    // Exact per-language ROC-AUC of the t22 quality classifier
    // (Quality.rocAuc): the Mann-Whitney rank-sum identity over the
    // (lang, score) tie-group table with midrank ties, doubled ranks so
    // every value is an integer — the "did the filter separate curated
    // from crawl" eval a threshold deployment needs. Ranks never
    // materialize per row; the strictly-below count is a two-level prefix
    // (tokenBudgetPerKey discipline), so no per-language window at any
    // scale. The oracle retrains the 513-ln model (shared CTE chain),
    // rescores every doc, and replays the rank-sum from a plain window —
    // num/den BIGINT-exact, AUC = auc_num / auc_den.
    QueryDef(
      "e7_roc_auc",
      s"""WITH RECURSIVE $pow2Cte,
         |$classifierScoredCtes,
         |gs AS (SELECT lang, s, COUNT(*) AS t,
         |    CAST(SUM(CASE WHEN is_p THEN 1 ELSE 0 END) AS BIGINT) AS p
         |  FROM scored GROUP BY 1, 2),
         |pre AS (SELECT lang, t, p,
         |    COALESCE(SUM(t) OVER (PARTITION BY lang ORDER BY s
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
         |  FROM gs),
         |agg AS (SELECT lang, SUM(p) AS pos, SUM(t) - SUM(p) AS neg,
         |    SUM(CAST(p AS HUGEINT) * (2 * cb + t + 1)) AS r2
         |  FROM pre GROUP BY lang)
         |SELECT lang, CAST(pos AS BIGINT) AS pos, CAST(neg AS BIGINT) AS neg,
         |  CAST(r2 - CAST(pos AS HUGEINT) * (pos + 1) AS BIGINT) AS auc_num,
         |  CAST(2 * CAST(pos AS HUGEINT) * neg AS BIGINT) AS auc_den
         |FROM agg ORDER BY lang""".stripMargin) { (s, d) =>
      graft.operators.Quality.rocAuc(scoredWithLang(s, d),
          "lang", "actual", "score_fp")
        .select(col("lang"), col("pos"), col("neg"),
          col("auc_num").cast("long").as("auc_num"),
          col("auc_den").cast("long").as("auc_den"))
        .orderBy(col("lang"))
    },

    // HARD-NEGATIVE RETRAIN LOOP CLOSURE (VERDICT r17 ask #7): t22 trains
    // on weak curated-vs-crawl labels, r1 mines embedding-space hard
    // negatives (negatives nearest the first 8 positive docs' vectors —
    // vec_id == doc_id is the fixture convention), and the retrain
    // UP-WEIGHTS the mined docs 4x in the negative class
    // (TextOps.trainQualityModelWeighted — integer weighted counts, same
    // two-lns form). Both models then rescore the near-boundary eval set
    // (the mined neighborhoods: query positives + their mined negatives)
    // and e7's exact rank-sum AUC reports the before/after margin — one
    // row per model, every integer hash-checked, AUC one rounded division.
    QueryDef(
      "t34_hard_negative_retrain",
      s"""WITH RECURSIVE $pow2Cte,
         |$quantVecCte,
         |lab AS (SELECT doc_id AS sid,
         |    source IN ('src0','src1','src2','src3') AS is_p FROM documents),
         |q8 AS (SELECT v.sid AS qid, v.qv AS qqv FROM v JOIN lab ON lab.sid = v.sid
         |  WHERE lab.is_p ORDER BY v.sid LIMIT 8),
         |sc0 AS (SELECT qid, v.sid AS nid, ${sqlCosine("qqv", "v.qv")} AS cosine
         |  FROM v JOIN lab l2 ON l2.sid = v.sid CROSS JOIN q8
         |  WHERE v.sid <> qid AND NOT l2.is_p),
         |mined AS (SELECT DISTINCT nid AS doc_id FROM (
         |  SELECT qid, nid,
         |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rank
         |  FROM sc0) WHERE rank <= 5),
         |wts AS (SELECT d.doc_id, CASE WHEN m.doc_id IS NOT NULL
         |    THEN CAST(4 AS BIGINT) ELSE CAST(1 AS BIGINT) END AS wt
         |  FROM documents d LEFT JOIN mined m USING (doc_id)),
         |$classifierScoredCtes,
         |${weightedQualityModelCtes("x")},
         |ll2 AS (SELECT doc_id, CAST(SUM(c * w_fp) AS BIGINT) AS ll_fp
         |  FROM cdb JOIN xwt USING (b) GROUP BY doc_id),
         |scored2 AS (SELECT d.doc_id,
         |    d.source IN ('src0','src1','src2','src3') AS is_p,
         |    COALESCE(ll2.ll_fp, 0) + xprior.prior_fp AS s
         |  FROM documents d CROSS JOIN xprior LEFT JOIN ll2 USING (doc_id)),
         |ev AS (SELECT doc_id FROM mined UNION SELECT qid AS doc_id FROM q8),
         |es AS (SELECT 'v1' AS model, s.is_p, s.s FROM scored s JOIN ev USING (doc_id)
         |  UNION ALL
         |  SELECT 'v2', s2.is_p, s2.s FROM scored2 s2 JOIN ev USING (doc_id)),
         |tgs AS (SELECT model, s, COUNT(*) AS t,
         |    CAST(SUM(CASE WHEN is_p THEN 1 ELSE 0 END) AS BIGINT) AS p
         |  FROM es GROUP BY 1, 2),
         |tpre AS (SELECT model, t, p,
         |    COALESCE(SUM(t) OVER (PARTITION BY model ORDER BY s
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
         |  FROM tgs),
         |tagg AS (SELECT model, SUM(p) AS pos, SUM(t) - SUM(p) AS neg,
         |    SUM(CAST(p AS HUGEINT) * (2 * cb + t + 1)) AS r2
         |  FROM tpre GROUP BY model)
         |SELECT model, pos, neg, auc_num, auc_den,
         |  round(CAST(auc_num AS DOUBLE) / CAST(auc_den AS DOUBLE), 6) AS auc
         |FROM (SELECT model, CAST(pos AS BIGINT) AS pos, CAST(neg AS BIGINT) AS neg,
         |    CAST(r2 - CAST(pos AS HUGEINT) * (pos + 1) AS BIGINT) AS auc_num,
         |    CAST(2 * CAST(pos AS HUGEINT) * neg AS BIGINT) AS auc_den
         |  FROM tagg)
         |ORDER BY model""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val isP = col("source").isin("src0", "src1", "src2", "src3")
      // the embeddings table carries its own synthetic `label`; the loop
      // labels vectors by the DOC's weak label (vec_id == doc_id), so drop
      // the former before attaching the latter
      val labeled = Tables.embeddings(s, d).drop("label").join(
        docs.select(col("doc_id").as("vec_id"), isP.cast("long").as("label")),
        Seq("vec_id"))
      val q8 = labeled.filter(col("label") === 1L)
        .orderBy(col("vec_id")).limit(8)
      val mined = graft.operators.Similarity.hardNegatives(
          q8, labeled, "vec_id", "embedding", "label", 5)
        .select(col("nid").as("doc_id")).distinct()
      val withWt = docs
        .join(broadcast(mined.withColumn("__mined", lit(true))),
          Seq("doc_id"), "left")
        .withColumn("__wt", when(col("__mined"), lit(4L)).otherwise(lit(1L)))
      val v1 = TextOps.trainQualityModel(docs, "doc_id", "text", isP, 256)
      val v2 = TextOps.trainQualityModelWeighted(withWt, "doc_id", "text",
        isP, col("__wt"), 256)
      val evalIds = mined
        .unionByName(q8.select(col("vec_id").as("doc_id"))).distinct()
        .select(col("doc_id").as("did"))
      val actual = docs.select(col("doc_id").as("did"), isP.as("actual"))
      def scoredWith(model: org.apache.spark.sql.DataFrame, tag: String) =
        TextOps.scoreQuality(docs, "doc_id", "text", model, 256)
          .join(actual, Seq("did"))
          .join(broadcast(evalIds), Seq("did"))
          .withColumn("model", lit(tag))
      val both = scoredWith(v1, "v1").unionByName(scoredWith(v2, "v2"))
      graft.operators.Quality.rocAuc(both, "model", "actual", "score_fp")
        .select(col("model"), col("pos"), col("neg"),
          col("auc_num").cast("long").as("auc_num"),
          col("auc_den").cast("long").as("auc_den"))
        .withColumn("auc", round(col("auc_num").cast("double") /
          col("auc_den").cast("double"), 6))
        .orderBy(col("model"))
    },

    // Content-provenance authority rank (GraphOps.derivationEdges +
    // pageRank): docs whose word 3-grams are FIRST-held by another doc
    // (the d21 relation, kept as edges instead of aggregated away) link to
    // that originator; 3 integer-fixed-point PageRank iterations rank
    // originators above copiers — the link-authority curation signal, with
    // every floor division on nonnegative operands so ranks hash-check
    // bitwise. The oracle replays edges, degrees, and all three unrolled
    // iterations in HUGEINT.
    QueryDef(
      "g1_link_authority",
      s"""WITH ${authorityCtes("", "TRUE", 3)}
         |SELECT sid, r AS rank_fp FROM r3 ORDER BY sid""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val edges = graft.operators.GraphOps
        .derivationEdges(docs, "doc_id", "text", 3)
      graft.operators.GraphOps.pageRank(edges, docs, "doc_id", iters = 3)
        .orderBy(col("sid"))
    },

    // HITS hubs & authorities (GraphOps.hits — round 19: Kleinberg's dual
    // of g1's PageRank over the same derivation graph; a doc that COPIES
    // from many first-holders is a hub, a first-holder copied by many
    // good hubs is an authority — the two sides of provenance the single
    // PageRank score conflates). Exact-integer unnormalized form, 2
    // fixed iterations (value bound degree^4 — BIGINT-safe by contract);
    // the oracle replays both rounds as plain join+sum CTEs.
    QueryDef(
      "g4_hits",
      s"""WITH w0 AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |sh0 AS (SELECT DISTINCT doc_id AS sid,
         |    w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS gram
         |  FROM w0, unnest(generate_series(1, len(w) - 2)) AS t(i)),
         |shh AS (SELECT sid, ${sqlHash("gram", 12)} AS g FROM sh0),
         |fh AS (SELECT g, MIN(sid) AS dst FROM shh GROUP BY g),
         |edges AS MATERIALIZED (SELECT DISTINCT s.sid AS src, f.dst
         |  FROM shh s JOIN fh f USING (g) WHERE f.dst < s.sid),
         |nodes AS (SELECT doc_id AS sid FROM documents),
         |a0 AS (SELECT sid, CAST(1 AS BIGINT) AS a FROM nodes),
         |h1 AS MATERIALIZED (SELECT n.sid, CAST(COALESCE(x.s, 0) AS BIGINT) AS h
         |  FROM nodes n LEFT JOIN (SELECT e.src AS sid, CAST(SUM(a.a) AS BIGINT) AS s
         |    FROM edges e JOIN a0 a ON a.sid = e.dst GROUP BY e.src) x USING (sid)),
         |a1 AS MATERIALIZED (SELECT n.sid, CAST(COALESCE(x.s, 0) AS BIGINT) AS a
         |  FROM nodes n LEFT JOIN (SELECT e.dst AS sid, CAST(SUM(h.h) AS BIGINT) AS s
         |    FROM edges e JOIN h1 h ON h.sid = e.src GROUP BY e.dst) x USING (sid)),
         |h2 AS MATERIALIZED (SELECT n.sid, CAST(COALESCE(x.s, 0) AS BIGINT) AS h
         |  FROM nodes n LEFT JOIN (SELECT e.src AS sid, CAST(SUM(a.a) AS BIGINT) AS s
         |    FROM edges e JOIN a1 a ON a.sid = e.dst GROUP BY e.src) x USING (sid)),
         |a2 AS (SELECT n.sid, CAST(COALESCE(x.s, 0) AS BIGINT) AS a
         |  FROM nodes n LEFT JOIN (SELECT e.dst AS sid, CAST(SUM(h.h) AS BIGINT) AS s
         |    FROM edges e JOIN h2 h ON h.sid = e.src GROUP BY e.dst) x USING (sid))
         |SELECT h2.sid, h2.h AS hub_fp, a2.a AS auth_fp
         |FROM h2 JOIN a2 USING (sid) ORDER BY sid""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val edges = graft.operators.GraphOps
        .derivationEdges(docs, "doc_id", "text", 3)
      graft.operators.GraphOps.hits(edges, docs, "doc_id", iters = 2)
        .orderBy(col("sid"))
    },

    // Versioned authority-rank REFRESH (GraphOps.refreshAuthority /
    // serveAuthority) — ds9's model-refresh discipline on the graph
    // family: v0 ranks the pre-batch corpus slice, the refresh recomputes
    // v1 over the full corpus (authority is a corpus-global fixed point —
    // periodic recompute IS the honest refresh), both landed by
    // partition-replace on rank_version; the v1 refresh is REPLAYED
    // (injected retry) — storage-derived input + integer-deterministic
    // ranks rewrite identical bytes. Serve partition-prunes to one
    // committed version; rollback = the previous one.
    QueryDef(
      "g2_authority_refresh",
      s"""WITH ${authorityCtes("a", "doc_id % 5 <> 0", 3)},
         |${authorityCtes("b", "TRUE", 3)}
         |SELECT * FROM (
         |SELECT sid, r AS rank_fp, CAST(0 AS BIGINT) AS rank_version FROM ar3
         |UNION ALL
         |SELECT sid, r AS rank_fp, CAST(1 AS BIGINT) AS rank_version FROM br3)
         |ORDER BY rank_version, sid""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val app = s.sparkContext.applicationId.replaceAll("[^a-zA-Z0-9]", "_")
      val path = s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:") +
        "/graft_authority_g2_" + app
      import graft.operators.GraphOps.{refreshAuthority, serveAuthority}
      refreshAuthority(docs.filter(col("doc_id") % 5 =!= 0),
        "doc_id", "text", 3, 3, 0L, path)
      refreshAuthority(docs, "doc_id", "text", 3, 3, 1L, path)
      // injected retry: replay the v1 refresh over its landed partition
      graft.core.Timing.overhead {
        refreshAuthority(docs, "doc_id", "text", 3, 3, 1L, path)
      }
      serveAuthority(s, path, 0L).unionByName(serveAuthority(s, path, 1L))
        .orderBy(col("rank_version"), col("sid"))
    },

    // LABEL PROPAGATION over the verified near-dup graph (GraphOps.
    // labelPropagate — Zhu & Ghahramani 2002, clamped seeds): every third
    // doc keeps its trusted `lang` as a seed; two synchronous rounds
    // spread labels to unlabeled neighbors by majority vote (count desc,
    // label asc — deterministic). The weak-supervision move that restores
    // lost metadata across duplicate clusters. The oracle replays d9's
    // verified-pair chain plus both vote rounds with the same tiebreak;
    // docs the graph never reaches surface with NULL label/round.
    QueryDef(
      "g3_label_propagation",
      s"""WITH $shingleCtes,
         |$sigSelect,
         |$bandsCte,
         |$candidatesCte,
         |inter AS (SELECT ida, idb, COUNT(*) AS n_inter
         |  FROM cand JOIN sh a ON ida = a.sid JOIN sh b ON idb = b.sid AND a.g = b.g
         |  GROUP BY ida, idb),
         |pairs AS (SELECT ida, idb FROM (
         |  SELECT ida, idb,
         |    CAST(n_inter AS DOUBLE) / (sa.nsh + sb.nsh - n_inter) AS jaccard
         |  FROM inter JOIN sizes sa ON ida = sa.sid JOIN sizes sb ON idb = sb.sid
         |) WHERE jaccard >= 0.5),
         |bidir(a, b) AS (SELECT ida, idb FROM pairs UNION SELECT idb, ida FROM pairs),
         |l0 AS (SELECT doc_id AS sid, lang AS label, CAST(0 AS BIGINT) AS round
         |  FROM documents WHERE doc_id % 3 = 0),
         |v1 AS (SELECT b.b AS sid, l.label, COUNT(*) AS c
         |  FROM bidir b JOIN l0 l ON b.a = l.sid
         |  WHERE b.b NOT IN (SELECT sid FROM l0) GROUP BY b.b, l.label),
         |n1 AS (SELECT sid, label FROM (
         |  SELECT sid, label,
         |    ROW_NUMBER() OVER (PARTITION BY sid ORDER BY c DESC, label) AS rn
         |  FROM v1) WHERE rn = 1),
         |l1 AS (SELECT * FROM l0
         |  UNION ALL SELECT sid, label, CAST(1 AS BIGINT) FROM n1),
         |v2 AS (SELECT b.b AS sid, l.label, COUNT(*) AS c
         |  FROM bidir b JOIN l1 l ON b.a = l.sid
         |  WHERE b.b NOT IN (SELECT sid FROM l1) GROUP BY b.b, l.label),
         |n2 AS (SELECT sid, label FROM (
         |  SELECT sid, label,
         |    ROW_NUMBER() OVER (PARTITION BY sid ORDER BY c DESC, label) AS rn
         |  FROM v2) WHERE rn = 1),
         |l2 AS (SELECT * FROM l1
         |  UNION ALL SELECT sid, label, CAST(2 AS BIGINT) FROM n2)
         |SELECT d.doc_id AS sid, l.label, l.round
         |FROM documents d LEFT JOIN l2 l ON d.doc_id = l.sid
         |ORDER BY sid""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val labeled = graft.core.Storage.freeingIntermediates(s) {
        graft.operators.GraphOps.labelPropagate(
          Dedup.minhashVerifiedPairs(docs, "doc_id", "text", 3, 0.5)
            .select(col("ida"), col("idb")),
          docs.filter(col("doc_id") % 3 === 0)
            .select(col("doc_id").as("sid"), col("lang").as("label")),
          rounds = 2)
      }
      docs.select(col("doc_id").as("sid"))
        .join(labeled, Seq("sid"), "left")
        .orderBy(col("sid"))
    },

    // chrF (TextOps.chrF): character n-gram F-beta=2 over whitespace-
    // stripped texts, e4's pairing (even doc = candidate, odd = reference).
    // F collapses algebraically to 5m/(4*tr + tc) — one positive floor
    // division per (pair, order) row, so scores hash-check bitwise. The
    // oracle replays de-spacing, the two-level char-gram fan-out, clipping
    // and the collapsed ratio.
    QueryDef(
      "e8_chrf",
      s"""WITH cs AS (SELECT doc_id // 2 AS id,
         |    replace(replace(replace(replace(text, ' ', ''),
         |      chr(9), ''), chr(10), ''), chr(13), '') AS s
         |  FROM documents WHERE doc_id % 2 = 0),
         |rs AS (SELECT doc_id // 2 AS id,
         |    replace(replace(replace(replace(text, ' ', ''),
         |      chr(9), ''), chr(10), ''), chr(13), '') AS s
         |  FROM documents WHERE doc_id % 2 = 1),
         |cg AS (SELECT id, n AS ord, substr(s, i, n) AS gram,
         |    CAST(COUNT(*) AS BIGINT) AS cc
         |  FROM cs, unnest(generate_series(1, 6)) tn(n),
         |       unnest(generate_series(1, length(s) - n + 1)) ti(i)
         |  GROUP BY 1, 2, 3),
         |rg AS (SELECT id, n AS ord, substr(s, i, n) AS gram,
         |    CAST(COUNT(*) AS BIGINT) AS rc
         |  FROM rs, unnest(generate_series(1, 6)) tn(n),
         |       unnest(generate_series(1, length(s) - n + 1)) ti(i)
         |  GROUP BY 1, 2, 3),
         |cl AS (SELECT id, ord, CAST(SUM(least(cc, rc)) AS BIGINT) AS m
         |  FROM cg JOIN rg USING (id, ord, gram) GROUP BY 1, 2),
         |ct AS (SELECT id, ord, CAST(SUM(cc) AS BIGINT) AS cand_total
         |  FROM cg GROUP BY 1, 2),
         |rt AS (SELECT id, ord, CAST(SUM(rc) AS BIGINT) AS ref_total
         |  FROM rg GROUP BY 1, 2)
         |SELECT id, ord, COALESCE(m, 0) AS matches, cand_total, ref_total,
         |  5 * COALESCE(m, 0) * 1000000 // (4 * ref_total + cand_total)
         |    AS f_fp
         |FROM ct JOIN rt USING (id, ord) LEFT JOIN cl USING (id, ord)
         |ORDER BY id, ord""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
        .withColumn("pair_id", expr("doc_id DIV 2"))
      TextOps.chrF(
          docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 === 1),
          "pair_id", "text", maxOrder = 6)
        .orderBy(col("id"), col("ord"))
    },

    // Calibration / reliability table (Quality.calibrationBins): e7 says
    // the classifier ORDERS curated above crawl; this says what the scores
    // MEAN — per (lang, equal-width log-odds bin) the row and positive
    // counts, pure integer arithmetic from the global min/max, one
    // map-side aggregate (no rank, no window — quantile bins would need
    // one). Empty bins emit no row.
    QueryDef(
      "e9_calibration_bins",
      s"""WITH RECURSIVE $pow2Cte,
         |$classifierScoredCtes,
         |wd AS (SELECT MIN(s) AS lo, (MAX(s) - MIN(s)) // 16 + 1 AS w
         |  FROM scored),
         |b AS (SELECT lang, (s - lo) // w AS bin,
         |    lo + ((s - lo) // w) * w AS bin_lo_fp, is_p
         |  FROM scored CROSS JOIN wd)
         |SELECT lang, bin, bin_lo_fp, COUNT(*) AS n,
         |  CAST(SUM(CASE WHEN is_p THEN 1 ELSE 0 END) AS BIGINT) AS n_pos
         |FROM b GROUP BY lang, bin, bin_lo_fp
         |ORDER BY lang, bin""".stripMargin) { (s, d) =>
      graft.operators.Quality.calibrationBins(scoredWithLang(s, d),
          "lang", "actual", "score_fp", nBins = 16)
        .orderBy(col("lang"), col("bin"))
    },

    // Confusion counts at the model's native threshold (score > 0, where
    // naive-Bayes log-odds flips): tp/fp/fn/tn per language in one
    // map-side aggregate — precision/recall/F1/accuracy are ratios of
    // these four integers (ship the sufficient statistic, the e4 rule).
    QueryDef(
      "e10_confusion_counts",
      s"""WITH RECURSIVE $pow2Cte,
         |$classifierScoredCtes
         |SELECT lang,
         |  CAST(SUM(CASE WHEN s > 0 AND is_p THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         |  CAST(SUM(CASE WHEN s > 0 AND NOT is_p THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         |  CAST(SUM(CASE WHEN s <= 0 AND is_p THEN 1 ELSE 0 END) AS BIGINT) AS fn,
         |  CAST(SUM(CASE WHEN s <= 0 AND NOT is_p THEN 1 ELSE 0 END) AS BIGINT) AS tn
         |FROM scored GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
      graft.operators.Quality.confusionCounts(scoredWithLang(s, d),
          "lang", "actual", "score_fp")
        .orderBy(col("lang"))
    },

    // REGRESSION eval metrics (Quality.regressionMetrics): a per-type
    // mean-value predictor trained on even event_ids, evaluated on odd —
    // MAE/RMSE/R² per event_type with per-row DECIMAL(25,6) error terms
    // (exact order-free sums), one division each under round-6. The eval
    // family's regression counterpart to e7/e10/e15.
    QueryDef(
      "e16_regression_metrics",
      """WITH tr AS (SELECT event_type,
        |    CAST(SUM(CAST(value AS DECIMAL(25,4))) AS DOUBLE) / COUNT(*) AS yhat
        |  FROM events WHERE event_id % 2 = 0 GROUP BY 1),
        |ev AS (SELECT e.event_type, e.value AS y, tr.yhat
        |  FROM events e JOIN tr USING (event_type) WHERE event_id % 2 = 1),
        |mb AS (SELECT event_type,
        |    CAST(SUM(CAST(y AS DECIMAL(25,4))) AS DOUBLE) / COUNT(*) AS ybar
        |  FROM ev GROUP BY 1),
        |t AS (SELECT ev.event_type,
        |    CAST(abs(y - yhat) AS DECIMAL(25,6)) AS ae,
        |    CAST((y - yhat) * (y - yhat) AS DECIMAL(25,6)) AS se,
        |    CAST((y - ybar) * (y - ybar) AS DECIMAL(25,6)) AS st
        |  FROM ev JOIN mb USING (event_type))
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  round(CAST(SUM(ae) AS DOUBLE) / COUNT(*), 6) AS mae,
        |  round(sqrt(CAST(SUM(se) AS DOUBLE) / COUNT(*)), 6) AS rmse,
        |  CASE WHEN SUM(st) > 0 THEN
        |    round(CAST(1 AS DOUBLE) - CAST(SUM(se) AS DOUBLE)
        |      / CAST(SUM(st) AS DOUBLE), 6) END AS r2
        |FROM t GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      val dec4 = org.apache.spark.sql.types.DataTypes.createDecimalType(25, 4)
      val train = ev.filter(col("event_id") % 2 === 0)
        .groupBy(col("event_type"))
        .agg((sum(col("value").cast(dec4)).cast("double") / count(lit(1)))
          .as("yhat"))
      graft.operators.Quality.regressionMetrics(
          ev.filter(col("event_id") % 2 === 1)
            .join(broadcast(train), Seq("event_type"))
            .select(col("event_type"), col("value"), col("yhat")),
          "event_type", "value", "yhat")
        .orderBy(col("event_type"))
    },

    // COHEN'S KAPPA per language (Quality.cohensKappa — chance-corrected
    // agreement over e10's confusion counts): κ as the exact integer
    // fraction (N·(tp+tn) − Σmarginal-products) / (N² − Σ...) in the
    // rocAuc num/den discipline — accuracy without the base-rate illusion
    // a skewed-class corpus gives plain accuracy. Products in
    // DECIMAL(38,0)/HUGEINT, output longs hash-check bitwise.
    QueryDef(
      "e15_cohens_kappa",
      s"""WITH RECURSIVE $pow2Cte,
         |$classifierScoredCtes,
         |cm AS (SELECT lang,
         |    CAST(SUM(CASE WHEN s > 0 AND is_p THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         |    CAST(SUM(CASE WHEN s > 0 AND NOT is_p THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         |    CAST(SUM(CASE WHEN s <= 0 AND is_p THEN 1 ELSE 0 END) AS BIGINT) AS fn,
         |    CAST(SUM(CASE WHEN s <= 0 AND NOT is_p THEN 1 ELSE 0 END) AS BIGINT) AS tn
         |  FROM scored GROUP BY lang)
         |SELECT lang, CAST(tp + fp + fn + tn AS BIGINT) AS n,
         |  CAST(CAST(tp + fp + fn + tn AS HUGEINT) * (tp + tn)
         |    - (CAST(tp + fp AS HUGEINT) * (tp + fn)
         |       + CAST(fn + tn AS HUGEINT) * (fp + tn)) AS BIGINT) AS kappa_num,
         |  CAST(CAST(tp + fp + fn + tn AS HUGEINT) * (tp + fp + fn + tn)
         |    - (CAST(tp + fp AS HUGEINT) * (tp + fn)
         |       + CAST(fn + tn AS HUGEINT) * (fp + tn)) AS BIGINT) AS kappa_den
         |FROM cm ORDER BY lang""".stripMargin) { (s, d) =>
      graft.operators.Quality.cohensKappa(scoredWithLang(s, d),
          "lang", "actual", "score_fp")
        .orderBy(col("lang"))
    },

    // Unbiased pass@k (Quality.passAtK — Chen et al. 2021's HumanEval
    // estimator): per problem (doc_id % 25, n = 20 samples each), pass@1/
    // 5/10 from the falling-factorial product 1 − Π(n−c−i)/(n−i) in exact
    // integer micro-probabilities (DECIMAL(38,0) chains + one floor
    // division — no binomials, no floats, so DuckDB's HUGEINT replay
    // hash-checks bitwise). "Correct" is a deterministic hash parity
    // (~1/3 pass rate) — the estimator is the unit under test, not the
    // grader. One map-side aggregate; no window, no join.
    QueryDef(
      "e11_pass_at_k",
      s"""WITH s AS (SELECT doc_id % 25 AS problem,
         |    (${sqlHash("text", 12)} % 3 = 0) AS ok FROM documents),
         |a AS (SELECT problem, CAST(COUNT(*) AS BIGINT) AS n_samples,
         |    CAST(SUM(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
         |  FROM s GROUP BY 1)
         |SELECT problem, n_samples, n_correct,
         |  ${sqlPassAtK(1)} AS pass1_fp,
         |  ${sqlPassAtK(5)} AS pass5_fp,
         |  ${sqlPassAtK(10)} AS pass10_fp
         |FROM a ORDER BY problem""".stripMargin) { (s, d) =>
      graft.operators.Quality.passAtK(
          Tables.documents(s, d)
            .select((col("doc_id") % 25).as("problem"),
              (graft.operators.Dedup.hash48(col("text")) % 3 === 0).as("ok")),
          "problem", "ok", Seq(1, 5, 10))
        .orderBy(col("problem"))
    },

    // Spearman rank correlation between two rankers
    // (Quality.spearmanByGroup): do length (n_chars) and lexical richness
    // (distinct-token count) order a language's documents the same way?
    // Ties break by doc_id, so both rank vectors are exact permutations
    // (no average-rank fractions); Σd² rides DECIMAL(38,0) and
    // rho = 1 − 6Σd²/(n(n²−1)) is a fixed IEEE sequence. Ranks are
    // two-level bucketed (global value buckets + per-(lang, bucket)
    // broadcast bases + within-bucket row_number — the rocAuc posture),
    // NOT a per-lang window: per-doc-unique values would funnel each
    // language through one task, and a handful of languages IS the corpus
    // at 100 TB. The oracle ranks with plain windows — correctness twin,
    // not scale twin.
    QueryDef(
      "e12_rank_correlation",
      """WITH f AS (SELECT lang, doc_id, n_chars AS x,
        |    CAST(len(list_distinct(list_filter(string_split(text, ' '),
        |      w -> len(w) > 0))) AS BIGINT) AS y
        |  FROM documents),
        |r AS (SELECT lang,
        |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY x, doc_id) AS rx,
        |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY y, doc_id) AS ry
        |  FROM f),
        |a AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(CAST(rx - ry AS DECIMAL(19,0))
        |      * CAST(rx - ry AS DECIMAL(19,0))) AS sd2
        |  FROM r GROUP BY lang)
        |SELECT lang, n, CAST(sd2 AS DOUBLE) AS sum_d2,
        |  CASE WHEN n >= 2 THEN
        |    CAST(1 AS DOUBLE) - CAST(6 AS DOUBLE) * CAST(sd2 AS DOUBLE)
        |      / (CAST(n AS DOUBLE)
        |        * (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) - CAST(1 AS DOUBLE)))
        |  END AS rho
        |FROM a ORDER BY lang""".stripMargin) { (s, d) =>
      graft.operators.Quality.spearmanByGroup(
          Tables.documents(s, d).select(col("lang"), col("doc_id"),
            col("n_chars").as("x"),
            size(array_distinct(filter(split(col("text"), " "),
              w => length(w) > 0))).cast("long").as("y")),
          "lang", "x", "y", "doc_id")
        .orderBy(col("lang"))
    },

    // Exact AVERAGE PRECISION per language for the t22 classifier
    // (Quality.averagePrecisionByGroup) — the PR-curve summary beside
    // e7's ROC-AUC, head-weighted like a serving cutoff: over positives
    // ranked (score desc, id), AP = mean ⌊10⁶·cum_pos/k⌋, every term one
    // positive floor division of exact integers. Ranks and positive
    // prefixes ride the two-level (group, score-bucket) bases (the
    // rocAuc/spearman posture — no per-language window); the oracle
    // replays the classifier CTEs and plain-window ranks.
    QueryDef(
      "e13_average_precision",
      s"""WITH RECURSIVE $pow2Cte,
         |$classifierScoredCtes,
         |r AS (SELECT lang, is_p,
         |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY s DESC, doc_id) AS k,
         |    CAST(SUM(CASE WHEN is_p THEN 1 ELSE 0 END) OVER (PARTITION BY lang
         |      ORDER BY s DESC, doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cp
         |  FROM scored),
         |a AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(CASE WHEN is_p THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
         |    SUM(CASE WHEN is_p THEN (1000000 * cp) // k END) AS ap_sum
         |  FROM r GROUP BY lang)
         |SELECT lang, n, n_pos,
         |  CASE WHEN n_pos > 0 THEN CAST(ap_sum // n_pos AS BIGINT) END AS ap_fp
         |FROM a ORDER BY lang""".stripMargin) { (s, d) =>
      graft.operators.Quality.averagePrecisionByGroup(scoredWithLang(s, d),
          "lang", "actual", "score_fp", "did")
        .orderBy(col("lang"))
    },

    // Wilson-lower-bound ranking of e11's problems (Quality.wilsonLower —
    // the "sort by confident rating" statistic): a 2/2 pass rate must
    // rank below a 90/100, which the raw ratio gets wrong. Same (problem,
    // n, c) sufficient statistic as e11; the bound is a fixed IEEE
    // expression over exact integers, spelled identically in the oracle
    // (every literal CAST to DOUBLE — DuckDB types bare decimals as
    // DECIMAL), so the doubles AND the ranking hash-check bitwise.
    QueryDef(
      "e14_wilson_lower",
      s"""WITH s AS (SELECT doc_id % 25 AS problem,
         |    (${sqlHash("text", 12)} % 3 = 0) AS ok FROM documents),
         |a AS (SELECT problem, CAST(COUNT(*) AS BIGINT) AS n_samples,
         |    CAST(SUM(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
         |  FROM s GROUP BY 1),
         |w AS (SELECT problem, n_samples, n_correct,
         |    CAST(n_correct AS DOUBLE) / CAST(n_samples AS DOUBLE) AS p,
         |    CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE) AS z2,
         |    CAST(n_samples AS DOUBLE) AS nd
         |  FROM a)
         |SELECT problem, n_samples, n_correct,
         |  CASE WHEN n_samples > 0 THEN
         |    (p + z2 / (nd * CAST(2 AS DOUBLE)) -
         |      CAST(1.96 AS DOUBLE) * sqrt((p * (CAST(1 AS DOUBLE) - p)
         |        + z2 / (nd * CAST(4 AS DOUBLE))) / nd)) /
         |      (CAST(1 AS DOUBLE) + z2 / nd)
         |  END AS wilson_lb
         |FROM w ORDER BY wilson_lb DESC, problem""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select((col("doc_id") % 25).as("problem"),
          (graft.operators.Dedup.hash48(col("text")) % 3 === 0).as("ok"))
        .groupBy(col("problem"))
        .agg(count(lit(1)).as("n_samples"),
          sum(when(col("ok"), 1L).otherwise(0L)).as("n_correct"))
        .select(col("problem"), col("n_samples"), col("n_correct"),
          graft.operators.Quality.wilsonLower(col("n_samples"),
            col("n_correct")).as("wilson_lb"))
        .orderBy(col("wilson_lb").desc, col("problem"))
    },

    QueryDef(
      "s4_kmeans_refine",
      s"""WITH $quantVecCte,
         |c0 AS (SELECT sid AS cid, qv AS cv FROM v ORDER BY sid LIMIT 8),
         |a1 AS (SELECT sid, qv, cid FROM (
         |  SELECT v.sid, v.qv, c.cid,
         |    ROW_NUMBER() OVER (PARTITION BY v.sid
         |      ORDER BY ${sqlCosine("v.qv", "c.cv")} DESC, c.cid) AS rn
         |  FROM v CROSS JOIN c0 c) WHERE rn = 1),
         |c1 AS (SELECT cid, list(sx ORDER BY pos) AS cv FROM (
         |  SELECT cid, pos, SUM(qv[pos]) AS sx
         |  FROM a1, unnest(generate_series(1, 64)) AS t(pos)
         |  GROUP BY cid, pos) GROUP BY cid)
         |SELECT sid, cid, cosine FROM (
         |  SELECT v.sid, c.cid, ${sqlCosine("v.qv", "c.cv")} AS cosine,
         |    ROW_NUMBER() OVER (PARTITION BY v.sid
         |      ORDER BY ${sqlCosine("v.qv", "c.cv")} DESC, c.cid) AS rn
         |  FROM v CROSS JOIN c1 c) WHERE rn = 1
         |ORDER BY sid""".stripMargin) { (s, d) =>
      Similarity.kmeansAssign(Tables.embeddings(s, d), "vec_id", "embedding",
        nCells = 8, rounds = 2)
        .orderBy(col("sid"))
    },

    // IVF search with an EXTERNAL query set: index vectors >= 8, query with
    // vectors < 8 — the production shape (new vectors query a built index;
    // no self-exclusion needed).
    QueryDef(
      "s6_ivf_search",
      s"""WITH $quantVecCte,
         |cset AS (SELECT sid, qv FROM v WHERE sid >= 8),
         |qset AS (SELECT sid, qv FROM v WHERE sid < 8),
         |cent AS (SELECT sid AS cid, qv AS cv FROM cset ORDER BY sid LIMIT 8),
         |members AS (SELECT cid, nid, nqv FROM (
         |  SELECT c.cid, s.sid AS nid, s.qv AS nqv,
         |    ROW_NUMBER() OVER (PARTITION BY s.sid
         |      ORDER BY ${sqlCosine("s.qv", "c.cv")} DESC, c.cid) AS crank
         |  FROM cset s CROSS JOIN cent c) WHERE crank = 1),
         |probes AS (SELECT cid, qid, qqv FROM (
         |  SELECT c.cid, s.sid AS qid, s.qv AS qqv,
         |    ROW_NUMBER() OVER (PARTITION BY s.sid
         |      ORDER BY ${sqlCosine("s.qv", "c.cv")} DESC, c.cid) AS crank
         |  FROM qset s CROSS JOIN cent c) WHERE crank <= 3),
         |sc AS (SELECT qid, nid, ${sqlCosine("qqv", "nqv")} AS cosine
         |  FROM probes JOIN members USING (cid))
         |SELECT qid, nid, cosine, rank FROM (
         |  SELECT qid, nid, cosine,
         |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rank
         |  FROM sc)
         |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      Similarity.ivfSearch(
        emb.filter(col("vec_id") < 8), emb.filter(col("vec_id") >= 8),
        "vec_id", "embedding", nCells = 8, updates = 0, nProbe = 3, k = 5)
        .orderBy(col("qid"), col("rank"))
    },

    // Trained-IVF ANN: one Lloyd update refines the seed centroids, then the
    // s3 probe path runs against them — train -> index -> query, fully
    // hash-checked (the c1 centroid CTE is s4's, the probe CTEs are s3's,
    // with centroid cosine against integer SUM vectors).
    QueryDef(
      "s5_knn_ivf_trained",
      s"""WITH $quantVecCte,
         |c0 AS (SELECT sid AS cid, qv AS cv FROM v ORDER BY sid LIMIT 8),
         |a1 AS (SELECT sid, qv, cid FROM (
         |  SELECT v.sid, v.qv, c.cid,
         |    ROW_NUMBER() OVER (PARTITION BY v.sid
         |      ORDER BY ${sqlCosine("v.qv", "c.cv")} DESC, c.cid) AS rn
         |  FROM v CROSS JOIN c0 c) WHERE rn = 1),
         |c1 AS (SELECT cid, list(sx ORDER BY pos) AS cv FROM (
         |  SELECT cid, pos, SUM(qv[pos]) AS sx
         |  FROM a1, unnest(generate_series(1, 64)) AS t(pos)
         |  GROUP BY cid, pos) GROUP BY cid),
         |ranked AS (SELECT sid, qv, cid, ccos,
         |    ROW_NUMBER() OVER (PARTITION BY sid ORDER BY ccos DESC, cid) AS crank
         |  FROM (SELECT v.sid, v.qv, c.cid, ${sqlCosine("v.qv", "c.cv")} AS ccos
         |        FROM v CROSS JOIN c1 c)),
         |members AS (SELECT cid, sid AS nid, qv AS nqv FROM ranked WHERE crank = 1),
         |probes AS (SELECT cid, sid AS qid, qv AS qqv FROM ranked WHERE crank <= 2),
         |sc AS (SELECT qid, nid, ${sqlCosine("qqv", "nqv")} AS cosine
         |  FROM probes JOIN members USING (cid) WHERE qid <> nid)
         |SELECT qid, nid, cosine, rank FROM (
         |  SELECT qid, nid, cosine,
         |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rank
         |  FROM sc)
         |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin) { (s, d) =>
      Similarity.ivfTopKTrained(Tables.embeddings(s, d), "vec_id", "embedding",
        nCells = 8, updates = 1, nProbe = 2, k = 5)
        .orderBy(col("qid"), col("rank"))
    },

    // Heavy-hitter terms via the Misra-Gries Aggregator + exact recount.
    // Oracle is the plain exact top-10: with k=64 >= vocabulary size the
    // sketch is lossless, so the two-pass result equals the exact answer
    // (the MG guarantee makes the candidate set a superset of true heavy
    // hitters; the recount fixes the frequencies).
    QueryDef(
      "hh1_top_terms",
      """SELECT term, COUNT(*) AS freq
        |FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
        |GROUP BY term ORDER BY freq DESC, term LIMIT 10""".stripMargin) { (s, d) =>
      graft.operators.HeavyHitters.topTerms(
        Tables.documents(s, d), "text", k = 64, topN = 10)
    },

    // Per-language heavy hitters (HeavyHitters.topTermsByGroup): one MG
    // sketch per group + exact candidate recount. k = 64 >= the 31-term
    // per-language vocabulary, so the sketch is lossless and the oracle is
    // the exact per-group top-5.
    QueryDef(
      "hh2_top_terms_by_lang",
      """WITH tf AS (SELECT lang, term, COUNT(*) AS freq
        |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS term
        |        FROM documents)
        |  GROUP BY lang, term)
        |SELECT lang, term, freq, rank FROM (
        |  SELECT lang, term, freq,
        |    ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY freq DESC, term) AS rank
        |  FROM tf) WHERE rank <= 5 ORDER BY lang, rank""".stripMargin) { (s, d) =>
      graft.operators.HeavyHitters.topTermsByGroup(
          Tables.documents(s, d), "lang", "text", k = 64, topN = 5)
        .orderBy(col("lang"), col("rank"))
    },

    // Windowed heavy hitters — the batch form of a streaming heavy-hitter
    // monitor (one Misra-Gries sketch per tumbling
    // window + exact candidate recount). k = 16 >= the event_type
    // cardinality, so the sketch is lossless and the oracle is the exact
    // per-window top-3 — and because it never filled, the sketch's
    // occupancy equals the window's exact distinct count, so the
    // saturation columns (n_candidates, lossless) are oracle-replayable
    // as COUNT(DISTINCT value) per window. EventStreamsSpec asserts the
    // live streaming query reaches identical per-window candidate sets.
    QueryDef(
      "hh3_windowed_top_values",
      """WITH rows0 AS (SELECT
        |    make_timestamp((epoch_us(ts) // 3600000000) * 3600000000)
        |      AS window_start,
        |    event_type AS value
        |  FROM events),
        |tf AS (SELECT window_start, value, COUNT(*) AS freq
        |  FROM rows0 GROUP BY 1, 2),
        |nc AS (SELECT window_start,
        |    CAST(COUNT(*) AS BIGINT) AS n_candidates
        |  FROM tf GROUP BY 1)
        |SELECT r.window_start, value, freq, rank,
        |  n_candidates, n_candidates < 16 AS lossless
        |FROM (
        |  SELECT window_start, value, freq,
        |    ROW_NUMBER() OVER (PARTITION BY window_start
        |      ORDER BY freq DESC, value) AS rank
        |  FROM tf) r JOIN nc ON r.window_start = nc.window_start
        |WHERE rank <= 3
        |ORDER BY r.window_start, rank""".stripMargin) { (s, d) =>
      graft.operators.HeavyHitters.topValuesByWindow(
          Tables.events(s, d), "ts", "event_type", "1 hour", k = 16, topN = 3)
        .orderBy(col("window_start"), col("rank"))
    },

    // TRENDING terms (HeavyHitters.trendingTerms — the "top movers"
    // monitor beside hh1's static top terms): terms whose share GREW most
    // between two corpus snapshots (doc_id halves here; ingest batches in
    // production), ranked by the EXACT cross-multiplied growth
    // c2·N1 − c1·N2 (share delta times N1·N2 — no float ratios, no
    // divide-by-zero on new terms). Products ride DECIMAL(38,0); two
    // map-side count aggregates + a 2-long broadcast, top-25 via
    // TakeOrderedAndProject.
    QueryDef(
      "hh4_trending_terms",
      """WITH toks AS (SELECT doc_id % 2 AS half, unnest(string_split(text, ' ')) AS tok
        |    FROM documents),
        |c AS (SELECT tok,
        |    CAST(SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |    CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c2
        |  FROM toks WHERE len(tok) > 0 GROUP BY 1),
        |n AS (SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2
        |  FROM c)
        |SELECT tok, c1, c2,
        |  CAST(CAST(c2 AS HUGEINT) * n1 - CAST(c1 AS HUGEINT) * n2 AS BIGINT)
        |    AS growth_x
        |FROM c, n
        |ORDER BY growth_x DESC, tok LIMIT 25""".stripMargin) { (s, d) =>
      graft.operators.HeavyHitters.trendingTerms(
        Tables.documents(s, d).filter(col("doc_id") % 2 === 0),
        Tables.documents(s, d).filter(col("doc_id") % 2 === 1),
        "text", k = 25)
    },

    // == multimodal ==

    // Real container bytes (PNG/BMP/GIF headers built by encodeMedia) parsed
    // back by a real byte-level header parser; the oracle mirrors the
    // generator's arithmetic, so a parser bug (wrong offset, wrong
    // endianness) hash-mismatches.
    QueryDef(
      "m1_media_meta",
      """SELECT doc_id AS id,
        |  CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'bmp' ELSE 'gif' END AS format,
        |  n + CASE doc_id % 3 WHEN 0 THEN 33 WHEN 1 THEN 54 ELSE 13 END AS n_bytes,
        |  64 + (n * 7919) % 509 AS width,
        |  64 + (n * 104729) % 509 AS height
        |FROM (SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n
        |      FROM documents) ORDER BY id""".stripMargin) { (s, d) =>
      Multimodal.decodeMeta(s,
        Multimodal.attachMedia(s, Tables.documents(s, d), "doc_id", "text"))
        .toDF().orderBy(col("id"))
    },

    // Frame features sampled from the payload region of the media bytes:
    // one (id, pos, feature) row per sampled position. The oracle samples
    // the raw text bytes directly — equality proves the engine's header/
    // payload split and binary slicing are byte-accurate.
    QueryDef(
      "m2_frame_features",
      """SELECT doc_id AS id, i AS pos,
        |  substr(hx, CAST((i - 1) * 2 + 1 AS INT), 2) AS feature
        |FROM (SELECT doc_id, hex(encode(text)) AS hx,
        |        greatest(CAST(octet_length(encode(text)) AS BIGINT), 1) AS np
        |      FROM documents),
        |  unnest(generate_series(1, np, 50)) AS t(i)
        |ORDER BY id, pos""".stripMargin) { (s, d) =>
      Multimodal.frameFeatures(
        Multimodal.attachMedia(s, Tables.documents(s, d), "doc_id", "text"), 50)
        .orderBy(col("id"), col("pos"))
    },

    // Audio modality: canonical PCM WAV headers wrapped around the payload,
    // sample rate / channels / duration recovered by PARSING THE BYTES; the
    // oracle recomputes them from the generator's arithmetic, so an offset
    // or endianness bug hash-mismatches. Duration is exact integer micros.
    QueryDef(
      "m3_audio_meta",
      """SELECT doc_id AS id,
        |  CAST(8000 + (n * 31) % 40000 AS BIGINT) AS sample_rate,
        |  CAST(1 + n % 2 AS BIGINT) AS channels,
        |  n AS data_bytes,
        |  CAST((n * 1000000) //
        |    ((8000 + (n * 31) % 40000) * (1 + n % 2) * 2) AS BIGINT) AS duration_us
        |FROM (SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n
        |      FROM documents) ORDER BY id""".stripMargin) { (s, d) =>
      Multimodal.decodeAudioMeta(s,
        Multimodal.attachAudio(s, Tables.documents(s, d), "doc_id", "text"))
        .toDF().orderBy(col("id"))
    },

    // Video modality: canonical AVI (RIFF) MainAVIHeaders parsed byte-level;
    // the oracle mirrors the generator arithmetic INCLUDING the
    // fps -> usPerFrame -> fps integer round trip, so the parse must read
    // the actual stored field, not re-derive the input.
    QueryDef(
      "m4_video_meta",
      """SELECT doc_id AS id,
        |  1000000 // (1000000 // fps0) AS fps,
        |  frames AS n_frames,
        |  CAST(frames * (1000000 // fps0) AS BIGINT) AS duration_us
        |FROM (SELECT doc_id, 10 + n % 50 AS fps0, 100 + n % 900 AS frames
        |      FROM (SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n
        |            FROM documents)) ORDER BY id""".stripMargin) { (s, d) =>
      Multimodal.decodeVideoMeta(s,
        Multimodal.attachVideo(s, Tables.documents(s, d), "doc_id", "text"))
        .toDF().orderBy(col("id"))
    },

    // JPEG header walk (Multimodal.parseJpeg — VERDICT r18 ask #4: the
    // dominant web image format, and its dimensions need NO codec): real
    // marker streams (SOI, JFIF APP0, optional EXIF APP1, SOF0/SOF2, SOS,
    // EOI) built by jpegBytes, parsed back by walking marker lengths to
    // the SOF frame header (BE uint16 dims), with the EXIF orientation
    // read out of APP1's IFD0 (tag 0x0112). Thirds of the fixture carry
    // no EXIF at all (orientation NULL — the look-alike class a naive
    // parser mis-handles); odd ids are progressive (SOF2). The oracle
    // mirrors the generator arithmetic, so a wrong offset, endianness, or
    // segment-length walk hash-mismatches.
    QueryDef(
      "m10_jpeg_meta",
      """SELECT doc_id AS id,
        |  64 + (n * 7919) % 509 AS width,
        |  64 + (n * 104729) % 509 AS height,
        |  doc_id % 2 = 1 AS progressive,
        |  CASE WHEN doc_id % 3 = 0 THEN NULL
        |       ELSE CAST(n % 8 + 1 AS BIGINT) END AS orientation
        |FROM (SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n
        |      FROM documents) ORDER BY id""".stripMargin) { (s, d) =>
      Multimodal.decodeJpegMeta(s,
        Multimodal.attachJpeg(s, Tables.documents(s, d), "doc_id", "text"))
        .toDF().orderBy(col("id"))
    },

    // MP4 / ISO BMFF box walk (Multimodal.parseMp4 — VERDICT r18 ask #6:
    // the dominant web video container): ftyp/moov/mdat trees built by
    // mp4Bytes with a version-0 mvhd and 1-3 empty trak boxes, parsed back
    // by walking box sizes (BE uint32) to mvhd's timescale/duration and
    // counting traks. Duration is exact integer micros
    // (units * 1e6 // timescale). Truncated-box fail-loud is spec'd in
    // MultimodalSpec (the m3/m4 discipline).
    QueryDef(
      "m11_mp4_meta",
      """SELECT doc_id AS id,
        |  CAST(1000 + n % 9000 AS BIGINT) AS timescale,
        |  CAST(1000 + n % 100000 AS BIGINT) AS duration_units,
        |  CAST((1000 + n % 100000) * 1000000 // (1000 + n % 9000) AS BIGINT)
        |    AS duration_us,
        |  CAST(1 + doc_id % 3 AS BIGINT) AS n_traks
        |FROM (SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n
        |      FROM documents) ORDER BY id""".stripMargin) { (s, d) =>
      Multimodal.decodeMp4Meta(s,
        Multimodal.attachMp4(s, Tables.documents(s, d), "doc_id", "text"))
        .toDF().orderBy(col("id"))
    },

    // WebP RIFF chunk walk (Multimodal.parseWebp — round 19: the dominant
    // MODERN web image format, closing the image-header family alongside
    // m1/m10): real containers built by webpBytes rotating the three spec
    // layouts — lossy "VP8 " (LE14 dims behind the 9D012A start code),
    // lossless "VP8L" (packed LE32 bitfield, alpha bit 28), and extended
    // "VP8X" + inner lossy chunk (LE24 canvas, alpha flag 0x10) — with
    // odd-sized payloads forcing the RIFF even-alignment pad the walk must
    // skip. The oracle mirrors the generator arithmetic, so a wrong bit
    // offset, endianness, variant dispatch, or pad-byte drift
    // hash-mismatches.
    QueryDef(
      "m12_webp_meta",
      """SELECT doc_id AS id,
        |  64 + (n * 7919) % 509 AS width,
        |  64 + (n * 104729) % 509 AS height,
        |  CASE WHEN doc_id % 3 = 1 THEN 'lossless' ELSE 'lossy' END AS codec,
        |  doc_id % 3 = 2 AS extended,
        |  doc_id % 3 <> 0 AND doc_id % 2 = 1 AS has_alpha
        |FROM (SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n
        |      FROM documents) ORDER BY id""".stripMargin) { (s, d) =>
      Multimodal.decodeWebpMeta(s,
        Multimodal.attachWebp(s, Tables.documents(s, d), "doc_id", "text"))
        .toDF().orderBy(col("id"))
    },

    // PDF object walk (Multimodal.parsePdf — round 19: the dominant
    // DOCUMENT source; version / page count / page geometry decide
    // extraction routing BEFORE any codec work): real classic-xref PDFs
    // built by pdfBytes (catalog -> /Pages with /Count + /Kids -> /Page
    // objects sharing a /MediaBox, content stream, trailer, %%EOF), parsed
    // back by an ASCII token walk that cross-checks /Count against the
    // counted /Type /Page objects (fail-loud on disagreement — the mp4
    // trak discipline). The oracle mirrors the generator arithmetic.
    QueryDef(
      "m13_pdf_meta",
      """SELECT doc_id AS id,
        |  '1.' || CAST(4 + doc_id % 4 AS VARCHAR) AS version,
        |  CAST(1 + n % 5 AS BIGINT) AS n_pages,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 612 ELSE 595 END AS BIGINT) AS box_w,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 792 ELSE 842 END AS BIGINT) AS box_h
        |FROM (SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n
        |      FROM documents) ORDER BY id""".stripMargin) { (s, d) =>
      Multimodal.decodePdfMeta(s,
        Multimodal.attachPdf(s, Tables.documents(s, d), "doc_id", "text"))
        .toDF().orderBy(col("id"))
    },

    // TIFF IFD walk (Multimodal.parseTiff — round 19: the scanned-document
    // format; m10's EXIF IFD machinery standalone, BOTH byte orders
    // first-class): real headers built by tiffBytes (II or MM by id
    // parity, ImageWidth/ImageLength as LONGs, Orientation as a SHORT
    // whose value sits in the first two value bytes — the offset a
    // wrong-order parse corrupts), walked back tag by tag. The oracle
    // mirrors the generator arithmetic.
    QueryDef(
      "m14_tiff_meta",
      """SELECT doc_id AS id,
        |  64 + (n * 7919) % 509 AS width,
        |  64 + (n * 104729) % 509 AS height,
        |  CAST((doc_id + n) % 8 + 1 AS BIGINT) AS orientation,
        |  doc_id % 2 = 1 AS big_endian
        |FROM (SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n
        |      FROM documents) ORDER BY id""".stripMargin) { (s, d) =>
      Multimodal.decodeTiffMeta(s,
        Multimodal.attachTiff(s, Tables.documents(s, d), "doc_id", "text"))
        .toDF().orderBy(col("id"))
    },

    // Image perceptual near-dup: deterministic 32x32 BMPs (pixel arithmetic
    // mirrored below) -> REAL resize to 8x8 (Multimodal.resizeBmp) -> 56-bit
    // dHash -> the d7 hamming-banding machinery (Dedup.hammingBandPairs,
    // 4 x 14-bit chunks). The oracle replays the nearest-neighbor sampling
    // (sx = 4*rx, sy = 4*ry), channel-sum grayscale, gradient bits, and the
    // banding arms — a resize off-by-one, a channel-order mistake or a band
    //-layout drift all hash-mismatch.
    QueryDef(
      "m5_image_neardup",
      s"""WITH ids AS (SELECT doc_id AS sid, doc_id % 101 AS g, doc_id % 7 AS p
         |  FROM documents),
         |g8 AS (SELECT sid, rx, ry,
         |    (g*53 + ry*4*(97 + 17*(g%11)) + rx*4*(11 + 6*(g%7)) + CASE WHEN rx = 0 THEN p*40 ELSE 0 END) % 256
         |  + (g*53 + ry*4*(97 + 17*(g%11)) + rx*4*(11 + 6*(g%7)) + 7 + CASE WHEN rx = 0 THEN p*40 ELSE 0 END) % 256
         |  + (g*53 + ry*4*(97 + 17*(g%11)) + rx*4*(11 + 6*(g%7)) + 14 + CASE WHEN rx = 0 THEN p*40 ELSE 0 END) % 256
         |    AS gv
         |  FROM ids, unnest(generate_series(0, 7)) t1(rx),
         |       unnest(generate_series(0, 7)) t2(ry)),
         |dh AS (SELECT a.sid,
         |    CAST(SUM(CASE WHEN b.gv > a.gv
         |      THEN CAST(1 AS BIGINT) << (a.ry*7 + a.rx) ELSE 0 END) AS BIGINT) AS dhash
         |  FROM g8 a JOIN g8 b ON a.sid = b.sid AND a.ry = b.ry AND b.rx = a.rx + 1
         |  GROUP BY a.sid),
         |chunks AS (
         |${(0 until 4).map(c =>
             s"  SELECT sid, dhash, $c AS chunk, (dhash >> ${14 * c}) & 16383 AS ckey FROM dh")
             .mkString("\n  UNION ALL\n")}
         |)
         |SELECT * FROM (
         |  SELECT DISTINCT a.sid AS ida, b.sid AS idb,
         |    bit_count(xor(a.dhash, b.dhash)) AS hamming
         |  FROM chunks a JOIN chunks b
         |    ON a.chunk = b.chunk AND a.ckey = b.ckey AND a.sid < b.sid
         |) WHERE hamming <= 6 ORDER BY ida, idb""".stripMargin) { (s, d) =>
      val sig = Multimodal.imageDHash(s,
        Multimodal.attachImageFixture(s, Tables.documents(s, d), "doc_id"))
      Dedup.hammingBandPairs(sig, "dhash", totalBits = 56, maxHamming = 6,
          numChunks = 4)
        .orderBy(col("ida"), col("idb"))
    },

    // INCREMENTAL media near-dup (Dedup.incrementalHammingPairs): the m5
    // dHash corpus persisted as a (chunk, ckey)-bucketed index, a batch
    // (doc_id % 4 == 0) deduped against it + within itself — the d12
    // incremental contract for perceptual hashes: the oracle is the FULL
    // m5 pair set restricted to batch-touching pairs, so a hash match
    // proves the persisted-index path finds exactly the from-scratch
    // pairs at batch-sized cost.
    QueryDef(
      "m8_image_incremental",
      s"""WITH ids AS (SELECT doc_id AS sid, doc_id % 101 AS g, doc_id % 7 AS p
         |  FROM documents),
         |g8 AS (SELECT sid, rx, ry,
         |    (g*53 + ry*4*(97 + 17*(g%11)) + rx*4*(11 + 6*(g%7)) + CASE WHEN rx = 0 THEN p*40 ELSE 0 END) % 256
         |  + (g*53 + ry*4*(97 + 17*(g%11)) + rx*4*(11 + 6*(g%7)) + 7 + CASE WHEN rx = 0 THEN p*40 ELSE 0 END) % 256
         |  + (g*53 + ry*4*(97 + 17*(g%11)) + rx*4*(11 + 6*(g%7)) + 14 + CASE WHEN rx = 0 THEN p*40 ELSE 0 END) % 256
         |    AS gv
         |  FROM ids, unnest(generate_series(0, 7)) t1(rx),
         |       unnest(generate_series(0, 7)) t2(ry)),
         |dh AS (SELECT a.sid,
         |    CAST(SUM(CASE WHEN b.gv > a.gv
         |      THEN CAST(1 AS BIGINT) << (a.ry*7 + a.rx) ELSE 0 END) AS BIGINT) AS dhash
         |  FROM g8 a JOIN g8 b ON a.sid = b.sid AND a.ry = b.ry AND b.rx = a.rx + 1
         |  GROUP BY a.sid),
         |chunks AS (
         |${(0 until 4).map(c =>
             s"  SELECT sid, dhash, $c AS chunk, (dhash >> ${14 * c}) & 16383 AS ckey FROM dh")
             .mkString("\n  UNION ALL\n")}
         |)
         |SELECT * FROM (
         |  SELECT DISTINCT a.sid AS ida, b.sid AS idb,
         |    bit_count(xor(a.dhash, b.dhash)) AS hamming
         |  FROM chunks a JOIN chunks b
         |    ON a.chunk = b.chunk AND a.ckey = b.ckey AND a.sid < b.sid
         |) WHERE hamming <= 6 AND (ida % 4 = 0 OR idb % 4 = 0)
         |ORDER BY ida, idb""".stripMargin) { (s, d) =>
      val sig = Multimodal.imageDHash(s,
        Multimodal.attachImageFixture(s, Tables.documents(s, d), "doc_id"))
      val app = s.sparkContext.applicationId.replaceAll("[^a-zA-Z0-9]", "_")
      val table = "graft_hamming_m8_" + app
      graft.sources.Bucketing.ensureCleanTable(s, table)
      Dedup.writeHammingIndex(sig.filter(col("sid") % 4 =!= 0), "dhash",
        totalBits = 56, numChunks = 4, table, nBuckets = 8)
      Dedup.incrementalHammingPairs(sig.filter(col("sid") % 4 === 0),
          s.table(table), "dhash", totalBits = 56, maxHamming = 6,
          numChunks = 4)
        .orderBy(col("ida"), col("idb"))
    },

    // Audio perceptual near-dup: 48-bit energy-delta hash (the audio
    // analogue of m5's dHash — parse REAL WAV bytes, frame the samples,
    // sum |amplitude| per frame, bit f = energy rising) + the shared
    // hamming chunk banding. The fixture perturbs ONE frame per group
    // member, so group-mates differ by <= 1 bit; the oracle replays the
    // closed-form frame amplitudes (energy = 40 x amplitude, so the
    // comparison order is identical) — a parser bug (endianness, header
    // offset, frame split) hash-mismatches.
    QueryDef(
      "m6_audio_neardup",
      s"""WITH ids AS (SELECT doc_id AS sid, doc_id % 101 AS g, doc_id % 7 AS p
         |  FROM documents),
         |amps AS (SELECT sid, f,
         |    (g*53 + f*(11 + 6*(g%7)) + CASE WHEN f = 0 THEN p*40 ELSE 0 END) % 256 AS a
         |  FROM ids, unnest(generate_series(0, 48)) t(f)),
         |ah AS (SELECT a1.sid,
         |    CAST(SUM(CASE WHEN b.a > a1.a
         |      THEN CAST(1 AS BIGINT) << a1.f ELSE 0 END) AS BIGINT) AS ahash
         |  FROM amps a1 JOIN amps b ON a1.sid = b.sid AND b.f = a1.f + 1
         |  GROUP BY a1.sid),
         |chunks AS (
         |${(0 until 4).map(c =>
             s"  SELECT sid, ahash, $c AS chunk, (ahash >> ${12 * c}) & 4095 AS ckey FROM ah")
             .mkString("\n  UNION ALL\n")}
         |)
         |SELECT * FROM (
         |  SELECT DISTINCT a.sid AS ida, b.sid AS idb,
         |    bit_count(xor(a.ahash, b.ahash)) AS hamming
         |  FROM chunks a JOIN chunks b
         |    ON a.chunk = b.chunk AND a.ckey = b.ckey AND a.sid < b.sid
         |) WHERE hamming <= 6 ORDER BY ida, idb""".stripMargin) { (s, d) =>
      val sig = Multimodal.audioHash(s,
        Multimodal.attachAudioFixture(s, Tables.documents(s, d), "doc_id"))
      Dedup.hammingBandPairs(sig, "ahash", totalBits = 48, maxHamming = 6,
          numChunks = 4)
        .orderBy(col("ida"), col("idb"))
    },

    // Video perceptual near-dup — the modality set's last member: m5's
    // spatial dHash composed with m6's delta trick along the TIME axis.
    // Deterministic 49-frame AVIs (8 bytes/frame, pixel arithmetic mirrored
    // below) -> real AVI header parse (dwTotalFrames drives the frame
    // split) -> per-frame 7-bit spatial gradient hash v(f) -> 48-bit
    // temporal hash (bit f = v rising) -> the shared hamming chunk banding.
    // The oracle replays pixels, spatial bits, temporal bits and banding —
    // a header-parse bug, frame-split off-by-one or gradient-order mistake
    // all hash-mismatch. Fixture perturbation touches one pixel of frame 0,
    // so group-mates differ by <= 1 temporal bit.
    QueryDef(
      "m7_video_neardup",
      s"""WITH ids AS (SELECT doc_id AS sid, doc_id % 101 AS g, doc_id % 7 AS p
         |  FROM documents),
         |pix AS (SELECT sid, f, x,
         |    (g*53 + f*(11 + 6*(g%7)) + x*(97 + 17*(g%11))
         |     + CASE WHEN f = 0 AND x = 0 THEN p*40 ELSE 0 END) % 256 AS b
         |  FROM ids, unnest(generate_series(0, 48)) t1(f),
         |       unnest(generate_series(0, 7)) t2(x)),
         |sp AS (SELECT a.sid, a.f,
         |    CAST(SUM(CASE WHEN b2.b > a.b
         |      THEN CAST(1 AS BIGINT) << a.x ELSE 0 END) AS BIGINT) AS v
         |  FROM pix a JOIN pix b2 ON a.sid = b2.sid AND a.f = b2.f AND b2.x = a.x + 1
         |  GROUP BY a.sid, a.f),
         |vh AS (SELECT a.sid,
         |    CAST(SUM(CASE WHEN b2.v > a.v
         |      THEN CAST(1 AS BIGINT) << a.f ELSE 0 END) AS BIGINT) AS vhash
         |  FROM sp a JOIN sp b2 ON a.sid = b2.sid AND b2.f = a.f + 1
         |  GROUP BY a.sid),
         |chunks AS (
         |${(0 until 4).map(c =>
             s"  SELECT sid, vhash, $c AS chunk, (vhash >> ${12 * c}) & 4095 AS ckey FROM vh")
             .mkString("\n  UNION ALL\n")}
         |)
         |SELECT * FROM (
         |  SELECT DISTINCT a.sid AS ida, b.sid AS idb,
         |    bit_count(xor(a.vhash, b.vhash)) AS hamming
         |  FROM chunks a JOIN chunks b
         |    ON a.chunk = b.chunk AND a.ckey = b.ckey AND a.sid < b.sid
         |) WHERE hamming <= 6 ORDER BY ida, idb""".stripMargin) { (s, d) =>
      val sig = Multimodal.videoHash(s,
        Multimodal.attachVideoFixture(s, Tables.documents(s, d), "doc_id"))
      Dedup.hammingBandPairs(sig, "vhash", totalBits = 48, maxHamming = 6,
          numChunks = 4)
        .orderBy(col("ida"), col("idb"))
    },

    // PAIRED cross-modal cosine gate (Similarity.pairedCosineFilter — the
    // LAION/CLIP-filter, Schuhmann et al. 2021): even vectors play the
    // image embedding, odd vectors the caption embedding of the same pair
    // id; keep iff cosine >= 0.28 (LAION's CLIP B/32 ship threshold). One
    // pair-id equi-join + the house integer-dot cosine — no pairwise
    // fan-out anywhere; 4/250 pairs pass at sf0.01, so both branches of
    // the gate are exercised.
    QueryDef(
      "m9_crossmodal_filter",
      s"""WITH $quantVecCte,
         |iv AS (SELECT sid // 2 AS pid, qv AS lv FROM v WHERE sid % 2 = 0),
         |tv AS (SELECT (sid - 1) // 2 AS pid, qv AS rv FROM v WHERE sid % 2 = 1),
         |p AS (SELECT pid, ${sqlCosine("lv", "rv")} AS cosine
         |  FROM iv JOIN tv USING (pid))
         |SELECT pid AS sid, cosine,
         |  coalesce(cosine >= 0.28, false) AS keep
         |FROM p ORDER BY sid""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      Similarity.pairedCosineFilter(
          emb.filter(col("vec_id") % 2 === 0)
            .select(expr("CAST(vec_id DIV 2 AS BIGINT)").as("vec_id"),
              col("embedding")),
          emb.filter(col("vec_id") % 2 === 1)
            .select(expr("CAST((vec_id - 1) DIV 2 AS BIGINT)").as("vec_id"),
              col("embedding")),
          "vec_id", "embedding", minCosine = 0.28)
        .orderBy(col("sid"))
    },

    // Gopher-style rule filter (TextOps.gopherRules): every rule an exact
    // integer predicate (one deterministic division for mean word length).
    // Thresholds chosen to discriminate on the fixtures: ~25% fail the word
    // floor, the mean-word-length band splits the middle, stop_ct >= 2
    // catches the stopword-free tail.
    QueryDef(
      "t11_gopher_rules",
      """SELECT doc_id, ok_words, ok_mean_wl, ok_stop,
        |  (ok_words AND ok_mean_wl AND ok_stop) AS keep
        |FROM (SELECT doc_id,
        |  nw BETWEEN 30 AND 10000 AS ok_words,
        |  mwl >= 4.0 AND mwl <= 5.0 AS ok_mean_wl,
        |  sc >= 2 AS ok_stop
        |FROM (SELECT doc_id,
        |  len(string_split(text, ' ')) AS nw,
        |  CAST(length(replace(text, ' ', '')) AS DOUBLE) /
        |    greatest(CAST(len(string_split(text, ' ')) AS DOUBLE), 1.0) AS mwl,
        |  len(list_filter(string_split(text, ' '),
        |    w -> w IN (${stopwordList}))) AS sc
        |FROM documents)) ORDER BY doc_id""".stripMargin
        .replace("${stopwordList}", sqlList(TextOps.stopwords))) { (s, d) =>
      val (okW, okM, okS, keep) =
        TextOps.gopherRules(col("text"), 30L, 10000L, 4.0, 5.0, 2L)
      Tables.documents(s, d).select(col("doc_id"),
        okW.as("ok_words"), okM.as("ok_mean_wl"), okS.as("ok_stop"),
        keep.as("keep"))
        .orderBy(col("doc_id"))
    },

    // Per-doc token entropy (TextOps.tokenEntropy): within-doc repetition
    // signal, every ln through the sqlLog2Fp integer twin of
    // graft.plans.LnFp (the sm9 libm-free discipline) — entropy_fp is a
    // pure integer function of the (dl, tf) rationals, so the rounded
    // 6dp value hash-matches bit-for-bit.
    QueryDef(
      "t18_token_entropy",
      s"""WITH RECURSIVE $pow2Cte,
         |w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |tf AS (SELECT doc_id, len(w) AS dl, tok, COUNT(*) AS tf
         |  FROM (SELECT doc_id, w, unnest(w) AS tok FROM w) GROUP BY 1, 2, 3),
         |lin AS (SELECT ROW_NUMBER() OVER (ORDER BY doc_id, tok) AS key,
         |    doc_id, dl, tf, dl AS p, tf AS q FROM tf),
         |${sqlLog2Fp("te", "lin", "key")},
         |m AS (SELECT l.doc_id, l.dl, l.tf, $sqlLnMicroFromL AS micro
         |  FROM teL JOIN lin l USING (key)),
         |agg AS (SELECT doc_id, MAX(dl) AS dl, COUNT(*) AS n_types,
         |    SUM(tf * micro) AS ent_fp FROM m GROUP BY doc_id)
         |SELECT doc_id, CAST(dl AS BIGINT) AS dl,
         |  CAST(n_types AS BIGINT) AS n_types,
         |  round(CAST(ent_fp AS DOUBLE) / (CAST(dl AS DOUBLE) * 1e6), 6) AS entropy
         |FROM agg ORDER BY doc_id""".stripMargin) { (s, d) =>
      TextOps.tokenEntropy(Tables.documents(s, d), "doc_id", "text")
        .select(col("did").as("doc_id"), col("dl"), col("n_types"), col("entropy"))
        .orderBy(col("doc_id"))
    },

    // Blocklist phrase gate (TextOps.blocklistHits): per-doc occurrence
    // counts of 4 banned phrases in ONE Aho-Corasick pass (native
    // graft_aho_corasick expression), overlap-inclusive. The oracle counts
    // every position where substr(text, i, |p|) = p — the exact semantics
    // the automaton implements — so sparse hits hash-check bit-for-bit,
    // including self-overlapping runs regex counting would miss.
    QueryDef(
      "t19_blocklist",
      s"""WITH bl AS (SELECT * FROM (VALUES (0, 'a a'), (1, 'table table'),
         |    (2, 'fast sort'), (3, 'spark')) AS t(pid, pat)),
         |occ AS (SELECT d.doc_id, b.pid, b.pat, COUNT(*) AS n_hits
         |  FROM documents d, bl b,
         |    unnest(generate_series(1, length(d.text) - length(b.pat) + 1)) AS g(i)
         |  WHERE substr(d.text, i, length(b.pat)) = b.pat
         |  GROUP BY 1, 2, 3)
         |SELECT doc_id, CAST(pid AS BIGINT) AS pid, pat AS pattern, n_hits
         |FROM occ ORDER BY doc_id, pid""".stripMargin) { (s, d) =>
      TextOps.blocklistHits(Tables.documents(s, d), "doc_id", "text",
        Seq("a a", "table table", "fast sort", "spark"))
        .select(col("did").as("doc_id"), col("pid"), col("pattern"), col("n_hits"))
        .orderBy(col("doc_id"), col("pid"))
    },

    // Blocklist redaction (TextOps.blocklistRedact): the scrub side of
    // t19 — longest-first alternation replace, verified by md5 of the
    // redacted text (the t8 PII discipline). n_masked counts insertions.
    QueryDef(
      "t20_blocklist_redact",
      s"""SELECT doc_id,
         |  CAST((length(r) - length(replace(r, '[BLOCKED]', ''))) // 9 AS BIGINT)
         |    AS n_masked,
         |  md5(r) AS redacted_md5
         |FROM (SELECT doc_id,
         |  regexp_replace(text, 'table table|fast sort|spark|a a', '[BLOCKED]', 'g') AS r
         |  FROM documents) ORDER BY doc_id""".stripMargin) { (s, d) =>
      val r = TextOps.blocklistRedact(col("text"),
        Seq("a a", "table table", "fast sort", "spark"))
      Tables.documents(s, d).select(col("doc_id"),
        ((length(r) - length(regexp_replace(r, "\\[BLOCKED\\]", ""))) / 9L)
          .cast("long").as("n_masked"),
        md5(r).as("redacted_md5"))
        .orderBy(col("doc_id"))
    },

    // Curation funnel (Quality.curationFunnel): the survivor count of the
    // sequential pre-training filter chain — Gopher rules -> quality >= 0.6
    // -> fingerprint dedup — as ONE row of monotone counts from ONE scan.
    // The oracle recomposes the t11 gate, t2 score, and d2 fingerprint
    // expressions verbatim, so the whole funnel hash-checks.
    QueryDef(
      "fn1_curation_funnel",
      s"""WITH ${sqlFunnelF("f", "documents")}
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_input,
         |  CAST(SUM(CASE WHEN g THEN 1 ELSE 0 END) AS BIGINT) AS n_gopher,
         |  CAST(SUM(CASE WHEN g AND q >= 0.6 THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
         |  CAST(COUNT(DISTINCT CASE WHEN g AND q >= 0.6 THEN fp END) AS BIGINT) AS n_unique
         |FROM f""".stripMargin) { (s, d) =>
      graft.operators.Quality.curationFunnel(
        Tables.documents(s, d), "doc_id", "text", minQuality = 0.6)
    },

    // Vocabulary-growth curve (TextOps.vocabGrowth, Heaps' law measured):
    // the corpus walked in id order as 10 equal-width id ranges, per range
    // the word types first seen there + the cumulative vocabulary — the
    // curve that sizes tokenizer corpora and flags boilerplate-variant
    // growth. Exact integers; the first-holder reduce is the d21 machinery
    // pointed at words; the cumsum window is 10 rows, driver-bounded.
    QueryDef(
      "t21_vocab_growth",
      """WITH b AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM documents),
        |toks AS (SELECT doc_id AS did, tok FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
        |  WHERE len(tok) > 0),
        |wb AS (SELECT did, tok,
        |    least(9, (did - lo) * 10 // (hi - lo + 1)) AS bucket
        |  FROM toks CROSS JOIN b),
        |pb AS (SELECT bucket, COUNT(*) AS n_tokens FROM wb GROUP BY bucket),
        |fs AS (SELECT bucket, COUNT(*) AS n_new_types FROM (
        |    SELECT tok, MIN(bucket) AS bucket FROM wb GROUP BY tok)
        |  GROUP BY bucket)
        |SELECT pb.bucket, n_tokens,
        |  coalesce(n_new_types, 0) AS n_new_types,
        |  CAST(SUM(coalesce(n_new_types, 0)) OVER (ORDER BY pb.bucket
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_types
        |FROM pb LEFT JOIN fs ON pb.bucket = fs.bucket
        |ORDER BY pb.bucket""".stripMargin) { (s, d) =>
      TextOps.vocabGrowth(Tables.documents(s, d), "doc_id", "text", 10)
        .orderBy(col("bucket"))
    },

    // Hashed linear quality classifier (TextOps.hashedQualityClassifier):
    // naive-Bayes log-odds over 256 hashing-trick unigram buckets, weak
    // labels "curated sources" (src0-3) vs the rest — the GPT-3-style
    // curated-vs-crawl filter as one train+serve pass. Every ln is the
    // sqlLog2Fp integer twin of graft.plans.LnFp (the sm9 libm-free
    // discipline): 513 rounded lns in one model would otherwise be 513
    // libm boundary dice. Hashed output is (score integer, booleans).
    QueryDef(
      "t22_quality_classifier",
      s"""WITH RECURSIVE $pow2Cte,
         |docs AS (SELECT doc_id, source IN ('src0','src1','src2','src3') AS is_p
         |  FROM documents),
         |f AS (SELECT doc_id, is_p, ${sqlHash("feat", 12)} % 256 AS b
         |  FROM (SELECT d.doc_id, d.source IN ('src0','src1','src2','src3') AS is_p,
         |          unnest(string_split(d.text, ' ')) AS feat
         |        FROM documents d)
         |  WHERE len(feat) > 0),
         |cdb AS (SELECT doc_id, b, COUNT(*) AS c FROM f GROUP BY 1, 2),
         |bc AS (SELECT b,
         |    CAST(SUM(CASE WHEN is_p THEN 1 ELSE 0 END) AS BIGINT) AS pc,
         |    CAST(SUM(CASE WHEN is_p THEN 0 ELSE 1 END) AS BIGINT) AS nc
         |  FROM f GROUP BY b),
         |tot AS (SELECT SUM(pc) AS pn, SUM(nc) AS nn FROM bc),
         |win AS (SELECT b * 2 AS key, pc + 1 AS p, pn + 256 AS q FROM bc CROSS JOIN tot
         |  UNION ALL SELECT b * 2 + 1, nc + 1, nn + 256 FROM bc CROSS JOIN tot),
         |${sqlLog2Fp("wl", "win", "key")},
         |wm AS (SELECT key, $sqlLnMicroFromL AS micro FROM wlL),
         |wt AS (SELECT p.key // 2 AS b, p.micro - n.micro AS w_fp
         |  FROM wm p JOIN wm n ON n.key = p.key + 1 WHERE p.key % 2 = 0),
         |ll AS (SELECT doc_id, CAST(SUM(c * w_fp) AS BIGINT) AS ll_fp
         |  FROM cdb JOIN wt USING (b) GROUP BY doc_id),
         |dt AS (SELECT 0 AS key,
         |    CAST(SUM(CASE WHEN is_p THEN 1 ELSE 0 END) + 1 AS BIGINT) AS p,
         |    CAST(SUM(CASE WHEN is_p THEN 0 ELSE 1 END) + 1 AS BIGINT) AS q
         |  FROM docs),
         |${sqlLog2Fp("pr", "dt", "key")},
         |prior AS (SELECT $sqlLnMicroFromL AS prior_fp FROM prL)
         |SELECT doc_id, COALESCE(ll_fp, 0) + prior_fp AS score_fp,
         |  is_p AS actual, (COALESCE(ll_fp, 0) + prior_fp) > 0 AS pred
         |FROM docs LEFT JOIN ll USING (doc_id) CROSS JOIN prior
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      TextOps.hashedQualityClassifier(Tables.documents(s, d), "doc_id", "text",
          isPositive = col("source").isin("src0", "src1", "src2", "src3"),
          nBuckets = 256)
        .select(col("did").as("doc_id"), col("score_fp"), col("actual"),
          col("pred"))
        .orderBy(col("doc_id"))
    },

    // Novelty-gated curation funnel (Quality.curationFunnelNovelty): fn1's
    // local gates (one scan) prune FIRST, then the corpus-wide first-holder
    // novelty reduce runs over the SURVIVORS only and docs with novelty
    // >= 0.5 count as n_novel — the funnel economics made explicit (the
    // expensive global stage pays for the pruned set). The oracle
    // recomposes fn1's gate expressions, the keep-first fingerprint window,
    // and the d21 novelty CTEs over the survivor slice.
    QueryDef(
      "fn2_novelty_funnel",
      s"""WITH f AS (SELECT doc_id, text,
         |  (len(string_split(text, ' ')) BETWEEN 30 AND 10000
         |   AND (CAST(length(replace(text, ' ', '')) AS DOUBLE) /
         |        greatest(CAST(len(string_split(text, ' ')) AS DOUBLE), 1.0))
         |       BETWEEN 4.0 AND 5.0
         |   AND len(list_filter(string_split(text, ' '),
         |         w -> w IN (${sqlList(TextOps.stopwords)}))) >= 2) AS g,
         |  0.4 * least(1.0, greatest(CAST(len(string_split(text, ' ')) AS DOUBLE), 1.0) / 100.0)
         |   + 0.3 * (1.0 - CAST(len(regexp_extract_all(text, '[^a-z0-9 ]')) AS DOUBLE)
         |       / greatest(CAST(length(text) AS DOUBLE), 1.0))
         |   + 0.3 * least(1.0, 4.0 * CAST(len(list_filter(string_split(text, ' '),
         |         w -> w IN (${sqlList(TextOps.stopwords)}))) AS DOUBLE)
         |       / greatest(CAST(len(string_split(text, ' ')) AS DOUBLE), 1.0)) AS q,
         |  md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fp
         |FROM documents),
         |uniq AS (SELECT doc_id AS sid, text FROM (
         |  SELECT doc_id, text,
         |    ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
         |  FROM f WHERE g AND q >= 0.6) WHERE rn = 1),
         |w2 AS (SELECT sid, string_split(text, ' ') AS w FROM uniq),
         |sh0 AS (SELECT DISTINCT sid,
         |    w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS gram
         |  FROM w2, unnest(generate_series(1, len(w) - 2)) AS t(i)),
         |sh AS (SELECT sid, ${sqlHash("gram", 12)} AS gh FROM sh0),
         |per AS (SELECT sid, COUNT(*) AS n_grams FROM sh GROUP BY sid),
         |nov AS (SELECT sid, COUNT(*) AS n_novel FROM
         |  (SELECT gh, MIN(sid) AS sid FROM sh GROUP BY gh) GROUP BY sid),
         |nn AS (SELECT coalesce(CAST(SUM(CASE WHEN coalesce(per.n_grams, 0) > 0
         |    AND CAST(coalesce(nov.n_novel, 0) AS DOUBLE) / per.n_grams >= 0.5
         |    THEN 1 ELSE 0 END) AS BIGINT), 0) AS n_novel
         |  FROM uniq u LEFT JOIN per ON u.sid = per.sid
         |    LEFT JOIN nov ON u.sid = nov.sid)
         |SELECT n_input, n_gopher, n_quality, n_unique, n_novel FROM (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_input,
         |    CAST(SUM(CASE WHEN g THEN 1 ELSE 0 END) AS BIGINT) AS n_gopher,
         |    CAST(SUM(CASE WHEN g AND q >= 0.6 THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
         |    CAST(COUNT(DISTINCT CASE WHEN g AND q >= 0.6 THEN fp END) AS BIGINT) AS n_unique
         |  FROM f) CROSS JOIN nn""".stripMargin) { (s, d) =>
      graft.operators.Quality.curationFunnelNovelty(
        Tables.documents(s, d), "doc_id", "text",
        minQuality = 0.6, n = 3, minNovelty = 0.5)
    },

    // Per-doc curation DECISION LOG (Quality.rejectionReasons): every
    // document's FIRST failing gate in funnel order (gopher ->
    // low_quality -> duplicate) or `kept` — the provenance artifact the
    // fn1 aggregate summarizes. Duplicate = quality survivor whose
    // fingerprint a lower id claimed first (the d2 keep-first rule via an
    // unordered per-fingerprint MIN). Counts reconcile with fn1,
    // spec-asserted.
    QueryDef(
      "fn3_rejection_reasons",
      s"""WITH f AS (SELECT doc_id AS sid,
         |  (len(string_split(text, ' ')) BETWEEN 30 AND 10000
         |   AND (CAST(length(replace(text, ' ', '')) AS DOUBLE) /
         |        greatest(CAST(len(string_split(text, ' ')) AS DOUBLE), 1.0))
         |       BETWEEN 4.0 AND 5.0
         |   AND len(list_filter(string_split(text, ' '),
         |         w -> w IN (${sqlList(TextOps.stopwords)}))) >= 2) AS g,
         |  0.4 * least(1.0, greatest(CAST(len(string_split(text, ' ')) AS DOUBLE), 1.0) / 100.0)
         |   + 0.3 * (1.0 - CAST(len(regexp_extract_all(text, '[^a-z0-9 ]')) AS DOUBLE)
         |       / greatest(CAST(length(text) AS DOUBLE), 1.0))
         |   + 0.3 * least(1.0, 4.0 * CAST(len(list_filter(string_split(text, ' '),
         |         w -> w IN (${sqlList(TextOps.stopwords)}))) AS DOUBLE)
         |       / greatest(CAST(len(string_split(text, ' ')) AS DOUBLE), 1.0)) AS q,
         |  md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fp
         |FROM documents),
         |m AS (SELECT sid, g, (g AND q >= 0.6) AS gq, fp,
         |    MIN(CASE WHEN g AND q >= 0.6 THEN sid END)
         |      OVER (PARTITION BY fp) AS mgq
         |  FROM f)
         |SELECT sid AS doc_id,
         |  CASE WHEN NOT g THEN 'gopher'
         |       WHEN NOT gq THEN 'low_quality'
         |       WHEN sid <> mgq THEN 'duplicate'
         |       ELSE 'kept' END AS verdict
         |FROM m ORDER BY doc_id""".stripMargin) { (s, d) =>
      graft.operators.Quality.rejectionReasons(
          Tables.documents(s, d), "doc_id", "text", minQuality = 0.6)
        .select(col("sid").as("doc_id"), col("verdict"))
        .orderBy(col("doc_id"))
    },

    // Curation dashboard CUBE (Quality.curationCube): per lang x source
    // cell + rollups + grand total, the token counts and funnel survival
    // ladder in ONE grouping-sets pass — the mixing-weight dashboard.
    // Rolled dims render '<all>' so the hashed contract is NULL-free;
    // expressions are the fn1/fn3 gates verbatim.
    QueryDef(
      "dp2_curation_cube",
      s"""WITH f AS (SELECT lang, source,
         |  CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tok,
         |  (len(string_split(text, ' ')) BETWEEN 30 AND 10000
         |   AND (CAST(length(replace(text, ' ', '')) AS DOUBLE) /
         |        greatest(CAST(len(string_split(text, ' ')) AS DOUBLE), 1.0))
         |       BETWEEN 4.0 AND 5.0
         |   AND len(list_filter(string_split(text, ' '),
         |         w -> w IN (${sqlList(TextOps.stopwords)}))) >= 2) AS g,
         |  0.4 * least(1.0, greatest(CAST(len(string_split(text, ' ')) AS DOUBLE), 1.0) / 100.0)
         |   + 0.3 * (1.0 - CAST(len(regexp_extract_all(text, '[^a-z0-9 ]')) AS DOUBLE)
         |       / greatest(CAST(length(text) AS DOUBLE), 1.0))
         |   + 0.3 * least(1.0, 4.0 * CAST(len(list_filter(string_split(text, ' '),
         |         w -> w IN (${sqlList(TextOps.stopwords)}))) AS DOUBLE)
         |       / greatest(CAST(len(string_split(text, ' ')) AS DOUBLE), 1.0)) AS q,
         |  md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fp
         |FROM documents)
         |SELECT coalesce(lang, '<all>') AS lang,
         |  coalesce(source, '<all>') AS source,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
         |  CAST(SUM(CASE WHEN g THEN 1 ELSE 0 END) AS BIGINT) AS n_gopher,
         |  CAST(SUM(CASE WHEN g AND q >= 0.6 THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
         |  CAST(COUNT(DISTINCT CASE WHEN g AND q >= 0.6 THEN fp END) AS BIGINT) AS n_unique
         |FROM f GROUP BY CUBE (lang, source)
         |ORDER BY lang, source""".stripMargin) { (s, d) =>
      graft.operators.Quality.curationCube(Tables.documents(s, d), "text",
          "lang", "source", minQuality = 0.6)
        .orderBy(col("lang"), col("source"))
    },

    // k-ANONYMITY / l-DIVERSITY audit (Quality.kAnonymityAudit — Sweeney
    // 2002 / Machanavajjhala et al. 2007): QI = (event_type, ⌊value⌋),
    // sensitive = user_id, k=5 / l=3. One QI-keyed aggregate then a
    // class-table summary — the compliance gate a training-data release
    // runs before shipping event-derived features.
    QueryDef(
      "dp3_k_anonymity",
      """WITH cls AS (SELECT event_type, CAST(floor(value) AS BIGINT) AS vb,
        |    CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(COUNT(DISTINCT user_id) AS BIGINT) AS l_div
        |  FROM events GROUP BY 1, 2)
        |SELECT CAST(SUM(n) AS BIGINT) AS n_rows,
        |  CAST(COUNT(*) AS BIGINT) AS n_classes,
        |  MIN(n) AS min_class_size,
        |  CAST(SUM(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_small_classes,
        |  CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT) AS rows_at_risk,
        |  MIN(l_div) AS min_l_diversity,
        |  CAST(SUM(CASE WHEN l_div < 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_low_diversity,
        |  CAST(SUM(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT) = 0 AS k_anonymous,
        |  CAST(SUM(CASE WHEN l_div < 3 THEN 1 ELSE 0 END) AS BIGINT) = 0 AS l_diverse
        |FROM cls""".stripMargin) { (s, d) =>
      graft.operators.Quality.kAnonymityAudit(
        Tables.events(s, d).withColumn("vb", floor(col("value")).cast("long")),
        Seq("event_type", "vb"), "user_id", k = 5, l = 3)
    },

    // The violating equivalence classes behind dp3 — the actionable
    // artifact (suppress or generalize exactly these rows' QI values);
    // output is violation-sized, never row-sized.
    QueryDef(
      "dp4_k_anon_violations",
      """SELECT event_type, vb, n, l_div FROM (
        |  SELECT event_type, CAST(floor(value) AS BIGINT) AS vb,
        |    CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(COUNT(DISTINCT user_id) AS BIGINT) AS l_div
        |  FROM events GROUP BY 1, 2)
        |WHERE n < 5 OR l_div < 3
        |ORDER BY event_type, vb""".stripMargin) { (s, d) =>
      graft.operators.Quality.kAnonymityViolations(
          Tables.events(s, d).withColumn("vb", floor(col("value")).cast("long")),
          Seq("event_type", "vb"), "user_id", k = 5, l = 3)
        .select(col("event_type"), col("vb"), col("n"), col("l_div"))
        .orderBy(col("event_type"), col("vb"))
    },

    // Bigram stupid-backoff NLL (TextOps.bigramNll): the LM trains on the
    // EVEN docs and scores ALL docs, so held-out (odd) docs route unseen
    // transitions through the 0.4 x add-one-unigram backoff — n_unseen
    // proves the branch fires. Same micro-nat fixed-point discipline as
    // t12, one ln() per bigram type.
    QueryDef(
      "t17_bigram_nll",
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |bg AS (SELECT doc_id, ${sqlHash("w[i]", 12)} AS h1,
        |    ${sqlHash("w[i+1]", 12)} AS h2
        |  FROM toks, unnest(generate_series(1, len(w) - 1)) AS t(i)),
        |tf2 AS (SELECT doc_id AS did, h1, h2, COUNT(*) AS tf FROM bg GROUP BY 1, 2, 3),
        |tr AS (SELECT unnest(string_split(text, ' ')) AS tok
        |  FROM documents WHERE doc_id % 2 = 0),
        |c1 AS (SELECT ${sqlHash("tok", 12)} AS h, COUNT(*) AS c FROM tr GROUP BY 1),
        |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_total,
        |    CAST(COUNT(*) AS BIGINT) AS v_size FROM c1),
        |c2 AS (SELECT h1, h2, COUNT(*) AS c FROM bg
        |  WHERE doc_id % 2 = 0 GROUP BY 1, 2),
        |scored AS (SELECT tf2.did, tf2.tf,
        |    CASE WHEN c2.c IS NOT NULL THEN
        |      CAST(round(-ln(CAST(c2.c AS DOUBLE) / CAST(u1.c AS DOUBLE)) * 1e6) AS BIGINT)
        |    ELSE
        |      CAST(round(-ln((2.0 * CAST(COALESCE(u2.c, 0) + 1 AS DOUBLE)) /
        |        (5.0 * CAST(n_total + v_size AS DOUBLE))) * 1e6) AS BIGINT)
        |    END AS nll_fp,
        |    CASE WHEN c2.c IS NULL THEN tf2.tf ELSE CAST(0 AS BIGINT) END AS unseen
        |  FROM tf2
        |  LEFT JOIN c2 ON c2.h1 = tf2.h1 AND c2.h2 = tf2.h2
        |  LEFT JOIN c1 u1 ON u1.h = tf2.h1
        |  LEFT JOIN c1 u2 ON u2.h = tf2.h2
        |  CROSS JOIN tot)
        |SELECT did, CAST(SUM(tf) AS BIGINT) AS dl2,
        |  round(CAST(SUM(tf * nll_fp) AS DOUBLE) / (CAST(SUM(tf) AS DOUBLE) * 1e6), 6)
        |    AS avg_nll2,
        |  CAST(SUM(unseen) AS BIGINT) AS n_unseen
        |FROM scored GROUP BY did ORDER BY did""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      TextOps.bigramNll(docs, docs.filter(col("doc_id") % 2 === 0),
          "doc_id", "text")
        .orderBy(col("did"))
    },

    // Unigram-LM surprisal scoring (TextOps.unigramNll): per-token
    // micro-nat surprisal is fixed-point BIGINT from the one ln() call, so
    // summation order can't perturb the hash — the transcendental-function
    // analogue of ExactAgg's decimal discipline.
    QueryDef(
      "t12_unigram_nll",
      """WITH toks AS (SELECT doc_id AS did, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |tf AS (SELECT did, tok, COUNT(*) AS tf FROM toks GROUP BY did, tok),
        |vocab AS (SELECT tok, SUM(tf) AS cnt FROM tf GROUP BY tok),
        |tot AS (SELECT SUM(cnt) AS n_total FROM vocab),
        |contrib AS (SELECT did, tf,
        |    tf * CAST(round(-ln(CAST(cnt AS DOUBLE) / n_total) * 1e6) AS BIGINT) AS nll_fp
        |  FROM tf JOIN vocab USING (tok) CROSS JOIN tot)
        |SELECT did AS doc_id, CAST(SUM(tf) AS BIGINT) AS dl,
        |  round(CAST(SUM(nll_fp) AS DOUBLE) / (CAST(SUM(tf) AS DOUBLE) * 1e6), 6) AS avg_nll
        |FROM contrib GROUP BY did ORDER BY doc_id""".stripMargin) { (s, d) =>
      TextOps.unigramNll(Tables.documents(s, d), "doc_id", "text")
        .select(col("did").as("doc_id"), col("dl"), col("avg_nll"))
        .orderBy(col("doc_id"))
    },

    // CCNet perplexity tiers (TextOps.perplexityBuckets): per-language
    // head/middle/tail thirds by unigram NLL rank — integer third
    // boundaries (3r <= n / 3r > 2n), ties by id, so tier MEMBERSHIP
    // hash-checks. The scorer is t12's contract verbatim; the oracle adds
    // the per-language rank windows.
    QueryDef(
      "t23_perplexity_buckets",
      """WITH toks AS (SELECT doc_id AS did, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |tf AS (SELECT did, tok, COUNT(*) AS tf FROM toks GROUP BY did, tok),
        |vocab AS (SELECT tok, SUM(tf) AS cnt FROM tf GROUP BY tok),
        |tot AS (SELECT SUM(cnt) AS n_total FROM vocab),
        |contrib AS (SELECT did, tf,
        |    tf * CAST(round(-ln(CAST(cnt AS DOUBLE) / n_total) * 1e6) AS BIGINT) AS nll_fp
        |  FROM tf JOIN vocab USING (tok) CROSS JOIN tot),
        |nllt AS (SELECT did, CAST(SUM(tf) AS BIGINT) AS dl,
        |    round(CAST(SUM(nll_fp) AS DOUBLE) / (CAST(SUM(tf) AS DOUBLE) * 1e6), 6) AS avg_nll
        |  FROM contrib GROUP BY did),
        |j AS (SELECT did, lang AS grp, dl, avg_nll
        |  FROM nllt JOIN documents ON did = doc_id),
        |rk AS (SELECT did, grp, dl, avg_nll,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY grp
        |      ORDER BY avg_nll, did) AS BIGINT) AS r,
        |    COUNT(*) OVER (PARTITION BY grp) AS n
        |  FROM j)
        |SELECT did AS doc_id, grp AS lang, dl, avg_nll, r,
        |  CASE WHEN r * 3 <= n THEN 'head'
        |       WHEN r * 3 > n * 2 THEN 'tail'
        |       ELSE 'middle' END AS bucket
        |FROM rk ORDER BY doc_id""".stripMargin) { (s, d) =>
      TextOps.perplexityBuckets(Tables.documents(s, d), "doc_id", "text",
          "lang")
        .select(col("did").as("doc_id"), col("grp").as("lang"), col("dl"),
          col("avg_nll"), col("r"), col("bucket"))
        .orderBy(col("doc_id"))
    },

    // Unigram-LM tokenizer TRAINING (TextOps.unigramLmVocab — Kudo 2018 /
    // SentencePiece's unigram model, hard-EM variant): character +
    // frequent-substring seeds CAPPED at the top seedSize=150 by (usage
    // desc, piece asc) — the SentencePiece seed_sentencepiece_size bound
    // that keeps the driver-resident model finite at any corpus (the cap
    // binds here: sf0.01 has 204 candidates) — then two Viterbi-EM rounds
    // with every score an exact integer micro-nat (LnFp), frequency
    // pruning to vocab 60. The
    // oracle replays BOTH EM rounds with the Viterbi DP unrolled one CTE
    // per word length and the same (total DESC, longer-piece) tie-break —
    // the t14 discipline: train-time state, not just the output, is what
    // hash-checks.
    QueryDef(
      "t24_unigram_vocab",
      s"""WITH RECURSIVE $pow2Cte,
         |utoks AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
         |wf AS MATERIALIZED (SELECT w, CAST(COUNT(*) AS BIGINT) AS freq FROM utoks
         |  WHERE len(w) > 0 GROUP BY w),
         |uchars AS MATERIALIZED (SELECT DISTINCT substr(w, i, 1) AS piece
         |  FROM wf, unnest(generate_series(1, len(w))) AS t(i)),
         |usub AS (SELECT substr(w, i, j) AS piece,
         |    CAST(SUM(freq) AS BIGINT) AS usage
         |  FROM wf, unnest(generate_series(1, 4)) AS sj(j),
         |       unnest(generate_series(1, len(w))) AS t(i)
         |  WHERE i + j - 1 <= len(w) GROUP BY 1),
         |useed AS (SELECT piece, usage FROM usub WHERE len(piece) = 1
         |  UNION ALL
         |  (SELECT piece, usage FROM usub WHERE len(piece) > 1 AND usage >= 2
         |   QUALIFY ROW_NUMBER() OVER (ORDER BY usage DESC, piece) <= 150)),
         |utt0 AS (SELECT CAST(SUM(usage) AS HUGEINT) AS tt FROM useed),
         |upr0 AS (SELECT piece AS key,
         |    greatest(CAST((CAST(usage AS HUGEINT) * 1000000000000) // tt AS BIGINT), 1) AS p,
         |    CAST(1000000000000 AS BIGINT) AS q FROM useed CROSS JOIN utt0),
         |${sqlLog2Fp("ul0", "upr0", "key")},
         |uv1 AS MATERIALIZED (SELECT key AS piece, $sqlLnMicroFromL AS lnp FROM ul0L),
         |${unigramRoundCtes(1, "uv1", maxWordLen = 8, maxPieceLen = 4)},
         |${unigramRoundCtes(2, "uv2", maxWordLen = 8, maxPieceLen = 4)},
         |umul AS (SELECT piece, usage FROM uall2 WHERE len(piece) > 1
         |  QUALIFY ROW_NUMBER() OVER (ORDER BY usage DESC, piece)
         |    <= 60 - (SELECT COUNT(*) FROM uchars)),
         |ufin AS (SELECT piece, usage FROM uall2 WHERE len(piece) = 1
         |  UNION ALL SELECT piece, usage FROM umul)
         |SELECT CAST(ROW_NUMBER() OVER (ORDER BY usage DESC, piece) AS BIGINT) AS rank,
         |  piece, usage, lnp AS score_fp
         |FROM ufin JOIN uv3 USING (piece)
         |ORDER BY rank""".stripMargin) { (s, d) =>
      TextOps.unigramLmVocab(Tables.documents(s, d), "text",
          maxPieceLen = 4, rounds = 2, vocabSize = 60, minCount = 2L, seedSize = 150)
        .orderBy(col("rank"))
    },

    // Unigram tokenizer APPLY (the t15 pattern for the unigram family):
    // segment every distinct corpus word with t24's TRAINED pruned
    // vocabulary and final scores. The oracle re-derives the full t24
    // training chain, restricts scores to the pruned vocabulary (uvf) and
    // runs ONE more unrolled Viterbi round over it — so train and apply
    // are hash-checked to agree exactly, pruning included.
    QueryDef(
      "t26_unigram_segment",
      s"""WITH RECURSIVE $pow2Cte,
         |utoks AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
         |wf AS MATERIALIZED (SELECT w, CAST(COUNT(*) AS BIGINT) AS freq FROM utoks
         |  WHERE len(w) > 0 GROUP BY w),
         |uchars AS MATERIALIZED (SELECT DISTINCT substr(w, i, 1) AS piece
         |  FROM wf, unnest(generate_series(1, len(w))) AS t(i)),
         |usub AS (SELECT substr(w, i, j) AS piece,
         |    CAST(SUM(freq) AS BIGINT) AS usage
         |  FROM wf, unnest(generate_series(1, 4)) AS sj(j),
         |       unnest(generate_series(1, len(w))) AS t(i)
         |  WHERE i + j - 1 <= len(w) GROUP BY 1),
         |useed AS (SELECT piece, usage FROM usub WHERE len(piece) = 1
         |  UNION ALL
         |  (SELECT piece, usage FROM usub WHERE len(piece) > 1 AND usage >= 2
         |   QUALIFY ROW_NUMBER() OVER (ORDER BY usage DESC, piece) <= 150)),
         |utt0 AS (SELECT CAST(SUM(usage) AS HUGEINT) AS tt FROM useed),
         |upr0 AS (SELECT piece AS key,
         |    greatest(CAST((CAST(usage AS HUGEINT) * 1000000000000) // tt AS BIGINT), 1) AS p,
         |    CAST(1000000000000 AS BIGINT) AS q FROM useed CROSS JOIN utt0),
         |${sqlLog2Fp("ul0", "upr0", "key")},
         |uv1 AS MATERIALIZED (SELECT key AS piece, $sqlLnMicroFromL AS lnp FROM ul0L),
         |${unigramRoundCtes(1, "uv1", maxWordLen = 8, maxPieceLen = 4)},
         |${unigramRoundCtes(2, "uv2", maxWordLen = 8, maxPieceLen = 4)},
         |umul AS (SELECT piece, usage FROM uall2 WHERE len(piece) > 1
         |  QUALIFY ROW_NUMBER() OVER (ORDER BY usage DESC, piece)
         |    <= 60 - (SELECT COUNT(*) FROM uchars)),
         |ufin AS (SELECT piece, usage FROM uall2 WHERE len(piece) = 1
         |  UNION ALL SELECT piece, usage FROM umul),
         |uvf AS MATERIALIZED (SELECT v.piece, v.lnp
         |  FROM uv3 v JOIN ufin USING (piece)),
         |${unigramRoundCtes(3, "uvf", maxWordLen = 8, maxPieceLen = 4)}
         |SELECT w AS word,
         |  CAST(len(string_split(path, ' ')) AS BIGINT) AS n_pieces,
         |  path AS pieces
         |FROM useg3 ORDER BY word""".stripMargin) { (s, d) =>
      import s.implicits._
      val docs = Tables.documents(s, d)
      val model = TextOps.unigramLmVocab(docs, "text", maxPieceLen = 4,
          rounds = 2, vocabSize = 60, minCount = 2L, seedSize = 150)
        .select(col("piece"), col("score_fp"))
        .as[(String, Long)].collect().sortBy(_._1).toSeq
      docs.select(explode(split(col("text"), " ")).as("word"))
        .filter(length(col("word")) > 0).distinct()
        .select(col("word"),
          graft.plans.UnigramSegment.unigramSegment(col("word"), model).as("p"))
        .select(col("word"), size(col("p")).cast("long").as("n_pieces"),
          array_join(col("p"), " ").as("pieces"))
        .orderBy(col("word"))
    },

    // Unigram tokenizer TOKEN BUDGETING (the t19 integration for the
    // unigram family): per-document word and subtoken counts under t24's
    // trained vocabulary — the number that decides context packing and
    // per-doc training cost once the tokenizer is unigram instead of BPE.
    // Segmentation is the same per-row kernel applied at word
    // OCCURRENCES (no join, no shuffle beyond the per-doc aggregate);
    // the oracle re-derives the trained vocabulary and counts pieces of
    // each word's unrolled-DP path.
    QueryDef(
      "t27_unigram_doc_tokens",
      s"""WITH RECURSIVE $pow2Cte,
         |utoks AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
         |wf AS MATERIALIZED (SELECT w, CAST(COUNT(*) AS BIGINT) AS freq FROM utoks
         |  WHERE len(w) > 0 GROUP BY w),
         |uchars AS MATERIALIZED (SELECT DISTINCT substr(w, i, 1) AS piece
         |  FROM wf, unnest(generate_series(1, len(w))) AS t(i)),
         |usub AS (SELECT substr(w, i, j) AS piece,
         |    CAST(SUM(freq) AS BIGINT) AS usage
         |  FROM wf, unnest(generate_series(1, 4)) AS sj(j),
         |       unnest(generate_series(1, len(w))) AS t(i)
         |  WHERE i + j - 1 <= len(w) GROUP BY 1),
         |useed AS (SELECT piece, usage FROM usub WHERE len(piece) = 1
         |  UNION ALL
         |  (SELECT piece, usage FROM usub WHERE len(piece) > 1 AND usage >= 2
         |   QUALIFY ROW_NUMBER() OVER (ORDER BY usage DESC, piece) <= 150)),
         |utt0 AS (SELECT CAST(SUM(usage) AS HUGEINT) AS tt FROM useed),
         |upr0 AS (SELECT piece AS key,
         |    greatest(CAST((CAST(usage AS HUGEINT) * 1000000000000) // tt AS BIGINT), 1) AS p,
         |    CAST(1000000000000 AS BIGINT) AS q FROM useed CROSS JOIN utt0),
         |${sqlLog2Fp("ul0", "upr0", "key")},
         |uv1 AS MATERIALIZED (SELECT key AS piece, $sqlLnMicroFromL AS lnp FROM ul0L),
         |${unigramRoundCtes(1, "uv1", maxWordLen = 8, maxPieceLen = 4)},
         |${unigramRoundCtes(2, "uv2", maxWordLen = 8, maxPieceLen = 4)},
         |umul AS (SELECT piece, usage FROM uall2 WHERE len(piece) > 1
         |  QUALIFY ROW_NUMBER() OVER (ORDER BY usage DESC, piece)
         |    <= 60 - (SELECT COUNT(*) FROM uchars)),
         |ufin AS (SELECT piece, usage FROM uall2 WHERE len(piece) = 1
         |  UNION ALL SELECT piece, usage FROM umul),
         |uvf AS MATERIALIZED (SELECT v.piece, v.lnp
         |  FROM uv3 v JOIN ufin USING (piece)),
         |${unigramRoundCtes(3, "uvf", maxWordLen = 8, maxPieceLen = 4)},
         |wp AS MATERIALIZED (SELECT w,
         |    CAST(len(string_split(path, ' ')) AS BIGINT) AS np FROM useg3),
         |occ AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
         |  FROM documents),
         |per AS (SELECT o.doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
         |    CAST(SUM(wp.np) AS BIGINT) AS n_subtokens
         |  FROM occ o JOIN wp ON wp.w = o.w GROUP BY o.doc_id)
         |SELECT d.doc_id, coalesce(n_words, 0) AS n_words,
         |  coalesce(n_subtokens, 0) AS n_subtokens
         |FROM documents d LEFT JOIN per USING (doc_id)
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      import s.implicits._
      val docs = Tables.documents(s, d)
      val model = TextOps.unigramLmVocab(docs, "text", maxPieceLen = 4,
          rounds = 2, vocabSize = 60, minCount = 2L, seedSize = 150)
        .select(col("piece"), col("score_fp"))
        .as[(String, Long)].collect().sortBy(_._1).toSeq
      val per = docs
        .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
        .filter(length(col("word")) > 0)
        .groupBy(col("doc_id")).agg(
          count(lit(1)).as("n_words"),
          sum(size(graft.plans.UnigramSegment.unigramSegment(col("word"), model))
            .cast("long")).as("n_subtokens"))
      docs.select(col("doc_id")).join(per, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_words"), lit(0L)).as("n_words"),
          coalesce(col("n_subtokens"), lit(0L)).as("n_subtokens"))
        .orderBy(col("doc_id"))
    },

    // TRAINED multiclass language ID (TextOps.trainLangModel/scoreLang —
    // fastText-shape, the trained counterpart of t1/t6's marker
    // heuristic): per-language naive-Bayes log-likelihoods over hashed
    // unigram buckets, add-one smoothed, class priors, argmax with the
    // smallest-language tie-break. Every ln is one LnFp integer round, so
    // per-doc scores AND predictions hash-check; the oracle replays the
    // dense langs x 256 model through the sqlLog2Fp twin (composite
    // lang#bucket keys).
    QueryDef(
      "t28_trained_langid",
      s"""WITH RECURSIVE $pow2Cte,
         |$langIdChainCtes
         |SELECT doc_id, true_lang AS lang, cand AS pred,
         |  CAST(score AS BIGINT) AS score_fp, cand = true_lang AS correct
         |FROM spick WHERE rn = 1 ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = langIdSynth(s, d)
      val model = TextOps.trainLangModel(
        docs.filter(col("doc_id") % 3 =!= 0), "doc_id", "text", "lang", 256)
      TextOps.scoreLang(docs, "doc_id", "text", model, 256)
        .join(docs.select(col("doc_id").as("did"), col("lang")), Seq("did"))
        .select(col("did").as("doc_id"), col("lang"), col("pred"),
          col("score_fp"), (col("pred") === col("lang")).as("correct"))
        .orderBy(col("doc_id"))
    },

    // Language ID with a CONFIDENCE margin and abstention
    // (TextOps.scoreLangMargin — the fastText -th serving pattern): the
    // SAME trained model and scoring chain as t28 (shared CTEs, shared
    // langScores code — neither side can drift), but serving top1 − top2
    // in exact integer micro-nats and abstaining to "und" below the
    // threshold. A production language filter routes unsure docs instead
    // of mislabeling them; the margin is the number that decides.
    QueryDef(
      "t29_langid_margin",
      s"""WITH RECURSIVE $pow2Cte,
         |$langIdChainCtes,
         |m1 AS (SELECT doc_id, cand, score FROM spick WHERE rn = 1),
         |m2 AS (SELECT doc_id, score AS score2 FROM spick WHERE rn = 2)
         |SELECT m1.doc_id,
         |  CASE WHEN m1.score - m2.score2 >= ${LangIdMarginTau}
         |    THEN m1.cand ELSE 'und' END AS pred,
         |  m1.cand AS top_lang,
         |  CAST(m1.score - m2.score2 AS BIGINT) AS margin_fp,
         |  coalesce(m1.score - m2.score2 >= ${LangIdMarginTau}, false) AS confident
         |FROM m1 LEFT JOIN m2 USING (doc_id)
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = langIdSynth(s, d)
      val model = TextOps.trainLangModel(
        docs.filter(col("doc_id") % 3 =!= 0), "doc_id", "text", "lang", 256)
      TextOps.scoreLangMargin(docs, "doc_id", "text", model, 256,
          minMarginMicro = LangIdMarginTau)
        .select(col("did").as("doc_id"), col("pred"), col("top_lang"),
          col("margin_fp"), col("confident"))
        .orderBy(col("doc_id"))
    },

    // HTML-aware curation funnel (fn-family x t25): the SAME fn1 funnel —
    // Gopher gate, quality >= 0.6, fingerprint dedup — run over RAW
    // synthesized HTML and over its extracted MAIN CONTENT, side by side
    // in one row. This is the "crawls are HTML" argument made
    // oracle-checkable: the raw side's tag-glued tokens blow the Gopher
    // word-length band while the cleaned side recovers the organic pass
    // rate — the whole comparison hash-checks because every stage reuses
    // fn1's expressions (sqlFunnelF) and t25's strip chain verbatim.
    QueryDef(
      "fn4_html_funnel",
      s"""WITH h AS (SELECT doc_id,
         |    '<div><h1>' || source || '</h1><nav><a href="/">homepage navigation links</a> ' ||
         |    '<a href="/x">all archive sections here</a></nav><p>' || text ||
         |    '</p><p>tiny</p><p>Entities: &amp; &lt;b&gt; &quot;q&quot; ' ||
         |    '&nbsp;sp &#39;a&#39; &#x27;h&#X27; nb&#160;sp &#999; ' ||
         |    '&#38;lt; &#12345678; survive the strip as visible text.</p>' ||
         |    '<p>Read <a href="/y">details</a> about ' || lang ||
         |    ' corpus quality.</p></div>' AS html
         |  FROM documents),
         |harr AS (SELECT doc_id, regexp_split_to_array(html,
         |    '(?i)</?(?:p|div|h[1-6]|li|ul|ol|br|table|tr|td|nav|header|footer|aside|section|article)\\b[^>]*>') AS a
         |  FROM h),
         |hb AS (SELECT doc_id, t.i AS bi, a[t.i] AS blk
         |  FROM harr, unnest(generate_series(1, len(a))) AS t(i)),
         |hm AS (SELECT doc_id, bi, trim(${sqlHtmlVis("blk")}) AS vis,
         |    length(${sqlHtmlVis("blk")}) AS nv,
         |    greatest(0, length(${sqlHtmlVis("blk")})
         |      - length(${sqlHtmlVis(sqlAnchorErased("blk"))})) AS na
         |  FROM hb),
         |hnz AS (SELECT * FROM hm WHERE length(vis) > 0),
         |hagg AS (SELECT doc_id,
         |    string_agg(CASE WHEN length(vis) >= 25 AND na * 100 <= nv * 30
         |      THEN vis END, chr(10) ORDER BY bi) AS main
         |  FROM hnz GROUP BY doc_id),
         |cleaned AS (SELECT d.doc_id, coalesce(main, '') AS text
         |  FROM documents d LEFT JOIN hagg USING (doc_id)),
         |rawsrc AS (SELECT doc_id, html AS text FROM h),
         |${sqlFunnelF("fr", "rawsrc")},
         |${sqlFunnelF("fc", "cleaned")},
         |ar AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_input,
         |    CAST(SUM(CASE WHEN g THEN 1 ELSE 0 END) AS BIGINT) AS n_gopher_raw,
         |    CAST(SUM(CASE WHEN g AND q >= 0.6 THEN 1 ELSE 0 END) AS BIGINT) AS n_quality_raw,
         |    CAST(COUNT(DISTINCT CASE WHEN g AND q >= 0.6 THEN fp END) AS BIGINT) AS n_unique_raw
         |  FROM fr),
         |ac AS (SELECT
         |    CAST(SUM(CASE WHEN g THEN 1 ELSE 0 END) AS BIGINT) AS n_gopher_clean,
         |    CAST(SUM(CASE WHEN g AND q >= 0.6 THEN 1 ELSE 0 END) AS BIGINT) AS n_quality_clean,
         |    CAST(COUNT(DISTINCT CASE WHEN g AND q >= 0.6 THEN fp END) AS BIGINT) AS n_unique_clean
         |  FROM fc)
         |SELECT n_input, n_gopher_raw, n_quality_raw, n_unique_raw,
         |  n_gopher_clean, n_quality_clean, n_unique_clean
         |FROM ar CROSS JOIN ac""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val html = concat(
        lit("<div><h1>"), col("source"),
        lit("</h1><nav><a href=\"/\">homepage navigation links</a> " +
          "<a href=\"/x\">all archive sections here</a></nav><p>"), col("text"),
        lit("</p><p>tiny</p><p>Entities: &amp; &lt;b&gt; &quot;q&quot; " +
          "&nbsp;sp &#39;a&#39; &#x27;h&#X27; nb&#160;sp &#999; " +
          "&#38;lt; &#12345678; survive the strip as visible text.</p>" +
          "<p>Read <a href=\"/y\">details</a> about "), col("lang"),
        lit(" corpus quality.</p></div>"))
      val raw = Quality.curationFunnel(
          docs.select(col("doc_id"), html.as("text")),
          "doc_id", "text", minQuality = 0.6)
        .select(col("n_input"), col("n_gopher").as("n_gopher_raw"),
          col("n_quality").as("n_quality_raw"),
          col("n_unique").as("n_unique_raw"))
      val clean = Quality.curationFunnel(
          Html.mainContent(docs.select(col("doc_id"), html.as("html")),
              "doc_id", "html", minChars = 25, maxLinkPct = 30)
            .select(col("sid").as("doc_id"), col("main").as("text")),
          "doc_id", "text", minQuality = 0.6)
        .select(col("n_gopher").as("n_gopher_clean"),
          col("n_quality").as("n_quality_clean"),
          col("n_unique").as("n_unique_clean"))
      raw.crossJoin(broadcast(clean))
    },

    // HTML main-content extraction (Html.mainContent — jusText/boilerpipe
    // lineage): deterministic markup is wrapped around each document (nav
    // bar of anchors, a boilerplate-short block, an entity block, the real
    // text), then blocks are split on block-level tags, stripped by the
    // native one-pass HtmlStrip kernel, and kept by exact integer rules —
    // visible length >= 25 and anchor-visible chars <= 30% (cross-
    // multiplied, no float ratio). The oracle replays the identical
    // regexp/replace chain and keep rules; md5 of the reassembled main
    // text hash-locks the whole pipeline byte-for-byte.
    QueryDef(
      "t25_html_main_content",
      s"""WITH h AS (SELECT doc_id,
         |    '<div><h1>' || source || '</h1><nav><a href="/">homepage navigation links</a> ' ||
         |    '<a href="/x">all archive sections here</a></nav><p>' || text ||
         |    '</p><p>tiny</p><p>Entities: &amp; &lt;b&gt; &quot;q&quot; ' ||
         |    '&nbsp;sp &#39;a&#39; &#x27;h&#X27; nb&#160;sp &#999; ' ||
         |    '&#38;lt; &#12345678; survive the strip as visible text.</p>' ||
         |    '<p>Read <a href="/y">details</a> about ' || lang ||
         |    ' corpus quality.</p></div>' AS html
         |  FROM documents),
         |arr AS (SELECT doc_id, regexp_split_to_array(html,
         |    '(?i)</?(?:p|div|h[1-6]|li|ul|ol|br|table|tr|td|nav|header|footer|aside|section|article)\\b[^>]*>') AS a
         |  FROM h),
         |b AS (SELECT doc_id, t.i AS bi, a[t.i] AS blk
         |  FROM arr, unnest(generate_series(1, len(a))) AS t(i)),
         |m AS (SELECT doc_id, bi, trim(${sqlHtmlVis("blk")}) AS vis,
         |    length(${sqlHtmlVis("blk")}) AS nv,
         |    greatest(0, length(${sqlHtmlVis("blk")})
         |      - length(${sqlHtmlVis(sqlAnchorErased("blk"))})) AS na
         |  FROM b),
         |nz AS (SELECT * FROM m WHERE length(vis) > 0),
         |agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_blocks,
         |    CAST(SUM(CASE WHEN length(vis) >= 25 AND na * 100 <= nv * 30
         |      THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |    string_agg(CASE WHEN length(vis) >= 25 AND na * 100 <= nv * 30
         |      THEN vis END, chr(10) ORDER BY bi) AS main
         |  FROM nz GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(n_blocks, 0) AS n_blocks,
         |  coalesce(n_kept, 0) AS n_kept,
         |  CAST(length(coalesce(main, '')) AS BIGINT) AS main_len,
         |  md5(coalesce(main, '')) AS main_md5
         |FROM documents d LEFT JOIN agg USING (doc_id)
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val html = concat(
        lit("<div><h1>"), col("source"),
        lit("</h1><nav><a href=\"/\">homepage navigation links</a> " +
          "<a href=\"/x\">all archive sections here</a></nav><p>"), col("text"),
        lit("</p><p>tiny</p><p>Entities: &amp; &lt;b&gt; &quot;q&quot; " +
          "&nbsp;sp &#39;a&#39; &#x27;h&#X27; nb&#160;sp &#999; " +
          "&#38;lt; &#12345678; survive the strip as visible text.</p>" +
          "<p>Read <a href=\"/y\">details</a> about "), col("lang"),
        lit(" corpus quality.</p></div>"))
      Html.mainContent(
          Tables.documents(s, d).select(col("doc_id"), html.as("html")),
          "doc_id", "html", minChars = 25, maxLinkPct = 30)
        .select(col("sid").as("doc_id"), col("n_blocks"), col("n_kept"),
          col("main_len"), md5(col("main")).as("main_md5"))
        .orderBy(col("doc_id"))
    },

    // Corpus boilerplate detection (Dedup.boilerplateStats): df-counted
    // word 5-grams, same 48-bit gram-hash shuffle discipline as the LSH
    // verify stage. Near-dup docs report frac ~1, clean docs 0.
    QueryDef(
      "d15_boilerplate_ngrams",
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |sh0 AS (SELECT DISTINCT doc_id AS sid,
         |    w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] AS gram
         |  FROM w, unnest(generate_series(1, len(w) - 4)) AS t(i)),
         |sh AS (SELECT sid, ${sqlHash("gram", 12)} AS g FROM sh0),
         |boiler AS (SELECT g FROM (SELECT g, COUNT(*) AS df FROM sh GROUP BY g)
         |  WHERE df >= 2),
         |per AS (SELECT sid, COUNT(*) AS n_grams FROM sh GROUP BY sid),
         |nb AS (SELECT sid, COUNT(*) AS n_boiler FROM sh
         |  WHERE g IN (SELECT g FROM boiler) GROUP BY sid)
         |SELECT d.doc_id AS sid,
         |  coalesce(n_grams, 0) AS n_grams,
         |  coalesce(n_boiler, 0) AS n_boiler,
         |  round(coalesce(CAST(n_boiler AS DOUBLE) / n_grams, 0.0), 6) AS boiler_frac
         |FROM documents d LEFT JOIN per ON d.doc_id = per.sid
         |  LEFT JOIN nb ON d.doc_id = nb.sid
         |ORDER BY sid""".stripMargin) { (s, d) =>
      Dedup.boilerplateStats(Tables.documents(s, d), "doc_id", "text", 5, 2L)
        .orderBy(col("sid"))
    },

    // Corpus-order n-gram novelty (Dedup.ngramNovelty): per document, the
    // fraction of its distinct word 3-grams first seen in THIS document
    // (minimum doc id holds the credit) — low novelty flags docs that
    // mostly restate earlier corpus content (dedup-priority ordering,
    // memorization-risk audit). Counts are exact integers over the d14
    // 48-bit gram hashes; novelty is one final division, NULL for gramless
    // docs rather than a fake 0.
    QueryDef(
      "d21_ngram_novelty",
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |sh0 AS (SELECT DISTINCT doc_id AS sid,
         |    w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS gram
         |  FROM w, unnest(generate_series(1, len(w) - 2)) AS t(i)),
         |sh AS (SELECT sid, ${sqlHash("gram", 12)} AS g FROM sh0),
         |per AS (SELECT sid, COUNT(*) AS n_grams FROM sh GROUP BY sid),
         |nov AS (SELECT sid, COUNT(*) AS n_novel FROM
         |  (SELECT g, MIN(sid) AS sid FROM sh GROUP BY g) GROUP BY sid)
         |SELECT d.doc_id AS sid,
         |  coalesce(n_grams, 0) AS n_grams,
         |  coalesce(n_novel, 0) AS n_novel,
         |  CASE WHEN coalesce(n_grams, 0) > 0
         |    THEN CAST(coalesce(n_novel, 0) AS DOUBLE) / coalesce(n_grams, 0)
         |    END AS novelty
         |FROM documents d LEFT JOIN per ON d.doc_id = per.sid
         |  LEFT JOIN nov ON d.doc_id = nov.sid
         |ORDER BY sid""".stripMargin) { (s, d) =>
      Dedup.ngramNovelty(Tables.documents(s, d), "doc_id", "text", 3)
        .orderBy(col("sid"))
    },

    // INCREMENTAL novelty against the persisted first-holder gram index
    // (Dedup.writeNoveltyIndex / batchNovelty) — the production form of
    // d21 and the third persisted-index lifecycle (after the d18 band
    // index and the s19 ANN index): the seed corpus (doc_id % 5 <> 0)
    // builds a g-bucketed (gram-hash, first_sid) table ONCE; the batch
    // (doc_id % 5 = 0) is scored against it with the index side
    // exchange-free (min-merge on the bucket key) and only batch grams
    // shuffling. Equal by construction to d21 over the full corpus
    // restricted to batch ids — which is exactly what the oracle computes,
    // so a hash match proves the storage round-trip and the incremental
    // serve agree with the from-scratch semantics.
    QueryDef(
      "d22_batch_novelty",
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |sh0 AS (SELECT DISTINCT doc_id AS sid,
         |    w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS gram
         |  FROM w, unnest(generate_series(1, len(w) - 2)) AS t(i)),
         |sh AS (SELECT sid, ${sqlHash("gram", 12)} AS g FROM sh0),
         |per AS (SELECT sid, COUNT(*) AS n_grams FROM sh GROUP BY sid),
         |nov AS (SELECT sid, COUNT(*) AS n_novel FROM
         |  (SELECT g, MIN(sid) AS sid FROM sh GROUP BY g) GROUP BY sid)
         |SELECT d.doc_id AS sid,
         |  coalesce(n_grams, 0) AS n_grams,
         |  coalesce(n_novel, 0) AS n_novel,
         |  CASE WHEN coalesce(n_grams, 0) > 0
         |    THEN CAST(coalesce(n_novel, 0) AS DOUBLE) / coalesce(n_grams, 0)
         |    END AS novelty
         |FROM documents d LEFT JOIN per ON d.doc_id = per.sid
         |  LEFT JOIN nov ON d.doc_id = nov.sid
         |WHERE d.doc_id % 5 = 0
         |ORDER BY sid""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val seed = docs.filter(col("doc_id") % 5 =!= 0)
      val batch = docs.filter(col("doc_id") % 5 === 0)
      // per-session table name (the d18/s19 discipline); the bucketed index
      // build IS part of the measured query — the nightly flow pays it too
      val table = "graft_novelty_d22_" +
        s.sparkContext.applicationId.replaceAll("[^a-zA-Z0-9]", "_")
      graft.sources.Bucketing.ensureCleanTable(s, table)
      Dedup.writeNoveltyIndex(seed, "doc_id", "text", 3, table, 8)
      Dedup.batchNovelty(s, batch, "doc_id", "text", 3, table)
        .orderBy(col("sid"))
    },

    // ASYMMETRIC CONTAINMENT pairs (Dedup.containmentPairs): the
    // quote/near-superset detector Jaccard structurally misses — a short
    // doc quoted inside a long one has Jaccard ~ |short|/|long| but
    // containment ~ 1.0 on the smaller side. MOSS discipline: winnow
    // fingerprints (t5's exact machinery, k=8/w=10 — any shared run of
    // >= 17 chars shares a fingerprint) propose candidates at >= 2 shared
    // fingerprints, exact word-3-gram containment verifies at tau = 0.4.
    // Fingerprints in more than 64 documents are suppressed before the
    // pair join (hot-key discipline: common 8-char substrings alone made
    // the sf0.1 candidate join 30x slower; boilerplate-only runs are not
    // containment evidence). The oracle rebuilds winnowing (the t5 window
    // CTE), the df cap, the candidate pair join, and the gram
    // intersection from scratch.
    QueryDef(
      "d23_containment_pairs",
      s"""WITH pos AS (
         |  SELECT doc_id AS sid, i AS pos, len(text) - 7 AS npos,
         |    ${sqlHash("substr(text, i, 8)", 12)} AS h
         |  FROM documents, unnest(generate_series(1, len(text) - 7)) AS t(i)
         |  WHERE len(text) >= 8),
         |win AS (
         |  SELECT sid, pos, npos,
         |    min(h) OVER (PARTITION BY sid ORDER BY pos
         |      ROWS BETWEEN CURRENT ROW AND 9 FOLLOWING) AS wmin
         |  FROM pos),
         |fps0 AS (SELECT DISTINCT sid, wmin AS fp FROM win WHERE pos <= npos - 9),
         |fps AS (SELECT sid, fp FROM fps0 WHERE fp NOT IN (
         |  SELECT fp FROM (SELECT fp, COUNT(*) AS fdf FROM fps0 GROUP BY fp)
         |  WHERE fdf > 64)),
         |cand AS (SELECT a.sid AS ida, b.sid AS idb
         |  FROM fps a JOIN fps b ON a.fp = b.fp AND a.sid < b.sid
         |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         |wds AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |g AS (SELECT DISTINCT doc_id AS sid,
         |    ${sqlHash("wds.w[i] || ' ' || wds.w[i+1] || ' ' || wds.w[i+2]", 12)} AS g
         |  FROM wds, unnest(generate_series(1, len(w) - 2)) AS t(i)),
         |sizes AS (SELECT sid, COUNT(*) AS nsh FROM g GROUP BY sid),
         |inter AS (SELECT c.ida, c.idb, COUNT(*) AS n_inter
         |  FROM cand c JOIN g ga ON ga.sid = c.ida
         |  JOIN g gb ON gb.sid = c.idb AND gb.g = ga.g
         |  GROUP BY 1, 2)
         |SELECT ida, idb, n_inter, za.nsh AS nsh_a, zb.nsh AS nsh_b,
         |  CAST(n_inter AS DOUBLE) / least(za.nsh, zb.nsh) AS containment
         |FROM inter JOIN sizes za ON ida = za.sid JOIN sizes zb ON idb = zb.sid
         |WHERE CAST(n_inter AS DOUBLE) / least(za.nsh, zb.nsh) >= 0.4
         |ORDER BY ida, idb""".stripMargin) { (s, d) =>
      Dedup.containmentPairs(Tables.documents(s, d), "doc_id", "text",
          n = 3, k = 8, w = 10, minShared = 2L, threshold = 0.4)
        .orderBy(col("ida"), col("idb"))
    },

    // CROSS-SOURCE leakage matrix (Dedup.crossSourceOverlap): per ordered
    // source pair, docs of src sharing >= 5 distinct word 3-grams with
    // other's gram set + total hits — d14's decontamination lifted to the
    // full source x source grid in one pass (mixing-weight / source-dedup
    // dashboards). Build side is source-collapsed, so per-gram fan-out is
    // bounded by source count, never df^2.
    QueryDef(
      "d24_cross_source_leakage",
      s"""WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS w
         |  FROM documents),
         |g AS (SELECT DISTINCT doc_id AS sid, source AS src,
         |    ${sqlHash("w.w[i] || ' ' || w.w[i+1] || ' ' || w.w[i+2]", 12)} AS g
         |  FROM w, unnest(generate_series(1, len(w) - 2)) AS t(i)),
         |sg AS (SELECT DISTINCT src AS other, g FROM g),
         |x AS (SELECT sid, src, other, COUNT(*) AS shared
         |  FROM g JOIN sg USING (g) WHERE src <> other
         |  GROUP BY 1, 2, 3 HAVING COUNT(*) >= 5)
         |SELECT src, other, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(shared) AS BIGINT) AS n_gram_hits
         |FROM x GROUP BY 1, 2 ORDER BY src, other""".stripMargin) { (s, d) =>
      Dedup.crossSourceOverlap(Tables.documents(s, d), "doc_id", "text",
          "source", n = 3, minShared = 5L)
        .orderBy(col("src"), col("other"))
    },

    // SemDeDup (Similarity.semDedup, Abbas et al. 2023): k-means cells
    // (the s4 seeded-Lloyd CTEs), within-cell pairs at cosine >= 0.45,
    // duplicate groups as connected components (the d19 recursive CTE),
    // keep = lowest centroid-cosine member per group (retain the hardest
    // example). The oracle replays cells, pairs, components and the keep
    // window — the pruning DECISION hash-checks, not just counts.
    QueryDef(
      "d25_semdedup",
      s"""WITH RECURSIVE $quantVecCte,
         |c0 AS (SELECT sid AS cid, qv AS cv FROM v ORDER BY sid LIMIT 8),
         |a1 AS (SELECT sid, qv, cid FROM (
         |  SELECT v.sid, v.qv, c.cid,
         |    ROW_NUMBER() OVER (PARTITION BY v.sid
         |      ORDER BY ${sqlCosine("v.qv", "c.cv")} DESC, c.cid) AS rn
         |  FROM v CROSS JOIN c0 c) WHERE rn = 1),
         |c1 AS (SELECT cid, list(sx ORDER BY pos) AS cv FROM (
         |  SELECT cid, pos, SUM(qv[pos]) AS sx
         |  FROM a1, unnest(generate_series(1, 64)) AS t(pos)
         |  GROUP BY cid, pos) GROUP BY cid),
         |a2 AS (SELECT sid, qv, cid, cosine FROM (
         |  SELECT v.sid, v.qv, c.cid, ${sqlCosine("v.qv", "c.cv")} AS cosine,
         |    ROW_NUMBER() OVER (PARTITION BY v.sid
         |      ORDER BY ${sqlCosine("v.qv", "c.cv")} DESC, c.cid) AS rn
         |  FROM v CROSS JOIN c1 c) WHERE rn = 1),
         |pairs AS (SELECT a.sid AS ida, b.sid AS idb
         |  FROM a2 a JOIN a2 b ON a.cid = b.cid AND a.sid < b.sid
         |  WHERE ${sqlCosine("a.qv", "b.qv")} >= 0.45),
         |bidir(a, b) AS (SELECT ida, idb FROM pairs UNION SELECT idb, ida FROM pairs),
         |nodes(x) AS (SELECT DISTINCT a FROM bidir),
         |r(x, y) AS (SELECT x, x FROM nodes
         |  UNION SELECT r.x, e.b FROM r JOIN bidir e ON e.a = r.y),
         |comp AS (SELECT x AS sid, MIN(y) AS component FROM r GROUP BY x),
         |ranked AS (SELECT sid, component,
         |    ROW_NUMBER() OVER (PARTITION BY component
         |      ORDER BY cosine ASC NULLS FIRST, sid) AS rn
         |  FROM a2 JOIN comp USING (sid))
         |SELECT a2.sid, a2.cid, a2.cosine,
         |  coalesce(ranked.component, a2.sid) AS component,
         |  (ranked.rn IS NULL OR ranked.rn = 1) AS keep
         |FROM a2 LEFT JOIN ranked ON a2.sid = ranked.sid
         |ORDER BY a2.sid""".stripMargin) { (s, d) =>
      graft.core.Storage.freeingIntermediates(s) {
        Similarity.semDedup(Tables.embeddings(s, d), "vec_id", "embedding",
          nCells = 8, rounds = 2, threshold = 0.45)
      }.orderBy(col("sid"))
    },

    // SEMANTIC decontamination (Similarity.semanticDecontaminate): every
    // corpus vector's max cosine over a benchmark/eval embedding set —
    // the embedding companion to d14's n-gram decontamination (a
    // paraphrased eval question shares no 8-gram but cosines near its
    // source). Benchmark = every 10th vector (an eval suite carved from
    // the corpus, so its members flag themselves at cosine 1.0 and the
    // planted near-dups flag at ~0.98+). The benchmark broadcasts; the
    // argmax is a partial-aggregating groupBy, not a window over the
    // cross product. Ties to the smallest benchmark id, zero-norm pairs
    // dropped as NULL-cosine, pairless vectors surface uncontaminated.
    QueryDef(
      "d32_semantic_decontaminate",
      s"""WITH $quantVecCte,
         |b AS (SELECT sid AS bid, qv AS bqv FROM v WHERE sid % 10 = 0),
         |sc AS (SELECT v.sid, bid, ${sqlCosine("v.qv", "bqv")} AS cosine
         |  FROM v CROSS JOIN b),
         |best AS (SELECT sid, bid, cosine FROM (
         |    SELECT sid, bid, cosine, ROW_NUMBER() OVER (PARTITION BY sid
         |      ORDER BY cosine DESC, bid) AS rn
         |    FROM sc WHERE cosine IS NOT NULL) WHERE rn = 1)
         |SELECT e.vec_id AS sid, bid AS bench_id, cosine AS max_cosine,
         |  coalesce(cosine >= 0.98, false) AS contaminated
         |FROM embeddings e LEFT JOIN best ON best.sid = e.vec_id
         |ORDER BY sid""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      Similarity.semanticDecontaminate(emb,
          emb.filter(col("vec_id") % 10 === 0), "vec_id", "embedding",
          minCosine = 0.98)
        .orderBy(col("sid"))
    },

    // COMBINED decontamination funnel (fn-family x d14 x d32): the same
    // eval suite (doc/vec id % 10 = 0; documents and embeddings share the
    // id space) guarded two ways over the corpus remainder — exact word
    // 3-gram overlap (Dedup.decontaminate) and embedding cosine >= 0.45
    // (semanticDecontaminate at the d25 threshold convention) — and the
    // overlap of the two flag sets in one row. The point is
    // COMPLEMENTARITY: the n-gram guard catches verbatim leakage the
    // embedding guard waves through and vice versa, so n_both << n_either.
    // Both flag sets are contamination-sized and broadcast back onto the
    // corpus ids — no corpus-keyed shuffle, one single-row aggregate.
    QueryDef(
      "fn5_decontamination_funnel",
      s"""WITH $quantVecCte,
         |wds AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |g AS (SELECT DISTINCT doc_id AS sid,
         |    ${sqlHash("wds.w[i] || ' ' || wds.w[i+1] || ' ' || wds.w[i+2]", 12)} AS g
         |  FROM wds, unnest(generate_series(1, len(w) - 2)) AS t(i)),
         |bg AS (SELECT DISTINCT g FROM g WHERE sid % 10 = 0),
         |ng AS (SELECT DISTINCT sid FROM g
         |  WHERE sid % 10 <> 0 AND g IN (SELECT g FROM bg)),
         |b AS (SELECT sid AS bid, qv AS bqv FROM v WHERE sid % 10 = 0),
         |sm AS (SELECT DISTINCT v.sid FROM v CROSS JOIN b
         |  WHERE v.sid % 10 <> 0 AND ${sqlCosine("v.qv", "bqv")} >= 0.45),
         |f AS (SELECT d.doc_id AS sid,
         |    (ng.sid IS NOT NULL) AS ngh, (sm.sid IS NOT NULL) AS smh
         |  FROM documents d LEFT JOIN ng ON ng.sid = d.doc_id
         |    LEFT JOIN sm ON sm.sid = d.doc_id
         |  WHERE d.doc_id % 10 <> 0)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_corpus,
         |  CAST(SUM(CASE WHEN ngh THEN 1 ELSE 0 END) AS BIGINT) AS n_ngram,
         |  CAST(SUM(CASE WHEN smh THEN 1 ELSE 0 END) AS BIGINT) AS n_semantic,
         |  CAST(SUM(CASE WHEN ngh AND smh THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
         |  CAST(SUM(CASE WHEN ngh OR smh THEN 1 ELSE 0 END) AS BIGINT) AS n_either,
         |  CAST(SUM(CASE WHEN NOT (ngh OR smh) THEN 1 ELSE 0 END) AS BIGINT) AS n_clean
         |FROM f""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val emb = Tables.embeddings(s, d)
      val corpus = docs.filter(col("doc_id") % 10 =!= 0)
      val ngIds = Dedup.decontaminate(corpus,
          docs.filter(col("doc_id") % 10 === 0), "doc_id", "text", 3)
        .select(col("sid"), lit(true).as("ngh"))
      val smIds = Similarity.semanticDecontaminate(
          emb.filter(col("vec_id") % 10 =!= 0),
          emb.filter(col("vec_id") % 10 === 0), "vec_id", "embedding",
          minCosine = 0.45)
        .filter(col("contaminated"))
        .select(col("sid"), lit(true).as("smh"))
      corpus.select(col("doc_id").as("sid"))
        .join(broadcast(ngIds), Seq("sid"), "left")
        .join(broadcast(smIds), Seq("sid"), "left")
        .agg(count(lit(1)).as("n_corpus"),
          sum(when(coalesce(col("ngh"), lit(false)), 1L).otherwise(0L)).as("n_ngram"),
          sum(when(coalesce(col("smh"), lit(false)), 1L).otherwise(0L)).as("n_semantic"),
          sum(when(coalesce(col("ngh"), lit(false)) &&
            coalesce(col("smh"), lit(false)), 1L).otherwise(0L)).as("n_both"),
          sum(when(coalesce(col("ngh"), lit(false)) ||
            coalesce(col("smh"), lit(false)), 1L).otherwise(0L)).as("n_either"),
          sum(when(!(coalesce(col("ngh"), lit(false)) ||
            coalesce(col("smh"), lit(false))), 1L).otherwise(0L)).as("n_clean"))
    },

    // STREAMING NOVELTY INGESTION (EventStreams.noveltyIngestBatch) — the
    // ds-series contract applied to the first-holder index: batch 0
    // (doc_id % 5 = 0) is scored against the seed index then appended;
    // batch 0 is REPLAYED (the ds2/ds3 injected-retry discipline) — the
    // min-merge lattice absorbs the duplicate append and the <= serve
    // comparison returns the first run's scores; then batch 1
    // (doc_id % 5 = 1) is scored against seed+batch0. The oracle computes
    // each batch's PREFIX novelty from scratch (batch 0 vs documents
    // outside batch 1; batch 1 vs all documents), so a hash match proves
    // the replay changed nothing and the index growth is visible to the
    // next batch.
    QueryDef(
      "ds4_novelty_ingest",
      s"""WITH w0 AS (SELECT doc_id, string_split(text, ' ') AS w
         |  FROM documents WHERE doc_id % 5 <> 1),
         |sh00 AS (SELECT DISTINCT doc_id AS sid,
         |    w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS gram
         |  FROM w0, unnest(generate_series(1, len(w) - 2)) AS t(i)),
         |sha AS (SELECT sid, ${sqlHash("gram", 12)} AS g FROM sh00),
         |pera AS (SELECT sid, COUNT(*) AS n_grams FROM sha GROUP BY sid),
         |nova AS (SELECT sid, COUNT(*) AS n_novel FROM
         |  (SELECT g, MIN(sid) AS sid FROM sha GROUP BY g) GROUP BY sid),
         |w1 AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |sh10 AS (SELECT DISTINCT doc_id AS sid,
         |    w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS gram
         |  FROM w1, unnest(generate_series(1, len(w) - 2)) AS t(i)),
         |shb AS (SELECT sid, ${sqlHash("gram", 12)} AS g FROM sh10),
         |perb AS (SELECT sid, COUNT(*) AS n_grams FROM shb GROUP BY sid),
         |novb AS (SELECT sid, COUNT(*) AS n_novel FROM
         |  (SELECT g, MIN(sid) AS sid FROM shb GROUP BY g) GROUP BY sid)
         |SELECT * FROM (
         |SELECT d.doc_id AS sid,
         |  coalesce(pera.n_grams, 0) AS n_grams,
         |  coalesce(nova.n_novel, 0) AS n_novel,
         |  CASE WHEN coalesce(pera.n_grams, 0) > 0
         |    THEN CAST(coalesce(nova.n_novel, 0) AS DOUBLE) / coalesce(pera.n_grams, 0)
         |    END AS novelty,
         |  CAST(0 AS BIGINT) AS ingest_batch
         |FROM documents d LEFT JOIN pera ON d.doc_id = pera.sid
         |  LEFT JOIN nova ON d.doc_id = nova.sid
         |WHERE d.doc_id % 5 = 0
         |UNION ALL
         |SELECT d.doc_id AS sid,
         |  coalesce(perb.n_grams, 0) AS n_grams,
         |  coalesce(novb.n_novel, 0) AS n_novel,
         |  CASE WHEN coalesce(perb.n_grams, 0) > 0
         |    THEN CAST(coalesce(novb.n_novel, 0) AS DOUBLE) / coalesce(perb.n_grams, 0)
         |    END AS novelty,
         |  CAST(1 AS BIGINT) AS ingest_batch
         |FROM documents d LEFT JOIN perb ON d.doc_id = perb.sid
         |  LEFT JOIN novb ON d.doc_id = novb.sid
         |WHERE d.doc_id % 5 = 1)
         |ORDER BY sid""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val seed = docs.filter(col("doc_id") % 5 =!= 0 && col("doc_id") % 5 =!= 1)
      val b0 = docs.filter(col("doc_id") % 5 === 0)
      val b1 = docs.filter(col("doc_id") % 5 === 1)
      val app = s.sparkContext.applicationId.replaceAll("[^a-zA-Z0-9]", "_")
      val table = "graft_novelty_ds4_" + app
      val out = s.conf.get("spark.sql.warehouse.dir")
        .stripPrefix("file:") + "/graft_novelty_ds4_scores_" + app
      graft.sources.Bucketing.ensureCleanTable(s, table)
      Dedup.writeNoveltyIndex(seed, "doc_id", "text", 3, table, 8)
      import graft.streaming.EventStreams.noveltyIngestBatch
      noveltyIngestBatch(b0, 0L, table, 8, out, "doc_id", "text", 3)
      // injected retry: replay batch 0 after its append already landed
      graft.core.Timing.overhead {
        noveltyIngestBatch(b0, 0L, table, 8, out, "doc_id", "text", 3)
      }
      noveltyIngestBatch(b1, 1L, table, 8, out, "doc_id", "text", 3)
      s.read.parquet(out)
        .select(col("sid"), col("n_grams"), col("n_novel"), col("novelty"),
          col("ingest_batch").cast("long").as("ingest_batch"))
        .orderBy(col("sid"))
    },

    // STREAMING QUALITY GATE (EventStreams.qualityGateBatch): the t22
    // classifier trained ONCE on the seed slice (doc_id % 5 not in {0,1}),
    // frozen, then serving batches 0 and 1 with partition-replace writes;
    // batch 0 is REPLAYED (the injected-retry discipline) — read-only
    // model state makes the rewrite bit-identical. The model is DENSE
    // (trainQualityModel emits all 256 buckets), so batch tokens hashing
    // to buckets unseen in training score the fully-smoothed weight —
    // which the oracle's dense bucket table reproduces exactly.
    QueryDef(
      "ds5_quality_gate",
      s"""WITH RECURSIVE $pow2Cte,
         |seed AS (SELECT doc_id, source IN ('src0','src1','src2','src3') AS is_p,
         |    text FROM documents WHERE doc_id % 5 NOT IN (0, 1)),
         |sf AS (SELECT doc_id, is_p, ${sqlHash("feat", 12)} % 256 AS b
         |  FROM (SELECT doc_id, is_p, unnest(string_split(text, ' ')) AS feat
         |        FROM seed)
         |  WHERE len(feat) > 0),
         |bc AS (SELECT b,
         |    CAST(SUM(CASE WHEN is_p THEN 1 ELSE 0 END) AS BIGINT) AS pc,
         |    CAST(SUM(CASE WHEN is_p THEN 0 ELSE 1 END) AS BIGINT) AS nc
         |  FROM sf GROUP BY b),
         |tot AS (SELECT SUM(pc) AS pn, SUM(nc) AS nn FROM bc),
         |bcd AS (SELECT g.b, coalesce(pc, 0) AS pc, coalesce(nc, 0) AS nc
         |  FROM generate_series(0, 255) g(b) LEFT JOIN bc ON bc.b = g.b),
         |win AS (SELECT b * 2 AS key, pc + 1 AS p, pn + 256 AS q
         |    FROM bcd CROSS JOIN tot
         |  UNION ALL SELECT b * 2 + 1, nc + 1, nn + 256 FROM bcd CROSS JOIN tot),
         |${sqlLog2Fp("wl", "win", "key")},
         |wm AS (SELECT key, $sqlLnMicroFromL AS micro FROM wlL),
         |wt AS (SELECT p.key // 2 AS b, p.micro - n.micro AS w_fp
         |  FROM wm p JOIN wm n ON n.key = p.key + 1 WHERE p.key % 2 = 0),
         |dt AS (SELECT 0 AS key,
         |    CAST(SUM(CASE WHEN is_p THEN 1 ELSE 0 END) + 1 AS BIGINT) AS p,
         |    CAST(SUM(CASE WHEN is_p THEN 0 ELSE 1 END) + 1 AS BIGINT) AS q
         |  FROM (SELECT DISTINCT doc_id, is_p FROM seed)),
         |${sqlLog2Fp("pr", "dt", "key")},
         |prior AS (SELECT $sqlLnMicroFromL AS prior_fp FROM prL),
         |bf AS (SELECT doc_id, ${sqlHash("feat", 12)} % 256 AS b
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS feat
         |        FROM documents WHERE doc_id % 5 IN (0, 1))
         |  WHERE len(feat) > 0),
         |cdb AS (SELECT doc_id, b, COUNT(*) AS c FROM bf GROUP BY 1, 2),
         |ll AS (SELECT doc_id, CAST(SUM(c * w_fp) AS BIGINT) AS ll_fp
         |  FROM cdb JOIN wt USING (b) GROUP BY doc_id)
         |SELECT d.doc_id, COALESCE(ll_fp, 0) + prior_fp AS score_fp,
         |  (COALESCE(ll_fp, 0) + prior_fp) > 0 AS pred,
         |  CAST(d.doc_id % 5 AS BIGINT) AS ingest_batch
         |FROM documents d CROSS JOIN prior LEFT JOIN ll USING (doc_id)
         |WHERE d.doc_id % 5 IN (0, 1)
         |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val isPos = col("source").isin("src0", "src1", "src2", "src3")
      val seed = docs.filter(col("doc_id") % 5 =!= 0 && col("doc_id") % 5 =!= 1)
      val model = TextOps.trainQualityModel(seed, "doc_id", "text", isPos, 256)
        .localCheckpoint(false) // frozen: trained once, served thrice below
      val b0 = docs.filter(col("doc_id") % 5 === 0)
      val b1 = docs.filter(col("doc_id") % 5 === 1)
      val app = s.sparkContext.applicationId.replaceAll("[^a-zA-Z0-9]", "_")
      val out = s.conf.get("spark.sql.warehouse.dir")
        .stripPrefix("file:") + "/graft_quality_ds5_scores_" + app
      import graft.streaming.EventStreams.qualityGateBatch
      qualityGateBatch(b0, 0L, model, out, "doc_id", "text", 256)
      // injected retry: replay batch 0 over its already-written partition
      graft.core.Timing.overhead {
        qualityGateBatch(b0, 0L, model, out, "doc_id", "text", 256)
      }
      qualityGateBatch(b1, 1L, model, out, "doc_id", "text", 256)
      s.read.parquet(out)
        .select(col("did").as("doc_id"), col("score_fp"), col("pred"),
          col("ingest_batch").cast("long").as("ingest_batch"))
        .orderBy(col("doc_id"))
    },

    // MODEL-REFRESH lifecycle (EventStreams.qualityRetrainBatch /
    // qualityServeVersioned) — the retrain path ds5's frozen gate lacks:
    // model v0 trains on the seed slice and serves batch 0; the REFRESH
    // retrains v1 on seed + committed batch 0 and serves batch 1. Models
    // live in a store partitioned by model_version (partition-replace
    // writes, partition-pruned serve reads); BOTH the v1 retrain and the
    // batch-1 serve are REPLAYED (injected retry) — storage-derived
    // training input + integer-deterministic training make each rewrite
    // bit-identical. The score log records which version served which
    // batch. Oracle: the same dense model arithmetic twice, tag-prefixed.
    QueryDef(
      "ds9_model_refresh",
      s"""WITH RECURSIVE $pow2Cte,
         |${qualityModelCtes("a", "doc_id % 5 NOT IN (0, 1)")},
         |${qualityModelCtes("b", "doc_id % 5 <> 1")},
         |bf0 AS (SELECT doc_id, ${sqlHash("feat", 12)} % 256 AS b
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS feat
         |        FROM documents WHERE doc_id % 5 = 0)
         |  WHERE len(feat) > 0),
         |cdb0 AS (SELECT doc_id, b, COUNT(*) AS c FROM bf0 GROUP BY 1, 2),
         |ll0 AS (SELECT doc_id, CAST(SUM(c * w_fp) AS BIGINT) AS ll_fp
         |  FROM cdb0 JOIN awt USING (b) GROUP BY doc_id),
         |bf1 AS (SELECT doc_id, ${sqlHash("feat", 12)} % 256 AS b
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS feat
         |        FROM documents WHERE doc_id % 5 = 1)
         |  WHERE len(feat) > 0),
         |cdb1 AS (SELECT doc_id, b, COUNT(*) AS c FROM bf1 GROUP BY 1, 2),
         |ll1 AS (SELECT doc_id, CAST(SUM(c * w_fp) AS BIGINT) AS ll_fp
         |  FROM cdb1 JOIN bwt USING (b) GROUP BY doc_id)
         |SELECT * FROM (
         |SELECT d.doc_id, COALESCE(ll_fp, 0) + prior_fp AS score_fp,
         |  (COALESCE(ll_fp, 0) + prior_fp) > 0 AS pred,
         |  CAST(0 AS BIGINT) AS ingest_batch, CAST(0 AS BIGINT) AS model_version
         |FROM documents d CROSS JOIN aprior LEFT JOIN ll0 USING (doc_id)
         |WHERE d.doc_id % 5 = 0
         |UNION ALL
         |SELECT d.doc_id, COALESCE(ll_fp, 0) + prior_fp AS score_fp,
         |  (COALESCE(ll_fp, 0) + prior_fp) > 0 AS pred,
         |  CAST(1 AS BIGINT) AS ingest_batch, CAST(1 AS BIGINT) AS model_version
         |FROM documents d CROSS JOIN bprior LEFT JOIN ll1 USING (doc_id)
         |WHERE d.doc_id % 5 = 1)
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val isPos = col("source").isin("src0", "src1", "src2", "src3")
      val seed = docs.filter(col("doc_id") % 5 =!= 0 && col("doc_id") % 5 =!= 1)
      val b0 = docs.filter(col("doc_id") % 5 === 0)
      val b1 = docs.filter(col("doc_id") % 5 === 1)
      val app = s.sparkContext.applicationId.replaceAll("[^a-zA-Z0-9]", "_")
      val base = s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
      val modelPath = base + "/graft_quality_ds9_models_" + app
      val out = base + "/graft_quality_ds9_scores_" + app
      import graft.streaming.EventStreams.{qualityRetrainBatch, qualityServeVersioned}
      qualityRetrainBatch(seed, 0L, isPos, modelPath, "doc_id", "text", 256)
      qualityServeVersioned(b0, 0L, modelPath, 0L, out, "doc_id", "text", 256)
      // REFRESH: v1 trains on curated seed + committed batch 0
      qualityRetrainBatch(seed.unionByName(b0), 1L, isPos, modelPath,
        "doc_id", "text", 256)
      // injected retry: replay the refresh after its write already landed
      graft.core.Timing.overhead {
        qualityRetrainBatch(seed.unionByName(b0), 1L, isPos, modelPath,
          "doc_id", "text", 256)
      }
      qualityServeVersioned(b1, 1L, modelPath, 1L, out, "doc_id", "text", 256)
      // injected retry on the serve too
      graft.core.Timing.overhead {
        qualityServeVersioned(b1, 1L, modelPath, 1L, out, "doc_id", "text",
          256)
      }
      s.read.parquet(out)
        .select(col("did").as("doc_id"), col("score_fp"), col("pred"),
          col("ingest_batch").cast("long").as("ingest_batch"),
          col("model_version").cast("long").as("model_version"))
        .orderBy(col("doc_id"))
    },

    // EXACTLY-ONCE persisted FUNNEL ingestion (EventStreams.
    // funnelIngestBatch — the ds-series contract on per-user funnel
    // state): two event-time-split micro-batches advance the chains via
    // Funnel.advance (expression tree SHARED with w11) from the committed
    // prior and land by partition-replace on ingest_batch; batch 1 is
    // REPLAYED (injected retry) — identical rows rewrite their own
    // partition. Serve = latest committed row per user; the oracle is
    // w11's per-user chain over ALL events, so the hash match proves the
    // storage round-trip, the prior resume AND the retry changed nothing.
    QueryDef(
      "ds10_funnel_ingest",
      """WITH u1 AS (SELECT user_id, ts, event_type,
        |    MIN(CASE WHEN event_type = 'view' THEN ts END)
        |      OVER (PARTITION BY user_id) AS t0
        |  FROM events),
        |u2 AS (SELECT *, MIN(CASE WHEN event_type = 'click' AND ts > t0
        |      THEN ts END) OVER (PARTITION BY user_id) AS t1 FROM u1),
        |u3 AS (SELECT *, MIN(CASE WHEN event_type = 'purchase' AND ts > t1
        |      THEN ts END) OVER (PARTITION BY user_id) AS t2 FROM u2),
        |per AS (SELECT user_id, MIN(t0) AS t0, MIN(t1) AS t1, MIN(t2) AS t2
        |  FROM u3 GROUP BY user_id)
        |SELECT user_id, t0, t1, t2,
        |  CAST((CASE WHEN t0 IS NOT NULL THEN 1 ELSE 0 END)
        |     + (CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END)
        |     + (CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS steps_reached
        |FROM per ORDER BY user_id""".stripMargin) { (s, d) =>
      import graft.streaming.EventStreams
      val ev = Tables.events(s, d)
      val app = s.sparkContext.applicationId.replaceAll("[^a-zA-Z0-9]", "_")
      val path = s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:") +
        "/graft_funnel_ds10_" + app
      val steps = Seq("view", "click", "purchase")
      val cut = 1704326400000000L // 2024-01-04T00:00Z in epoch micros
      EventStreams.funnelIngestBatch(
        ev.filter(expr(s"unix_micros(ts) < $cut")), 0L, path, steps)
      EventStreams.funnelIngestBatch(
        ev.filter(expr(s"unix_micros(ts) >= $cut")), 1L, path, steps)
      // injected retry: replay batch 1 after its write already landed
      graft.core.Timing.overhead {
        EventStreams.funnelIngestBatch(
          ev.filter(expr(s"unix_micros(ts) >= $cut")), 1L, path, steps)
      }
      EventStreams.committedFunnelState(s, path, Long.MaxValue, steps)
        .select(col("user_id"), col("t0"), col("t1"), col("t2"),
          col("steps_reached"))
        .orderBy(col("user_id"))
    },

    // Temperature-flattened source mixing (Sampling.temperatureSample,
    // alpha = 0.5, target half the corpus): the sqrt weights are
    // micro-fixed-point so the weight total is an exact integer sum on both
    // engines, and membership stays the md5-bucket filter.
    QueryDef(
      "sm6_temperature_mix",
      s"""WITH counts AS (SELECT source, COUNT(*) AS n_s,
         |    CAST(round(sqrt(CAST(COUNT(*) AS DOUBLE)) * 1e6) AS BIGINT) AS w_fp
         |  FROM documents GROUP BY source),
         |tot AS (SELECT SUM(n_s) AS n_tot, SUM(w_fp) AS w_tot FROM counts),
         |rates AS (SELECT source,
         |    least(1.0, 0.5 * CAST(n_tot AS DOUBLE) * CAST(w_fp AS DOUBLE) /
         |      (CAST(w_tot AS DOUBLE) * CAST(n_s AS DOUBLE))) AS rate
         |  FROM counts CROSS JOIN tot)
         |SELECT doc_id, d.source FROM documents d JOIN rates r ON d.source = r.source
         |WHERE ${sqlHash("'tm:' || doc_id", 8)} < CAST(floor(rate * 4294967296) AS BIGINT)
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      graft.operators.Sampling.temperatureSample(
        Tables.documents(s, d), "doc_id", "source", 0.5, "tm")
        .select(col("doc_id"), col("source")).orderBy(col("doc_id"))
    },

    // Exact-k-per-stratum sample (Sampling.exactKPerStratum): 20 docs per
    // language by deterministic hash rank — balanced eval-set construction
    // where rate-based strata can't promise exact counts.
    QueryDef(
      "sm8_exact_k_per_stratum",
      s"""SELECT doc_id, lang FROM (
         |  SELECT doc_id, lang, ROW_NUMBER() OVER (PARTITION BY lang
         |      ORDER BY ${sqlHash("'ek:' || doc_id", 8)}, doc_id) AS rn
         |  FROM documents) WHERE rn <= 20
         |ORDER BY lang, doc_id""".stripMargin) { (s, d) =>
      graft.operators.Sampling.exactKPerStratum(
          Tables.documents(s, d), "doc_id", "lang", 20, "ek")
        .select(col("doc_id"), col("lang"))
        .orderBy(col("lang"), col("doc_id"))
    },

    // Cluster-balanced CORESET (Sampling.coresetPerCluster): spherical-
    // kmeans the embeddings (s4's exact-integer machinery, 2 rounds), then
    // keep each cluster's 10 most central members — diversity-aware
    // subsampling where every embedding-space mode contributes its best
    // exemplars regardless of cluster mass. Oracle = s4's two-round CTE
    // chain + a per-cluster centrality rank (NULLS LAST pins zero-norm
    // vectors behind every real cosine, matching desc_nulls_last).
    QueryDef(
      "sm10_coreset_per_cluster",
      s"""WITH $quantVecCte,
         |c0 AS (SELECT sid AS cid, qv AS cv FROM v ORDER BY sid LIMIT 8),
         |a1 AS (SELECT sid, qv, cid FROM (
         |  SELECT v.sid, v.qv, c.cid,
         |    ROW_NUMBER() OVER (PARTITION BY v.sid
         |      ORDER BY ${sqlCosine("v.qv", "c.cv")} DESC, c.cid) AS rn
         |  FROM v CROSS JOIN c0 c) WHERE rn = 1),
         |c1 AS (SELECT cid, list(sx ORDER BY pos) AS cv FROM (
         |  SELECT cid, pos, SUM(qv[pos]) AS sx
         |  FROM a1, unnest(generate_series(1, 64)) AS t(pos)
         |  GROUP BY cid, pos) GROUP BY cid),
         |asg AS (SELECT sid, cid, cosine FROM (
         |  SELECT v.sid, c.cid, ${sqlCosine("v.qv", "c.cv")} AS cosine,
         |    ROW_NUMBER() OVER (PARTITION BY v.sid
         |      ORDER BY ${sqlCosine("v.qv", "c.cv")} DESC, c.cid) AS rn
         |  FROM v CROSS JOIN c1 c) WHERE rn = 1)
         |SELECT sid, cid, cosine, rank FROM (
         |  SELECT sid, cid, cosine,
         |    ROW_NUMBER() OVER (PARTITION BY cid
         |      ORDER BY cosine DESC NULLS LAST, sid) AS rank
         |  FROM asg) WHERE rank <= 10
         |ORDER BY cid, rank""".stripMargin) { (s, d) =>
      graft.operators.Sampling.coresetPerCluster(
          Tables.embeddings(s, d), "vec_id", "embedding",
          nClusters = 8, rounds = 2, k = 10)
        .select(col("sid"), col("cid"), col("cosine"), col("rank"))
        .orderBy(col("cid"), col("rank"))
    },

    // DSIR importance resampling (Sampling.importanceResample, VERDICT r8
    // ask #3): hashed unigram+bigram features -> 64-bucket target ('en'
    // slice) vs raw bag models -> per-doc log importance weight in integer
    // micro-nats (the t12 fixed-point discipline, so summation is
    // order-free) -> derandomized Gumbel top-k (md5-derived noise).
    // The oracle replays every step: hashes, integer counts, micro-nat
    // rounding, Gumbel keys, and the top-200 selection.
    // Every ln below runs through the sqlLog2Fp integer twin of
    // graft.plans.LnFp — NO float ln anywhere in this oracle. Round 10's
    // gate showed why: one bucket's round(ln-ratio * 1e6) sat 1.7e-4 from
    // its boundary and a host DuckDB's libm flipped it against the JVM.
    // The lr relation stacks both smoothed ratios per bucket (side t/r);
    // the Gumbel chains two lnFp passes (inner -ln u carried in Q40 nats as
    // 33*ln2Q40 - lnQ40(2h+1), outer over the exact rational v/2^40).
    // The hashed output is 100% INTEGER (doc_id, logw_fp, key_fp): round 11
    // showed the last float display column round(logw_fp/1e6, 6) could
    // still flip across DuckDB builds, so it is dropped from the contract
    // (logw in nats is derivable as logw_fp / 1e6 by any consumer).
    QueryDef(
      "sm9_importance_resample",
      s"""WITH RECURSIVE $pow2Cte,
         |w AS (SELECT doc_id, lang, string_split(text, ' ') AS w
         |  FROM documents),
         |uni AS (SELECT doc_id, lang, unnest(w) AS feat FROM w),
         |bi AS (SELECT doc_id, lang, w[i] || ' ' || w[i+1] AS feat
         |  FROM w, unnest(generate_series(1, len(w) - 1)) AS t(i)
         |  WHERE len(w) >= 2),
         |f AS (SELECT doc_id, lang, ${sqlHash("feat", 12)} % 64 AS b
         |  FROM (SELECT * FROM uni WHERE len(feat) > 0
         |        UNION ALL SELECT * FROM bi)),
         |cdb AS (SELECT doc_id, b, COUNT(*) AS c FROM f GROUP BY 1, 2),
         |bc AS (SELECT b, COUNT(*) AS rc,
         |    CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS tc
         |  FROM f GROUP BY b),
         |tot AS (SELECT SUM(rc) AS rn, SUM(tc) AS tn FROM bc),
         |lrin AS (SELECT b * 2 AS key, tc + 1 AS p, tn + 64 AS q FROM bc CROSS JOIN tot
         |  UNION ALL SELECT b * 2 + 1, rc + 1, rn + 64 FROM bc CROSS JOIN tot),
         |${sqlLog2Fp("lf", "lrin", "key")},
         |lrm AS (SELECT key, $sqlLnMicroFromL AS micro FROM lfL),
         |lr AS (SELECT t.key // 2 AS b, t.micro - r.micro AS lr_fp
         |  FROM lrm t JOIN lrm r ON r.key = t.key + 1 WHERE t.key % 2 = 0),
         |logw AS (SELECT doc_id, CAST(SUM(c * lr_fp) AS BIGINT) AS logw_fp
         |  FROM cdb JOIN lr USING (b) GROUP BY doc_id),
         |allv AS (SELECT d.doc_id, COALESCE(logw_fp, 0) AS logw_fp
         |  FROM documents d LEFT JOIN logw USING (doc_id)),
         |g0 AS (SELECT doc_id AS key,
         |    2 * ${sqlHash("'ir:' || doc_id", 8)} + 1 AS p, CAST(1 AS BIGINT) AS q
         |  FROM allv),
         |${sqlLog2Fp("g1", "g0", "key")},
         |gv AS (SELECT key, 33 * 762123384786 - $sqlLnQ40FromL AS p,
         |    CAST(1099511627776 AS BIGINT) AS q
         |  FROM g1L),
         |${sqlLog2Fp("g2", "gv", "key")},
         |gum AS (SELECT key AS doc_id, -$sqlLnMicroFromL AS gumbel_fp FROM g2L),
         |keyed AS (SELECT doc_id, logw_fp, logw_fp + gumbel_fp AS key_fp
         |  FROM allv JOIN gum USING (doc_id))
         |SELECT doc_id, logw_fp, key_fp
         |FROM keyed ORDER BY key_fp DESC, doc_id LIMIT 200""".stripMargin) { (s, d) =>
      graft.operators.Sampling.importanceResample(
          Tables.documents(s, d), "doc_id", "text",
          isTarget = col("lang") === "en", nBuckets = 64, k = 200, salt = "ir")
        .withColumnRenamed("did", "doc_id")
        .orderBy(col("key_fp").desc, col("doc_id"))
    },

    // Weighted exact-k per stratum (Sampling.weightedKPerStratum):
    // Efraimidis–Spirakis without replacement via derandomized Gumbel-max
    // keys — per-lang top-20 by ln(n_chars) + Gumbel, every ln through the
    // sqlLog2Fp integer twin (the sm9 libm-free discipline), so sample
    // MEMBERSHIP hash-checks bit-for-bit.
    QueryDef(
      "sm11_weighted_k_per_stratum",
      s"""WITH RECURSIVE $pow2Cte,
         |base AS (SELECT lang, doc_id, n_chars AS w FROM documents
         |  WHERE n_chars >= 1),
         |lw0 AS (SELECT doc_id AS key, w AS p, CAST(1 AS BIGINT) AS q FROM base),
         |${sqlLog2Fp("lw", "lw0", "key")},
         |lnw AS (SELECT key AS doc_id, $sqlLnMicroFromL AS lw_fp FROM lwL),
         |g0 AS (SELECT doc_id AS key,
         |    2 * ${sqlHash("'ws:' || doc_id", 8)} + 1 AS p,
         |    CAST(1 AS BIGINT) AS q FROM base),
         |${sqlLog2Fp("g1", "g0", "key")},
         |gv AS (SELECT key, 33 * 762123384786 - $sqlLnQ40FromL AS p,
         |    CAST(1099511627776 AS BIGINT) AS q FROM g1L),
         |${sqlLog2Fp("g2", "gv", "key")},
         |gum AS (SELECT key AS doc_id, -$sqlLnMicroFromL AS gumbel_fp FROM g2L),
         |keyed AS (SELECT b.lang AS stratum, b.doc_id AS did, b.w,
         |    lw_fp + gumbel_fp AS key_fp
         |  FROM base b JOIN lnw USING (doc_id) JOIN gum USING (doc_id)),
         |r AS (SELECT stratum, did, w, key_fp,
         |    ROW_NUMBER() OVER (PARTITION BY stratum
         |      ORDER BY key_fp DESC, did) AS rank FROM keyed)
         |SELECT stratum, did, w, key_fp, CAST(rank AS BIGINT) AS rank
         |FROM r WHERE rank <= 20 ORDER BY stratum, rank""".stripMargin) { (s, d) =>
      graft.operators.Sampling.weightedKPerStratum(
        Tables.documents(s, d), "doc_id", "lang", "n_chars", k = 20, salt = "ws")
        .orderBy(col("stratum"), col("rank"))
    },

    // Curriculum training order (Sampling.curriculumOrder): clean docs
    // first — stage 0 = quality >= 0.7, 1 = >= 0.6, else 2 — md5-shuffled
    // within each stage, pos contiguous across stages (the curriculum-
    // learning data layout). The quality staging reuses the t2 expression
    // verbatim; the oracle is the naive global ROW_NUMBER the two-level
    // rank decomposes.
    QueryDef(
      "sm14_curriculum_order",
      s"""WITH q AS (SELECT doc_id,
         |  0.4 * least(1.0, greatest(CAST(len(string_split(text, ' ')) AS DOUBLE), 1.0) / 100.0)
         |   + 0.3 * (1.0 - CAST(len(regexp_extract_all(text, '[^a-z0-9 ]')) AS DOUBLE)
         |       / greatest(CAST(length(text) AS DOUBLE), 1.0))
         |   + 0.3 * least(1.0, 4.0 * CAST(len(list_filter(string_split(text, ' '),
         |         w -> w IN (${sqlList(TextOps.stopwords)}))) AS DOUBLE)
         |       / greatest(CAST(len(string_split(text, ' ')) AS DOUBLE), 1.0)) AS score
         |  FROM documents),
         |s AS (SELECT doc_id,
         |    CASE WHEN score >= 0.7 THEN 0 WHEN score >= 0.6 THEN 1 ELSE 2 END AS stage
         |  FROM q)
         |SELECT doc_id, CAST(stage AS BIGINT) AS stage,
         |  ROW_NUMBER() OVER (ORDER BY stage, ${sqlHash("'cur:' || doc_id", 8)}, doc_id) - 1 AS pos
         |FROM s ORDER BY pos""".stripMargin) { (s, d) =>
      val score = TextOps.qualityScore(col("text"))
      val staged = Tables.documents(s, d).select(col("doc_id"),
        when(score >= 0.7, 0L).when(score >= 0.6, 1L).otherwise(2L).as("stage"))
      graft.operators.Sampling.curriculumOrder(s, staged, "doc_id", "stage", "cur")
        .select(col("doc_id"), col("stage"), col("pos"))
        .orderBy(col("pos"))
    },

    // Exact target-proportion mixing (Sampling.mixToWeights): keep the
    // largest corpus at lang shares 5:2:1:1:1 (en:de:es:fr:zh) — all
    // integer arithmetic (T* = min floor(n*W/w), k = floor(w*T*/W)) and
    // md5-rank membership, so the kept set hash-checks bit-for-bit.
    QueryDef(
      "sm13_target_mix",
      s"""WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY 1),
         |w(lang, wt) AS (VALUES ('en', 5), ('de', 2), ('es', 1), ('fr', 1),
         |  ('zh', 1)),
         |t AS (SELECT MIN(n * 10 // wt) AS tstar FROM c JOIN w USING (lang)),
         |k AS (SELECT lang, wt * tstar // 10 AS quota FROM w CROSS JOIN t),
         |r AS (SELECT doc_id, lang,
         |    ROW_NUMBER() OVER (PARTITION BY lang
         |      ORDER BY ${sqlHash("'mx:' || doc_id", 8)}, doc_id) AS rn
         |  FROM documents)
         |SELECT lang, doc_id FROM r JOIN k USING (lang) WHERE rn <= quota
         |ORDER BY lang, doc_id""".stripMargin) { (s, d) =>
      graft.operators.Sampling.mixToWeights(Tables.documents(s, d),
          "doc_id", "lang",
          Map("en" -> 5L, "de" -> 2L, "es" -> 1L, "fr" -> 1L, "zh" -> 1L),
          salt = "mx")
        .select(col("lang"), col("doc_id"))
        .orderBy(col("lang"), col("doc_id"))
    },

    // Epoch-expansion mixing WITH replacement (Sampling.epochMix): hit the
    // stated shares even where a stratum owes MORE rows than it has — each
    // doc repeats floor(quota/n) times, the md5-rank top (quota mod n)
    // carry one extra copy, so per-stratum copy totals equal the integer
    // quotas exactly (the data-constrained epoch-factor regime,
    // Muennighoff et al. 2023). Oracle = the naive per-stratum
    // ROW_NUMBER the two-level rank decomposes.
    QueryDef(
      "sm15_epoch_mix",
      s"""WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY 1),
         |w(lang, wt) AS (VALUES ('en', 5), ('de', 2), ('es', 1), ('fr', 1),
         |  ('zh', 1)),
         |e AS (SELECT lang, (wt * 2000 // 10) // n AS epochs,
         |    (wt * 2000 // 10) % n AS rem
         |  FROM w JOIN c USING (lang)),
         |r AS (SELECT doc_id, lang,
         |    ROW_NUMBER() OVER (PARTITION BY lang
         |      ORDER BY ${sqlHash("'em:' || doc_id", 8)}, doc_id) AS rn
         |  FROM documents)
         |SELECT lang, doc_id,
         |  CAST(epochs + CASE WHEN rn <= rem THEN 1 ELSE 0 END AS BIGINT)
         |    AS n_copies
         |FROM r JOIN e USING (lang)
         |WHERE epochs + CASE WHEN rn <= rem THEN 1 ELSE 0 END >= 1
         |ORDER BY lang, doc_id""".stripMargin) { (s, d) =>
      graft.operators.Sampling.epochMix(Tables.documents(s, d),
          "doc_id", "lang",
          Map("en" -> 5L, "de" -> 2L, "es" -> 1L, "fr" -> 1L, "zh" -> 1L),
          totalRows = 2000L, salt = "em")
        .select(col("lang"), col("doc_id"), col("n_copies"))
        .orderBy(col("lang"), col("doc_id"))
    },

    // Epoch-expanded shard export (Sampling.expandCopies + the sh1
    // writers): sm15's copy counts become physical — one row per COPY with
    // a unique copy key, shuffle-ordered on that key so a doc's repeats
    // spread across the permutation, landed as 64-doc shards, manifest
    // computed from the LANDED files. The oracle replays the mix, the
    // fan-out, the copy-key permutation, shard tiling and the per-shard
    // fingerprint sums.
    QueryDef(
      "sh2_epoch_shards",
      s"""WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY 1),
         |w(lang, wt) AS (VALUES ('en', 5), ('de', 2), ('es', 1), ('fr', 1),
         |  ('zh', 1)),
         |e AS (SELECT lang, (wt * 2000 // 10) // n AS epochs,
         |    (wt * 2000 // 10) % n AS rem
         |  FROM w JOIN c USING (lang)),
         |r AS (SELECT doc_id, lang, n_chars,
         |    ROW_NUMBER() OVER (PARTITION BY lang
         |      ORDER BY ${sqlHash("'em:' || doc_id", 8)}, doc_id) AS rn
         |  FROM documents),
         |m AS (SELECT doc_id, n_chars,
         |    epochs + CASE WHEN rn <= rem THEN 1 ELSE 0 END AS n_copies
         |  FROM r JOIN e USING (lang)
         |  WHERE epochs + CASE WHEN rn <= rem THEN 1 ELSE 0 END >= 1),
         |x AS (SELECT n_chars,
         |    CAST(doc_id AS VARCHAR) || '#' || CAST(copy AS VARCHAR) AS ck
         |  FROM m, unnest(generate_series(1, n_copies)) t(copy)),
         |p AS (SELECT n_chars, ck, (ROW_NUMBER() OVER (
         |    ORDER BY ${sqlHash("'sh2:' || ck", 8)}, ck) - 1) // 64 AS shard
         |  FROM x)
         |SELECT shard, COUNT(*) AS n_docs,
         |  CAST(SUM(n_chars) AS BIGINT) AS n_tokens,
         |  CAST(SUM(${sqlHash("ck", 12)}) AS BIGINT) AS id_fp
         |FROM p GROUP BY shard ORDER BY shard""".stripMargin) { (s, d) =>
      val app = s.sparkContext.applicationId.replaceAll("[^a-zA-Z0-9]", "_")
      val path = s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:") +
        "/graft_shards_sh2_" + app
      val mix = graft.operators.Sampling.epochMix(Tables.documents(s, d),
        "doc_id", "lang",
        Map("en" -> 5L, "de" -> 2L, "es" -> 1L, "fr" -> 1L, "zh" -> 1L),
        totalRows = 2000L, salt = "em")
      val expanded = graft.operators.Sampling.expandCopies(mix, "doc_id")
      graft.operators.Sampling.writeTrainingShards(expanded, "copy_key",
        "sh2", docsPerShard = 64L, path)
      graft.operators.Sampling.shardManifest(s, path, "copy_key", "n_chars")
        .orderBy(col("shard"))
    },

    // Token-budget selection per source (Sampling.tokenBudgetPerKey):
    // keep each source's best-quality docs until 800 tokens, the crossing
    // doc kept — the "best N tokens per domain" mixture-curation step.
    // Ordering uses the t2 quality expression verbatim (fixed IEEE tree),
    // so kept membership and running totals hash-check.
    QueryDef(
      "sm12_token_budget",
      s"""WITH q AS (SELECT doc_id, source,
         |  len(string_split(text, ' ')) AS n_tokens,
         |  0.4 * least(1.0, greatest(CAST(len(string_split(text, ' ')) AS DOUBLE), 1.0) / 100.0)
         |   + 0.3 * (1.0 - CAST(len(regexp_extract_all(text, '[^a-z0-9 ]')) AS DOUBLE)
         |       / greatest(CAST(length(text) AS DOUBLE), 1.0))
         |   + 0.3 * least(1.0, 4.0 * CAST(len(list_filter(string_split(text, ' '),
         |         w -> w IN (${sqlList(TextOps.stopwords)}))) AS DOUBLE)
         |       / greatest(CAST(len(string_split(text, ' ')) AS DOUBLE), 1.0)) AS score
         |  FROM documents),
         |r AS (SELECT source, doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
         |    SUM(n_tokens) OVER (PARTITION BY source ORDER BY score DESC, doc_id
         |      ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM q)
         |SELECT source, doc_id, n_tokens, CAST(cum AS BIGINT) AS cum_tokens
         |FROM r WHERE cum - n_tokens < 800
         |ORDER BY source, cum_tokens""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        TextOps.qualityScore(col("text")).as("score"))
      graft.operators.Sampling.tokenBudgetPerKey(docs, "source", "doc_id",
          "n_tokens", "score", budgetTokens = 800L)
        .select(col("source"), col("doc_id"), col("n_tokens"), col("cum_tokens"))
        .orderBy(col("source"), col("cum_tokens"))
    },

    // Deterministic global shuffle order (Sampling.shuffleOrder): the
    // reproducible pre-training corpus shuffle — pos is a contiguous 0-based
    // rank by (md5 bucket, id), derived with the two-level prefix pattern
    // instead of a single-task global window. The oracle is the naive
    // global ROW_NUMBER the operator decomposes.
    QueryDef(
      "sm7_shuffle_order",
      s"""SELECT doc_id, ROW_NUMBER() OVER (
         |    ORDER BY ${sqlHash("'ep0:' || doc_id", 8)}, doc_id) - 1 AS pos
         |FROM documents ORDER BY pos""".stripMargin) { (s, d) =>
      graft.operators.Sampling.shuffleOrder(s, Tables.documents(s, d), "doc_id", "ep0")
        .select(col("doc_id"), col("pos")).orderBy(col("pos"))
    },

    // Training-shard export + manifest (Sampling.writeTrainingShards /
    // shardManifest): the corpus lands in sm7's deterministic epoch
    // permutation cut into 64-doc shards (partitioned writes — each shard
    // independently replaceable and streamable); the manifest is computed
    // from the LANDED files: per-shard doc count, n_chars budget and an
    // order-insensitive sum-of-hash48 id fingerprint. Oracle re-derives
    // the permutation from the salt and aggregates the same integers.
    QueryDef(
      "sh1_training_shards",
      s"""WITH p AS (SELECT doc_id, n_chars, (ROW_NUMBER() OVER (
         |    ORDER BY ${sqlHash("'sh1:' || doc_id", 8)}, doc_id) - 1) // 64
         |    AS shard
         |  FROM documents)
         |SELECT shard, COUNT(*) AS n_docs,
         |  CAST(SUM(n_chars) AS BIGINT) AS n_tokens,
         |  CAST(SUM(${sqlHash("CAST(doc_id AS VARCHAR)", 12)}) AS BIGINT) AS id_fp
         |FROM p GROUP BY shard ORDER BY shard""".stripMargin) { (s, d) =>
      val app = s.sparkContext.applicationId.replaceAll("[^a-zA-Z0-9]", "_")
      val path = s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:") +
        "/graft_shards_sh1_" + app
      graft.operators.Sampling.writeTrainingShards(
        Tables.documents(s, d), "doc_id", "sh1", docsPerShard = 64L, path)
      graft.operators.Sampling.shardManifest(s, path, "doc_id", "n_chars")
        .orderBy(col("shard"))
    },

    // Canonical-document selection per near-dup cluster: connected
    // components over verified LSH pairs (the d9 machinery), then ONE
    // survivor per component by quality score (rounded 6dp, doc_id
    // tiebreak) — "dedup, keep the best copy", the last stage of a real
    // dedup pipeline (d10 keeps min-id; this keeps max-quality).
    QueryDef(
      "d16_canonical_best",
      s"""WITH RECURSIVE $shingleCtes,
         |$sigSelect,
         |$bandsCte,
         |$candidatesCte,
         |inter AS (SELECT ida, idb, COUNT(*) AS n_inter
         |  FROM cand JOIN sh a ON ida = a.sid JOIN sh b ON idb = b.sid AND a.g = b.g
         |  GROUP BY ida, idb),
         |pairs AS (SELECT ida, idb FROM (
         |  SELECT ida, idb,
         |    CAST(n_inter AS DOUBLE) / (sa.nsh + sb.nsh - n_inter) AS jaccard
         |  FROM inter JOIN sizes sa ON ida = sa.sid JOIN sizes sb ON idb = sb.sid
         |) WHERE jaccard >= 0.5),
         |bidir(a, b) AS (SELECT ida, idb FROM pairs UNION SELECT idb, ida FROM pairs),
         |nodes(x) AS (SELECT DISTINCT a FROM bidir),
         |r(x, y) AS (SELECT x, x FROM nodes
         |  UNION SELECT r.x, e.b FROM r JOIN bidir e ON e.a = r.y),
         |comp AS (SELECT x AS sid, min(y) AS component FROM r GROUP BY x),
         |scored AS (SELECT doc_id,
         |    round(0.4 * least(1.0, n_words / 100.0) + 0.3 * (1.0 - punct_ct / n_chars)
         |      + 0.3 * least(1.0, 4.0 * stop_ct / n_words), 6) AS quality
         |  FROM (SELECT doc_id,
         |    greatest(CAST(len(string_split(text, ' ')) AS DOUBLE), 1.0) AS n_words,
         |    greatest(CAST(length(text) AS DOUBLE), 1.0) AS n_chars,
         |    CAST(len(regexp_extract_all(text, '[^a-z0-9 ]')) AS DOUBLE) AS punct_ct,
         |    CAST(len(list_filter(string_split(text, ' '),
         |      w -> w IN (${sqlList(TextOps.stopwords)}))) AS DOUBLE) AS stop_ct
         |  FROM documents)),
         |labeled AS (SELECT d.doc_id, coalesce(comp.component, d.doc_id) AS component,
         |    s.quality
         |  FROM documents d LEFT JOIN comp ON d.doc_id = comp.sid
         |  JOIN scored s ON d.doc_id = s.doc_id)
         |SELECT doc_id, component, quality FROM (
         |  SELECT doc_id, component, quality,
         |    ROW_NUMBER() OVER (PARTITION BY component
         |      ORDER BY quality DESC, doc_id ASC) AS rn
         |  FROM labeled) WHERE rn = 1
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
      val comp = graft.core.Storage.freeingIntermediates(s) {
        Dedup.connectedComponents(
          Dedup.minhashVerifiedPairs(docs, "doc_id", "text", 3, 0.5))
      }
      val labeled = docs
        .select(col("doc_id"), round(TextOps.qualityScore(col("text")), 6).as("quality"))
        .join(comp, col("doc_id") === col("sid"), "left")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("component"), col("quality"))
      val w = Window.partitionBy(col("component"))
        .orderBy(col("quality").desc, col("doc_id").asc)
      labeled.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("doc_id"), col("component"), col("quality"))
        .orderBy(col("doc_id"))
    },

    // SQ8 scalar-quantized kNN (Similarity.sq8TopK): per-dim [lo,hi]
    // codebook -> 0..255 codes -> exact integer squared-L2 via the native
    // dot kernel. The oracle rebuilds codebook + codes relationally and
    // sums (qa-ca)^2 over positions — full hash-check of the quantized
    // path, including the round-to-code boundary behavior.
    QueryDef(
      "s7_sq8_knn",
      """WITH e AS (SELECT vec_id AS sid, unnest(embedding) AS x,
        |    unnest(generate_series(1, len(embedding))) AS pos
        |  FROM embeddings),
        |mm AS (SELECT pos, min(CAST(x AS DOUBLE)) AS lo, max(CAST(x AS DOUBLE)) AS hi
        |  FROM e GROUP BY pos),
        |c AS (SELECT sid, e.pos,
        |    CAST(round(coalesce((CAST(x AS DOUBLE) - lo) * 255.0 / nullif(hi - lo, 0.0),
        |      0.0)) AS BIGINT) AS code
        |  FROM e JOIN mm ON e.pos = mm.pos),
        |q AS (SELECT * FROM c WHERE sid < 8),
        |d AS (SELECT q.sid AS qid, c.sid AS nid,
        |    CAST(SUM((q.code - c.code) * (q.code - c.code)) AS BIGINT) AS d2
        |  FROM c JOIN q ON c.pos = q.pos AND c.sid <> q.sid GROUP BY 1, 2)
        |SELECT qid, nid, d2, rank FROM (
        |  SELECT qid, nid, d2,
        |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d2 ASC, nid ASC) AS rank
        |  FROM d) WHERE rank <= 5 ORDER BY qid, rank""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      Similarity.sq8TopK(emb.filter(col("vec_id") < 8), emb, "vec_id", "embedding", 5)
        .select(col("qid"), col("nid"), col("d2"), col("rank"))
        .orderBy(col("qid"), col("rank"))
    },

    // C4-style duplicate-span removal (Dedup.dedupSpans): one surviving
    // copy of every 40-char span corpus-wide, documents rebuilt from their
    // surviving spans (md5-compared). 171 spans across 33 docs are repeats
    // in the sf0.01 fixtures, so the query discriminates.
    QueryDef(
      "d17_dedup_spans",
      """WITH chunks AS (SELECT doc_id, i AS cs,
        |    substr(text, CAST(i AS INT), 40) AS c
        |  FROM documents,
        |    unnest(generate_series(1, greatest(length(text), 1), 40)) AS t(i)),
        |kept AS (SELECT doc_id, cs, c FROM (SELECT doc_id, cs, c,
        |    ROW_NUMBER() OVER (PARTITION BY md5(c) ORDER BY doc_id, cs) AS rn
        |  FROM chunks) WHERE rn = 1)
        |SELECT doc_id, COUNT(*) AS n_spans,
        |  md5(string_agg(c, '' ORDER BY cs)) AS text_md5
        |FROM kept GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      Dedup.dedupSpans(Tables.documents(s, d), "doc_id", "text", 40)
        .select(col("sid").as("doc_id"), col("n_spans"), col("text_md5"))
        .orderBy(col("doc_id"))
    },

    // EXACT-SUBSTRING duplicate spans (Dedup.exactDupSpans — the Lee et
    // al. 2022 ExactSubstr operator, r13 VERDICT ask #4): per document the
    // maximal token spans inside ANY duplicated substring of >= 15 tokens,
    // arbitrary length (d17 removes fixed-40-CHAR chunks; this finds every
    // repeated run). The covered-position identity (union of duplicated
    // substrings of length >= k == union of duplicated k-gram extents)
    // makes it pair-free: a gram-hash count, a semi-join back, a per-doc
    // islands window. 45 spans / 2408 duplicated tokens exist in the
    // sf0.01 fixtures, so the query discriminates. The oracle replays the
    // same identity on the same 48-bit gram fingerprints.
    QueryDef(
      "d30_exact_substr_spans",
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |pos AS (SELECT doc_id, i AS pos,
         |    ${sqlHash("array_to_string(w[i:i+14], ' ')", 12)} AS g
         |  FROM w, unnest(generate_series(1, len(w) - 14)) AS t(i)),
         |dup AS (SELECT g FROM pos GROUP BY g HAVING COUNT(*) >= 2),
         |cov AS (SELECT doc_id, pos FROM pos JOIN dup USING (g)),
         |brk AS (SELECT doc_id, pos, CASE WHEN pos - LAG(pos)
         |      OVER (PARTITION BY doc_id ORDER BY pos) > 15
         |    THEN 1 ELSE 0 END AS b FROM cov),
         |isl AS (SELECT doc_id, pos,
         |    SUM(b) OVER (PARTITION BY doc_id ORDER BY pos) AS isl FROM brk)
         |SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 14 AS span_end,
         |  MAX(pos) + 14 - MIN(pos) + 1 AS span_tokens
         |FROM isl GROUP BY doc_id, isl
         |ORDER BY doc_id, span_start""".stripMargin) { (s, d) =>
      Dedup.exactDupSpans(Tables.documents(s, d), "doc_id", "text", 15)
        .select(col("sid").as("doc_id"), col("span_start"), col("span_end"),
          col("span_tokens"))
        .orderBy(col("doc_id"), col("span_start"))
    },

    // ExactSubstr REMOVAL (Dedup.exactSubstrDedup): d30's spans applied —
    // every covered token cut, documents rebuilt and md5'd (the d17
    // rebuild discipline at arbitrary span length). Spans are disjoint, so
    // the oracle's token->span range join matches at most once per token.
    QueryDef(
      "d31_exact_substr_dedup",
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |pos AS (SELECT doc_id, i AS pos,
         |    ${sqlHash("array_to_string(w[i:i+14], ' ')", 12)} AS g
         |  FROM w, unnest(generate_series(1, len(w) - 14)) AS t(i)),
         |dup AS (SELECT g FROM pos GROUP BY g HAVING COUNT(*) >= 2),
         |cov AS (SELECT doc_id, pos FROM pos JOIN dup USING (g)),
         |brk AS (SELECT doc_id, pos, CASE WHEN pos - LAG(pos)
         |      OVER (PARTITION BY doc_id ORDER BY pos) > 15
         |    THEN 1 ELSE 0 END AS b FROM cov),
         |isl AS (SELECT doc_id, pos,
         |    SUM(b) OVER (PARTITION BY doc_id ORDER BY pos) AS isl FROM brk),
         |sp AS (SELECT doc_id, MIN(pos) AS s, MAX(pos) + 14 AS e
         |  FROM isl GROUP BY doc_id, isl),
         |toks AS (SELECT doc_id, i AS pos, w[i] AS tok
         |  FROM w, unnest(generate_series(1, len(w))) AS t(i)),
         |kept AS (SELECT t.doc_id,
         |    coalesce(string_agg(t.tok, ' ' ORDER BY t.pos), '') AS kt,
         |    COUNT(t.tok) AS n_kept
         |  FROM toks t LEFT JOIN sp ON t.doc_id = sp.doc_id
         |    AND t.pos BETWEEN sp.s AND sp.e
         |  WHERE sp.doc_id IS NULL GROUP BY t.doc_id)
         |SELECT d.doc_id, CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
         |  CAST(coalesce(kept.n_kept, 0) AS BIGINT) AS n_kept,
         |  md5(coalesce(kept.kt, '')) AS text_md5
         |FROM documents d LEFT JOIN kept ON d.doc_id = kept.doc_id
         |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
      Dedup.exactSubstrDedup(Tables.documents(s, d), "doc_id", "text", 15)
        .select(col("sid").as("doc_id"), col("n_tokens"), col("n_kept"),
          col("text_md5"))
        .orderBy(col("doc_id"))
    },

    // DSIR importance weights (Quality.dsirWeights — Xie et al. 2023,
    // arXiv:2302.03169): per document the exact micro-nat log importance
    // ratio between the TARGET hashed uni+bigram bag model (quality
    // sources, ds5's convention) and the raw pool's own — the
    // data-selection signal DSIR resamples by. Every ln is the LnFp
    // integer kernel; the oracle replays the dense 2x256-key ln table and
    // the per-doc weighted sum in HUGEINT.
    QueryDef(
      "dsir1_importance_weights",
      s"""WITH RECURSIVE $pow2Cte,
         |${dsirWeightCtes("source IN ('src0','src1','src2','src3')")}
         |SELECT d.doc_id, coalesce(sc.n_feats, 0) AS n_feats,
         |  coalesce(sc.dsir_fp, 0) AS dsir_fp
         |FROM documents d LEFT JOIN sc USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      graft.operators.Quality.dsirWeights(docs,
          docs.filter(col("source").isin("src0", "src1", "src2", "src3")),
          "doc_id", "text", 256)
        .select(col("sid").as("doc_id"), col("n_feats"), col("dsir_fp"))
        .orderBy(col("doc_id"))
    },

    // DSIR selection (Quality.dsirSelect): keep every document whose
    // weight clears the exact ascending 3/4 order statistic — ties kept,
    // deterministic where the paper's Gumbel top-k randomizes; the
    // threshold is a data element from the a14 two-level walk (no corpus
    // sort). Oracle computes the same rank ceil(3n/4) by window.
    QueryDef(
      "dsir2_importance_selection",
      s"""WITH RECURSIVE $pow2Cte,
         |${dsirWeightCtes("source IN ('src0','src1','src2','src3')")},
         |wts AS (SELECT d.doc_id, coalesce(sc.dsir_fp, 0) AS dsir_fp
         |  FROM documents d LEFT JOIN sc USING (doc_id)),
         |thr AS (SELECT dsir_fp AS v FROM (
         |    SELECT dsir_fp, ROW_NUMBER() OVER (ORDER BY dsir_fp) AS rn,
         |      COUNT(*) OVER () AS n FROM wts)
         |  WHERE rn = (3 * n + 3) // 4)
         |SELECT w.doc_id, w.dsir_fp, w.dsir_fp >= thr.v AS kept
         |FROM wts w CROSS JOIN thr ORDER BY w.doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      graft.operators.Quality.dsirSelect(
          graft.operators.Quality.dsirWeights(docs,
            docs.filter(col("source").isin("src0", "src1", "src2", "src3")),
            "doc_id", "text", 256), 3, 4)
        .select(col("sid").as("doc_id"), col("dsir_fp"), col("kept"))
        .orderBy(col("doc_id"))
    },

    // PQ-ADC kNN (Similarity.pqTopK): 8 subspaces x 16 codes over the
    // 64-dim quantized vectors — candidates shrink to 8 codes each (32x vs
    // float), queries stay unquantized and rank candidates through a
    // per-query distance lookup table. The oracle rebuilds the whole path
    // relationally: seed codebook from the 16 lowest ids, per-(vector,
    // subspace) argmin code with the same (d2, code) tiebreak, then the
    // ADC sum over subspaces. Exact integer arithmetic end-to-end.
    QueryDef(
      "s8_pq_adc_knn",
      """WITH e AS (SELECT vec_id AS sid,
        |    CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT) AS q,
        |    ((pos - 1) // 8) AS m, ((pos - 1) % 8) AS j
        |  FROM (SELECT vec_id, unnest(embedding) AS x,
        |        unnest(generate_series(1, len(embedding))) AS pos FROM embeddings)),
        |seeds AS (SELECT sid, ROW_NUMBER() OVER (ORDER BY sid) - 1 AS code
        |  FROM (SELECT DISTINCT sid FROM e ORDER BY sid LIMIT 16)),
        |cb AS (SELECT s.code, e.m, e.j, e.q FROM e JOIN seeds s USING (sid)),
        |a AS (SELECT e.sid, e.m, cb.code,
        |    CAST(SUM((e.q - cb.q) * (e.q - cb.q)) AS BIGINT) AS d2
        |  FROM e JOIN cb ON e.m = cb.m AND e.j = cb.j GROUP BY 1, 2, 3),
        |codes AS (SELECT sid, m, code FROM (SELECT sid, m, code,
        |    ROW_NUMBER() OVER (PARTITION BY sid, m ORDER BY d2, code) AS rn
        |  FROM a) WHERE rn = 1),
        |dist AS (SELECT qa.sid AS qid, c.sid AS nid, CAST(SUM(qa.d2) AS BIGINT) AS d2
        |  FROM codes c JOIN a qa ON qa.m = c.m AND qa.code = c.code
        |  WHERE qa.sid < 8 AND qa.sid <> c.sid GROUP BY 1, 2)
        |SELECT qid, nid, d2, rank FROM (
        |  SELECT qid, nid, d2,
        |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d2 ASC, nid ASC) AS rank
        |  FROM dist) WHERE rank <= 5 ORDER BY qid, rank""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      Similarity.pqTopK(emb.filter(col("vec_id") < 8), emb, "vec_id", "embedding",
          dim = 64, m = 8, k = 16, topK = 5)
        .select(col("qid"), col("nid"), col("d2"), col("rank"))
        .orderBy(col("qid"), col("rank"))
    },

    // PQ with a Lloyd-TRAINED codebook (Similarity.pqTrainKmeans): one
    // per-subspace k-means round refines the seeded book — integer sums +
    // counts, one deterministic double division rounded back to integers —
    // then the unchanged s8 ADC search runs against it. The oracle replays
    // assignment (a0/codes0), the update with code densification (c1, a
    // DENSE_RANK mirroring the engine's packed-array positions), and the
    // final ADC through the trained book.
    QueryDef(
      "s11_pq_trained",
      """WITH e AS (SELECT vec_id AS sid,
        |    CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT) AS q,
        |    ((pos - 1) // 8) AS m, ((pos - 1) % 8) AS j
        |  FROM (SELECT vec_id, unnest(embedding) AS x,
        |        unnest(generate_series(1, len(embedding))) AS pos FROM embeddings)),
        |seeds AS (SELECT sid, ROW_NUMBER() OVER (ORDER BY sid) - 1 AS code
        |  FROM (SELECT DISTINCT sid FROM e ORDER BY sid LIMIT 16)),
        |cb0 AS (SELECT s.code, e.m, e.j, e.q FROM e JOIN seeds s USING (sid)),
        |a0 AS (SELECT e.sid, e.m, cb0.code,
        |    CAST(SUM((e.q - cb0.q) * (e.q - cb0.q)) AS BIGINT) AS d2
        |  FROM e JOIN cb0 ON e.m = cb0.m AND e.j = cb0.j GROUP BY 1, 2, 3),
        |codes0 AS (SELECT sid, m, code FROM (SELECT sid, m, code,
        |    ROW_NUMBER() OVER (PARTITION BY sid, m ORDER BY d2, code) AS rn
        |  FROM a0) WHERE rn = 1),
        |c1 AS (SELECT c0.m, c0.code, e.j,
        |    CAST(round(CAST(SUM(e.q) AS DOUBLE) / COUNT(*)) AS BIGINT) AS q
        |  FROM codes0 c0 JOIN e ON e.sid = c0.sid AND e.m = c0.m
        |  GROUP BY 1, 2, 3),
        |cb1 AS (SELECT m, DENSE_RANK() OVER (PARTITION BY m ORDER BY code) - 1 AS code,
        |    j, q FROM c1),
        |a1 AS (SELECT e.sid, e.m, cb1.code,
        |    CAST(SUM((e.q - cb1.q) * (e.q - cb1.q)) AS BIGINT) AS d2
        |  FROM e JOIN cb1 ON e.m = cb1.m AND e.j = cb1.j GROUP BY 1, 2, 3),
        |codes1 AS (SELECT sid, m, code FROM (SELECT sid, m, code,
        |    ROW_NUMBER() OVER (PARTITION BY sid, m ORDER BY d2, code) AS rn
        |  FROM a1) WHERE rn = 1),
        |dist AS (SELECT qa.sid AS qid, c.sid AS nid, CAST(SUM(qa.d2) AS BIGINT) AS d2
        |  FROM codes1 c JOIN a1 qa ON qa.m = c.m AND qa.code = c.code
        |  WHERE qa.sid < 8 AND qa.sid <> c.sid GROUP BY 1, 2)
        |SELECT qid, nid, d2, rank FROM (
        |  SELECT qid, nid, d2,
        |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d2 ASC, nid ASC) AS rank
        |  FROM dist) WHERE rank <= 5 ORDER BY qid, rank""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val cb = Similarity.pqTrainKmeans(emb, "vec_id", "embedding",
        dim = 64, m = 8, k = 16, updates = 1)
      Similarity.pqTopKWith(cb, emb.filter(col("vec_id") < 8), emb,
          "vec_id", "embedding", dim = 64, m = 8, topK = 5)
        .select(col("qid"), col("nid"), col("d2"), col("rank"))
        .orderBy(col("qid"), col("rank"))
    },

    // IVF-PQ (Similarity.ivfPqTopK): the production ANN composition — IVF
    // cells prune candidates, PQ-ADC ranks within probed cells. The oracle
    // stitches the s3 cell machinery to the s8 code machinery: seeded
    // cells, top-1 assignment / top-4 probing, then the ADC sum joined
    // through (cell, code). Exact integers end-to-end.
    QueryDef(
      "s9_ivfpq_knn",
      s"""WITH $quantVecCte,
         |$ivfPqSeededCtes
         |$ivfPqRankSelect ORDER BY qid, rank""".stripMargin) { (s, d) =>
      Similarity.ivfPqTopK(Tables.embeddings(s, d), "vec_id", "embedding",
          dim = 64, nCells = IvfCells, nProbe = IvfProbe, m = PqM, k = PqK,
          topK = 5)
        .select(col("qid"), col("nid"), col("d2"), col("rank"))
        .orderBy(col("qid"), col("rank"))
    },

    // RESIDUAL IVF-PQ (Similarity.ivfPqResidualTopK): codes quantize each
    // vector's residual to its assigned cell, the ADC distance approximates
    // the TRUE inter-vector distance (the shared centroid cancels), and the
    // query computes one LUT per probed cell. Every centroid is a corpus
    // vector (seeded cells), so the oracle derives residual ELEMENTS by
    // joining the element table with itself — exact integers end-to-end.
    QueryDef(
      "s13_ivfpq_residual",
      s"""WITH $quantVecCte,
         |$ivfPqResidualCtes
         |$ivfPqRankSelect ORDER BY qid, rank""".stripMargin) { (s, d) =>
      Similarity.ivfPqResidualTopK(Tables.embeddings(s, d), "vec_id", "embedding",
          dim = 64, nCells = IvfCells, nProbe = IvfProbe, m = PqM, k = PqK,
          topK = 5)
        .select(col("qid"), col("nid"), col("d2"), col("rank"))
        .orderBy(col("qid"), col("rank"))
    },

    // TRAINED-cells residual IVF-PQ (Similarity.ivfPqResidualTopKTrained):
    // the full production form — one Lloyd round refines the coarse
    // quantizer (s10's c0 -> a1 -> c1 integer-SUM centroid CTEs), residuals
    // anchor to the ROUNDED-MEAN integer centroid of each trained cell
    // (s11's rounding discipline: round(sum / count) per element), and the
    // s13 residual search runs unchanged. Assignment ranks against the
    // exact SUM centroids (cosine is scale-invariant), so every step stays
    // integer-exact and hash-checkable.
    QueryDef(
      "s15_ivfpq_residual_trained",
      s"""WITH $quantVecCte,
         |$ivfPqResidualTrainedCtes
         |$ivfPqRankSelect ORDER BY qid, rank""".stripMargin) { (s, d) =>
      Similarity.ivfPqResidualTopKTrained(Tables.embeddings(s, d), "vec_id",
          "embedding", dim = 64, nCells = IvfCells, updates = 1,
          nProbe = IvfProbe, m = PqM, k = PqK, topK = 5)
        .select(col("qid"), col("nid"), col("d2"), col("rank"))
        .orderBy(col("qid"), col("rank"))
    },

    // ANN RECALL@5 as an oracle-checked contract (VERDICT r8 ask #2,
    // extended to the whole ladder per r9 ask #6): the ANN ladder is
    // hash-verified for determinism (s2/s3/s9/s13/s15); this row measures
    // whether the approximate answers are GOOD — per-method hits against
    // the s1 brute-force cosine ground truth over the same 8 queries,
    // exact integer hits/n, and a recall_ok the oracle asserts (the
    // ApproxOps accuracy-contract pattern). Five methods: lsh (recall-
    // tuned 8 x 4 planes), ivf_flat (exact distances in probed cells),
    // ivfpq_seeded (raw ADC at m=16/k=256), and the two refine serve paths
    // (ADC shortlist R=25 -> exact re-rank; Similarity.exactRerank has the
    // recall math). The PQ chains are the byte-same vals their own green
    // oracles use; each is nested via DuckDB's subquery-WITH so CTE names
    // don't collide, and both refine rows re-rank from the SAME
    // materialized `dist` their raw method produced — one chain each, not
    // two (the r9 oracle-cost lesson).
    QueryDef(
      "s16_ann_recall",
      s"""WITH $quantVecCte,
         |gt AS MATERIALIZED (
         |  SELECT qid, nid FROM (
         |    SELECT q.qid, v.sid AS nid,
         |      ROW_NUMBER() OVER (PARTITION BY q.qid
         |        ORDER BY ${sqlCosine("q.qqv", "v.qv")} DESC, v.sid) AS rank
         |    FROM v CROSS JOIN (SELECT sid AS qid, qv AS qqv FROM v WHERE sid < 8) q
         |    WHERE v.sid <> q.qid) WHERE rank <= 5),
         |l5 AS (WITH ${lshCtes(LshRecallTables, LshRecallPlanes)}
         |  SELECT qid, nid FROM (
         |    SELECT qid, nid,
         |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rank
         |    FROM sc WHERE qid < 8) WHERE rank <= 5),
         |mp5 AS (WITH ${lshMultiProbeCtes(8, 10)}
         |  SELECT qid, nid FROM (
         |    SELECT qid, nid,
         |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rank
         |    FROM sc) WHERE rank <= 5),
         |i5 AS (WITH ${ivfFlatCtes(IvfCells, IvfProbe)}
         |  SELECT qid, nid FROM (
         |    SELECT qid, nid,
         |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rank
         |    FROM sc WHERE qid < 8) WHERE rank <= 5),
         |d9 AS MATERIALIZED (WITH
         |$ivfPqSeededCtes
         |SELECT * FROM dist WHERE qid < 8),
         |r9 AS (SELECT qid, nid FROM (
         |    SELECT qid, nid,
         |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d2 ASC, nid ASC) AS rank
         |    FROM d9) WHERE rank <= 5),
         |r9f AS (SELECT qid, nid FROM (
         |    SELECT s.qid, s.nid,
         |      ROW_NUMBER() OVER (PARTITION BY s.qid
         |        ORDER BY ${sqlCosine("qa.qv", "nb.qv")} DESC, s.nid) AS rank
         |    FROM (SELECT qid, nid FROM (
         |        SELECT qid, nid,
         |          ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d2 ASC, nid ASC) AS srank
         |        FROM d9) WHERE srank <= $RefineShortlist) s
         |    JOIN v qa ON s.qid = qa.sid JOIN v nb ON s.nid = nb.sid)
         |  WHERE rank <= 5),
         |d15 AS MATERIALIZED (WITH
         |$ivfPqResidualTrainedCtes
         |SELECT * FROM dist WHERE qid < 8),
         |r15f AS (SELECT qid, nid FROM (
         |    SELECT s.qid, s.nid,
         |      ROW_NUMBER() OVER (PARTITION BY s.qid
         |        ORDER BY ${sqlCosine("qa.qv", "nb.qv")} DESC, s.nid) AS rank
         |    FROM (SELECT qid, nid FROM (
         |        SELECT qid, nid,
         |          ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d2 ASC, nid ASC) AS srank
         |        FROM d15) WHERE srank <= $RefineShortlist) s
         |    JOIN v qa ON s.qid = qa.sid JOIN v nb ON s.nid = nb.sid)
         |  WHERE rank <= 5),
         |nq AS (SELECT CAST(5 * COUNT(DISTINCT qid) AS BIGINT) AS n FROM gt),
         |m AS (
         |  SELECT 'ivf_flat' AS method,
         |    (SELECT CAST(COUNT(*) AS BIGINT) FROM i5 JOIN gt USING (qid, nid)) AS hits
         |  UNION ALL SELECT 'ivfpq_refine',
         |    (SELECT CAST(COUNT(*) AS BIGINT) FROM r9f JOIN gt USING (qid, nid))
         |  UNION ALL SELECT 'ivfpq_residual_refine',
         |    (SELECT CAST(COUNT(*) AS BIGINT) FROM r15f JOIN gt USING (qid, nid))
         |  UNION ALL SELECT 'ivfpq_seeded',
         |    (SELECT CAST(COUNT(*) AS BIGINT) FROM r9 JOIN gt USING (qid, nid))
         |  UNION ALL SELECT 'lsh',
         |    (SELECT CAST(COUNT(*) AS BIGINT) FROM l5 JOIN gt USING (qid, nid))
         |  UNION ALL SELECT 'lsh_multiprobe',
         |    (SELECT CAST(COUNT(*) AS BIGINT) FROM mp5 JOIN gt USING (qid, nid)))
         |SELECT method, hits, n,
         |  CAST(hits AS DOUBLE) / n AS recall,
         |  CAST(hits AS DOUBLE) / n >= 0.5 AS recall_ok
         |FROM m CROSS JOIN nq ORDER BY method""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      // ground truth pinned (round 19): annRecall joins gt into SIX method
      // branches plus the n_q aggregate — without the cut each broadcast
      // build re-executed the brute-force corpus scan (self-join subplans
      // are not exchange-reused; the ivfPqPlan rationale). 40 rows held.
      val exact = graft.core.Storage.cut(Similarity.bruteForceTopK(
        emb.filter(col("vec_id") < 8), emb, "vec_id", "embedding", 5))
      // probeFilter pushes the 8-query predicate into each ladder's probe
      // side BEFORE the scoring join: the index (cells, codebook, codes,
      // buckets) still derives from the full corpus — byte-identical to the
      // oracle's self-search CTEs filtered on qid — but the scoring work is
      // 8 queries, not a corpus-wide self-kNN discarded down to 40 rows
      // (round 10 measured 372 s for this row; the filter-after form cannot
      // push through the materialized rank window)
      val qids = col("qid") < 8
      def top5(df: org.apache.spark.sql.DataFrame) =
        df.select(col("qid"), col("nid"))
      // ONE seeded ADC chain serves both PQ methods (round 19, the
      // oracle's own d9-MATERIALIZED discipline): the shortlist frame is
      // ivfPqTopK at topK = RefineShortlist (eagerly pinned inside
      // ivfPqTopKTrained); the raw-ADC method is its rank <= 5 prefix —
      // bit-identical to a separate topK = 5 run (same scored frame, same
      // (d2 asc, nid asc) rank) — and the refine method re-ranks the same
      // 25 rows. Before, ivfpq_seeded and ivfpq_refine each built the full
      // index (cells + codebook + codes + ADC join) from scratch.
      val seededShortlist = Similarity.ivfPqTopK(emb, "vec_id", "embedding",
        dim = 64, nCells = IvfCells, nProbe = IvfProbe, m = PqM, k = PqK,
        topK = RefineShortlist, probeFilter = qids)
      Similarity.annRecall(Seq(
          "ivf_flat" -> top5(Similarity.ivfTopK(emb, "vec_id", "embedding",
            nCells = IvfCells, nProbe = IvfProbe, k = 5, probeFilter = qids)),
          "ivfpq_refine" -> top5(Similarity.exactRerank(seededShortlist,
            emb, "vec_id", "embedding", topK = 5)),
          "ivfpq_residual_refine" -> top5(
            Similarity.ivfPqResidualRefineTopKTrained(emb, "vec_id",
              "embedding", dim = 64, nCells = IvfCells, updates = 1,
              nProbe = IvfProbe, m = PqM, k = PqK,
              shortlistK = RefineShortlist, topK = 5, probeFilter = qids)),
          "ivfpq_seeded" -> top5(seededShortlist.filter(col("rank") <= 5)),
          "lsh" -> top5(Similarity.lshTopK(emb, "vec_id", "embedding",
            dim = 64, nTables = LshRecallTables, nPlanes = LshRecallPlanes,
            k = 5, probeFilter = qids)),
          "lsh_multiprobe" -> top5(Similarity.lshTopKMultiProbe(emb,
            "vec_id", "embedding", dim = 64, nTables = 8, nPlanes = 10,
            maxFlips = 2, k = 5, probeFilter = qids))),
        exact, k = 5, minRecall = 0.5)
        .orderBy(col("method"))
    },

    // IVF-PQ + EXACT REFINE (Similarity.ivfPqRefineTopK) — the recommended
    // serve configuration of the PQ family: the s9 ADC chain proposes the
    // top-25 per query, then only those rows are scored against full
    // vectors and the exact-cosine top-5 wins. Measured recall@5
    // 0.83-0.93 across fixtures vs 0.43-0.65 raw ADC (see s16). The
    // oracle extends the byte-same s9 chain with a shortlist + re-rank.
    QueryDef(
      "s17_ivfpq_refine",
      s"""WITH $quantVecCte,
         |$ivfPqSeededCtes,
         |short AS (SELECT qid, nid FROM (
         |  SELECT qid, nid,
         |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d2 ASC, nid ASC) AS rank
         |  FROM dist) WHERE rank <= $RefineShortlist),
         |sc AS (SELECT s.qid, s.nid, ${sqlCosine("qa.qv", "nb.qv")} AS cosine
         |  FROM short s JOIN v qa ON s.qid = qa.sid JOIN v nb ON s.nid = nb.sid)
         |$cosineRankSelect ORDER BY qid, rank""".stripMargin) { (s, d) =>
      Similarity.ivfPqRefineTopK(Tables.embeddings(s, d), "vec_id",
          "embedding", dim = 64, nCells = IvfCells, nProbe = IvfProbe,
          m = PqM, k = PqK, shortlistK = RefineShortlist, topK = 5)
        .select(col("qid"), col("nid"), col("cosine"), col("rank"))
        .orderBy(col("qid"), col("rank"))
    },

    // IVF-PQ with an EXTERNAL query set (Similarity.ivfPqSearch): index
    // vectors >= 8, query with vectors < 8 — the serve-time shape (new
    // vectors against a built compressed index; no self-exclusion). Oracle
    // splits s9's machinery the way s6 splits s3's: cells and codebook
    // derive from the CANDIDATE set only.
    QueryDef(
      "s12_ivfpq_search",
      s"""WITH $quantVecCte,
         |cset AS (SELECT sid, qv FROM v WHERE sid >= 8),
         |qset AS (SELECT sid, qv FROM v WHERE sid < 8),
         |cent AS (SELECT sid AS cid, qv AS cv FROM cset ORDER BY sid LIMIT 16),
         |mranked AS (SELECT sid, cid,
         |    ROW_NUMBER() OVER (PARTITION BY sid ORDER BY ccos DESC, cid) AS crank
         |  FROM (SELECT s.sid, c.cid, ${sqlCosine("s.qv", "c.cv")} AS ccos
         |        FROM cset s CROSS JOIN cent c)),
         |pranked AS (SELECT sid, cid,
         |    ROW_NUMBER() OVER (PARTITION BY sid ORDER BY ccos DESC, cid) AS crank
         |  FROM (SELECT s.sid, c.cid, ${sqlCosine("s.qv", "c.cv")} AS ccos
         |        FROM qset s CROSS JOIN cent c)),
         |e AS (SELECT sid, qv[pos] AS q,
         |    ((pos - 1) // 8) AS m, ((pos - 1) % 8) AS j
         |  FROM v, unnest(generate_series(1, 64)) AS t(pos)),
         |seeds AS (SELECT sid, ROW_NUMBER() OVER (ORDER BY sid) - 1 AS code
         |  FROM (SELECT DISTINCT sid FROM cset ORDER BY sid LIMIT 16)),
         |cb AS (SELECT s.code, e.m, e.j, e.q FROM e JOIN seeds s USING (sid)),
         |a AS (SELECT e.sid, e.m, cb.code,
         |    CAST(SUM((e.q - cb.q) * (e.q - cb.q)) AS BIGINT) AS d2
         |  FROM e JOIN cb ON e.m = cb.m AND e.j = cb.j GROUP BY 1, 2, 3),
         |codes AS (SELECT sid, m, code FROM (SELECT a.sid, m, code,
         |    ROW_NUMBER() OVER (PARTITION BY a.sid, m ORDER BY d2, code) AS rn
         |  FROM a JOIN cset cs ON cs.sid = a.sid) WHERE rn = 1),
         |members AS (SELECT r.cid, cd.sid AS nid, cd.m, cd.code
         |  FROM mranked r JOIN codes cd ON r.sid = cd.sid WHERE r.crank = 1),
         |probes AS (SELECT cid, sid AS qid FROM pranked WHERE crank <= 4),
         |dist AS (SELECT p.qid, mem.nid, CAST(SUM(qa.d2) AS BIGINT) AS d2
         |  FROM probes p JOIN members mem ON p.cid = mem.cid
         |  JOIN a qa ON qa.sid = p.qid AND qa.m = mem.m AND qa.code = mem.code
         |  GROUP BY 1, 2)
         |SELECT qid, nid, d2, rank FROM (
         |  SELECT qid, nid, d2,
         |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d2 ASC, nid ASC) AS rank
         |  FROM dist) WHERE rank <= 5 ORDER BY qid, rank""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      Similarity.ivfPqSearch(
          emb.filter(col("vec_id") < 8), emb.filter(col("vec_id") >= 8),
          "vec_id", "embedding", dim = 64, nCells = 16, updates = 0,
          nProbe = 4, m = 8, k = 16, topK = 5)
        .select(col("qid"), col("nid"), col("d2"), col("rank"))
        .orderBy(col("qid"), col("rank"))
    },

    // RESIDUAL IVF-PQ serve (Similarity.ivfPqResidualSearch): external
    // queries against a prebuilt RESIDUAL index — the FAISS production
    // shape (IndexIVFPQ + encode_residual, searched with new vectors).
    // Index (cells, member residuals, residual codebook, codes) derives
    // from the candidate set only; each query computes one LUT per probed
    // cell; no self-exclusion. Oracle = s12's cset/qset split stitched to
    // s13's residual machinery, exact integers end-to-end.
    QueryDef(
      "s14_ivfpq_residual_search",
      s"""WITH $quantVecCte,
         |cset AS (SELECT sid, qv FROM v WHERE sid >= 8),
         |qset AS (SELECT sid, qv FROM v WHERE sid < 8),
         |cent AS (SELECT sid AS cid, qv AS cv FROM cset ORDER BY sid LIMIT 16),
         |mranked AS (SELECT sid, cid,
         |    ROW_NUMBER() OVER (PARTITION BY sid ORDER BY ccos DESC, cid) AS crank
         |  FROM (SELECT s.sid, c.cid, ${sqlCosine("s.qv", "c.cv")} AS ccos
         |        FROM cset s CROSS JOIN cent c)),
         |pranked AS (SELECT sid, cid,
         |    ROW_NUMBER() OVER (PARTITION BY sid ORDER BY ccos DESC, cid) AS crank
         |  FROM (SELECT s.sid, c.cid, ${sqlCosine("s.qv", "c.cv")} AS ccos
         |        FROM qset s CROSS JOIN cent c)),
         |e AS (SELECT sid, qv[pos] AS q,
         |    ((pos - 1) // 8) AS m, ((pos - 1) % 8) AS j
         |  FROM v, unnest(generate_series(1, 64)) AS t(pos)),
         |top1 AS (SELECT sid, cid FROM mranked WHERE crank = 1),
         |eres AS (SELECT e.sid, t.cid, e.q - ec.q AS q, e.m, e.j
         |  FROM e JOIN top1 t ON t.sid = e.sid
         |  JOIN e ec ON ec.sid = t.cid AND ec.m = e.m AND ec.j = e.j),
         |seeds AS (SELECT sid, ROW_NUMBER() OVER (ORDER BY sid) - 1 AS code
         |  FROM (SELECT DISTINCT sid FROM eres ORDER BY sid LIMIT 16)),
         |cbr AS (SELECT s.code, er.m, er.j, er.q FROM eres er JOIN seeds s USING (sid)),
         |ar AS (SELECT er.sid, er.m, cbr.code,
         |    CAST(SUM((er.q - cbr.q) * (er.q - cbr.q)) AS BIGINT) AS d2
         |  FROM eres er JOIN cbr ON cbr.m = er.m AND cbr.j = er.j GROUP BY 1, 2, 3),
         |codesr AS (SELECT sid, m, code FROM (SELECT sid, m, code,
         |    ROW_NUMBER() OVER (PARTITION BY sid, m ORDER BY d2, code) AS rn
         |  FROM ar) WHERE rn = 1),
         |members AS (SELECT t.cid, cd.sid AS nid, cd.m, cd.code
         |  FROM top1 t JOIN codesr cd ON cd.sid = t.sid),
         |probes AS (SELECT sid AS qid, cid FROM pranked WHERE crank <= 4),
         |eq AS (SELECT p.qid, p.cid, e.q - ec.q AS q, e.m, e.j
         |  FROM probes p JOIN e ON e.sid = p.qid
         |  JOIN e ec ON ec.sid = p.cid AND ec.m = e.m AND ec.j = e.j),
         |aq AS (SELECT q.qid, q.cid, q.m, cbr.code,
         |    CAST(SUM((q.q - cbr.q) * (q.q - cbr.q)) AS BIGINT) AS d2
         |  FROM eq q JOIN cbr ON cbr.m = q.m AND cbr.j = q.j
         |  GROUP BY 1, 2, 3, 4),
         |dist AS (SELECT p.qid, mem.nid, CAST(SUM(qa.d2) AS BIGINT) AS d2
         |  FROM probes p JOIN members mem ON p.cid = mem.cid
         |  JOIN aq qa ON qa.qid = p.qid AND qa.cid = p.cid
         |    AND qa.m = mem.m AND qa.code = mem.code
         |  GROUP BY 1, 2)
         |SELECT qid, nid, d2, rank FROM (
         |  SELECT qid, nid, d2,
         |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d2 ASC, nid ASC) AS rank
         |  FROM dist) WHERE rank <= 5 ORDER BY qid, rank""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      Similarity.ivfPqResidualSearch(
          emb.filter(col("vec_id") < 8), emb.filter(col("vec_id") >= 8),
          "vec_id", "embedding", dim = 64, nCells = 16,
          nProbe = 4, m = 8, k = 16, topK = 5)
        .select(col("qid"), col("nid"), col("d2"), col("rank"))
        .orderBy(col("qid"), col("rank"))
    },

    // Trained IVF-PQ (Similarity.ivfPqTopKTrained): the flagship production
    // composition — one Lloyd round refines the coarse quantizer (s4/s5's
    // c0 -> a1 -> c1 integer-sum centroid CTEs), then the s9 PQ-ADC
    // machinery ranks within probed cells. Trained cells are what keep
    // occupancy balanced on clustered real data; exact integers end-to-end
    // keep the oracle bit-identical through the training round.
    QueryDef(
      "s10_ivfpq_trained",
      s"""WITH $quantVecCte,
         |c0 AS (SELECT sid AS cid, qv AS cv FROM v ORDER BY sid LIMIT 16),
         |a1 AS (SELECT sid, qv, cid FROM (
         |  SELECT v.sid, v.qv, c.cid,
         |    ROW_NUMBER() OVER (PARTITION BY v.sid
         |      ORDER BY ${sqlCosine("v.qv", "c.cv")} DESC, c.cid) AS rn
         |  FROM v CROSS JOIN c0 c) WHERE rn = 1),
         |c1 AS (SELECT cid, list(sx ORDER BY pos) AS cv FROM (
         |  SELECT cid, pos, SUM(qv[pos]) AS sx
         |  FROM a1, unnest(generate_series(1, 64)) AS t(pos)
         |  GROUP BY cid, pos) GROUP BY cid),
         |cranked AS (SELECT sid, cid,
         |    ROW_NUMBER() OVER (PARTITION BY sid ORDER BY ccos DESC, cid) AS crank
         |  FROM (SELECT v.sid, v.qv, c.cid, ${sqlCosine("v.qv", "c.cv")} AS ccos
         |        FROM v CROSS JOIN c1 c)),
         |e AS (SELECT sid, qv[pos] AS q,
         |    ((pos - 1) // 8) AS m, ((pos - 1) % 8) AS j
         |  FROM v, unnest(generate_series(1, 64)) AS t(pos)),
         |seeds AS (SELECT sid, ROW_NUMBER() OVER (ORDER BY sid) - 1 AS code
         |  FROM (SELECT DISTINCT sid FROM e ORDER BY sid LIMIT 16)),
         |cb AS (SELECT s.code, e.m, e.j, e.q FROM e JOIN seeds s USING (sid)),
         |a AS (SELECT e.sid, e.m, cb.code,
         |    CAST(SUM((e.q - cb.q) * (e.q - cb.q)) AS BIGINT) AS d2
         |  FROM e JOIN cb ON e.m = cb.m AND e.j = cb.j GROUP BY 1, 2, 3),
         |codes AS (SELECT sid, m, code FROM (SELECT sid, m, code,
         |    ROW_NUMBER() OVER (PARTITION BY sid, m ORDER BY d2, code) AS rn
         |  FROM a) WHERE rn = 1),
         |members AS (SELECT r.cid, cd.sid AS nid, cd.m, cd.code
         |  FROM cranked r JOIN codes cd ON r.sid = cd.sid WHERE r.crank = 1),
         |probes AS (SELECT cid, sid AS qid FROM cranked WHERE crank <= 4),
         |dist AS (SELECT p.qid, mem.nid, CAST(SUM(qa.d2) AS BIGINT) AS d2
         |  FROM probes p JOIN members mem ON p.cid = mem.cid
         |  JOIN a qa ON qa.sid = p.qid AND qa.m = mem.m AND qa.code = mem.code
         |  WHERE p.qid <> mem.nid GROUP BY 1, 2)
         |SELECT qid, nid, d2, rank FROM (
         |  SELECT qid, nid, d2,
         |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d2 ASC, nid ASC) AS rank
         |  FROM dist) WHERE rank <= 5 ORDER BY qid, rank""".stripMargin) { (s, d) =>
      Similarity.ivfPqTopKTrained(Tables.embeddings(s, d), "vec_id", "embedding",
          dim = 64, nCells = 16, updates = 1, nProbe = 4, m = 8, k = 16, topK = 5)
        .select(col("qid"), col("nid"), col("d2"), col("rank"))
        .orderBy(col("qid"), col("rank"))
    },

    // PERSISTED IVF-PQ index (AnnIndex) — the train-once / serve-many flow
    // end-to-end through real storage, the ANN twin of d18's bucketed band
    // index: the index (centroids + codebook + cid-bucketed m-byte codes)
    // is BUILT from the base corpus (sid >= 8, sid % 4 <> 0) and written as
    // catalog tables; a later batch (sid % 4 = 0) is APPENDED with the
    // training state FROZEN (encoded against the persisted centroids +
    // codebook — the FAISS add-after-train contract); then 8 external
    // queries are served from the tables. The oracle re-derives the same
    // math relationally — cells and codebook from the BASE set only, codes
    // for base + batch — so a hash match proves storage round-trip, frozen
    // append, and serve are all value-identical to the relational spec.
    // Serve-time scale shape: the members scan arrives pre-partitioned by
    // cell from bucketing, so the probe join never shuffles the index side
    // (AnnIndexSpec asserts the no-Exchange plan).
    QueryDef(
      "s19_ivfpq_persisted",
      persistedIvfPqOracle) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val base = emb.filter(col("vec_id") >= 8 && col("vec_id") % 4 =!= 0)
      val batch = emb.filter(col("vec_id") >= 8 && col("vec_id") % 4 === 0)
      // per-session index name: two sessions sharing a warehouse must not
      // race on one global name (the d18 discipline). The bucketed index
      // write and the frozen append ARE part of the measured query — the
      // nightly build + ingest flow pays them too.
      val name = "graft_ann_s19_" +
        s.sparkContext.applicationId.replaceAll("[^a-zA-Z0-9]", "_")
      AnnIndex.writeIvfPq(base, "vec_id", "embedding", dim = 64,
        nCells = 16, m = 8, k = 16, name, nBuckets = 8)
      AnnIndex.appendIvfPq(batch, "vec_id", "embedding", dim = 64,
        m = 8, name, nBuckets = 8)
      AnnIndex.searchIvfPq(emb.filter(col("vec_id") < 8), "vec_id",
          "embedding", dim = 64, m = 8, nProbe = 4, topK = 5, name)
        .select(col("qid"), col("nid"), col("d2"), col("rank"))
        .orderBy(col("qid"), col("rank"))
    },

    // EXACTLY-ONCE STREAMING VECTOR INGESTION into the persisted ANN index
    // (AnnIndex.ingestVectorBatch) — the ds2 contract
    // applied to ANN: the members table is ingest_batch-partitioned AND
    // cid-bucketed, each micro-batch encodes against the FROZEN training
    // state and replaces its own partition, so a foreachBatch retry is
    // invisible. This batch twin replays batch 0 TWICE mid-run (the ds2
    // oracle-replay discipline) before ingesting batch 1 and serving: the
    // oracle is the SAME relational spec as s19 — storage layout, batch
    // boundaries, and the injected retry must not change a single answer.
    QueryDef(
      "ds3_ann_ingest_exactly_once",
      persistedIvfPqOracle) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val base = emb.filter(col("vec_id") >= 8 && col("vec_id") % 4 =!= 0)
      val batchA = emb.filter(col("vec_id") >= 8 && col("vec_id") % 8 === 0)
      val batchB = emb.filter(col("vec_id") >= 8 && col("vec_id") % 8 === 4)
      val name = "graft_ann_ds3_" +
        s.sparkContext.applicationId.replaceAll("[^a-zA-Z0-9]", "_")
      AnnIndex.writeIvfPqPartitioned(base, "vec_id", "embedding", dim = 64,
        nCells = 16, m = 8, k = 16, name, nBuckets = 8)
      // batch 0 ingested twice with the same batchId — the retry replay a
      // crashed foreachBatch attempt produces; must be invisible
      AnnIndex.ingestVectorBatch(batchA, 0L, "vec_id", "embedding",
        dim = 64, m = 8, name, nBuckets = 8)
      graft.core.Timing.overhead {
        AnnIndex.ingestVectorBatch(batchA, 0L, "vec_id", "embedding",
          dim = 64, m = 8, name, nBuckets = 8)
      }
      AnnIndex.ingestVectorBatch(batchB, 1L, "vec_id", "embedding",
        dim = 64, m = 8, name, nBuckets = 8)
      AnnIndex.searchIvfPq(emb.filter(col("vec_id") < 8), "vec_id",
          "embedding", dim = 64, m = 8, nProbe = 4, topK = 5, name)
        .select(col("qid"), col("nid"), col("d2"), col("rank"))
        .orderBy(col("qid"), col("rank"))
    },

    // Persisted-index serve in the RECOMMENDED refine configuration
    // (AnnIndex.searchIvfPqRefine): the s19 ADC chain proposes a top-25
    // shortlist per query from the persisted m-byte codes, then only those
    // rows are scored against FULL vectors and the exact-cosine top-5 wins
    // — the s17 refine pattern composed over real storage. The index stores
    // no vectors (that is the 32x memory win), so the re-rank attaches them
    // from the embeddings table; oracle = the shared persisted CTEs + the
    // s17 shortlist/re-rank tail.
    // TOMBSTONE DELETION from the persisted index (AnnIndex.deleteIvfPq +
    // compactIvfPqDeletes) — the index-lifecycle step s19/ds3/s20 lack:
    // build + append as s19, DELETE every indexed id ending in 2, serve
    // (tombstone-masked), COMPACT (bucketed rewrite minus tombstones,
    // rename-aside publish), and serve again — both serves must equal the
    // oracle that drops the deleted ids from the candidate set BEFORE
    // ranking (lower neighbors flow up). Training state stays frozen:
    // deleted seeds still anchor their centroids/codewords, exactly the
    // FAISS remove_ids contract the oracle encodes by filtering only
    // `dist`. The query returns the POST-COMPACTION serve; the spec
    // asserts pre == post.
    QueryDef(
      "s23_ivfpq_deleted",
      s"""$persistedIvfPqCtes
         |SELECT qid, nid, d2, rank FROM (
         |  SELECT qid, nid, d2,
         |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d2 ASC, nid ASC) AS rank
         |  FROM dist WHERE nid % 10 <> 2) WHERE rank <= 5
         |ORDER BY qid, rank""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val base = emb.filter(col("vec_id") >= 8 && col("vec_id") % 4 =!= 0)
      val batch = emb.filter(col("vec_id") >= 8 && col("vec_id") % 4 === 0)
      val name = "graft_ann_s23_" +
        s.sparkContext.applicationId.replaceAll("[^a-zA-Z0-9]", "_")
      AnnIndex.writeIvfPq(base, "vec_id", "embedding", dim = 64,
        nCells = 16, m = 8, k = 16, name, nBuckets = 8)
      AnnIndex.appendIvfPq(batch, "vec_id", "embedding", dim = 64,
        m = 8, name, nBuckets = 8)
      AnnIndex.deleteIvfPq(s, name,
        emb.filter(col("vec_id") >= 8 && col("vec_id") % 10 === 2), "vec_id")
      AnnIndex.compactIvfPqDeletes(s, name, nBuckets = 8)
      AnnIndex.searchIvfPq(emb.filter(col("vec_id") < 8), "vec_id",
          "embedding", dim = 64, m = 8, nProbe = 4, topK = 5, name)
        .select(col("qid"), col("nid"), col("d2"), col("rank"))
        .orderBy(col("qid"), col("rank"))
    },

    // METADATA-FILTERED serve over the persisted index (the FAISS
    // IDSelector / filtered-vector-search pattern): an arbitrary member
    // predicate (here nid % 3 = 0 — "the allowed shard") restricts
    // candidates INSIDE the bucketed members scan before probing, so
    // lower-ranked allowed neighbors flow up exactly as a from-scratch
    // index over the allowed subset would rank them, and the filtered
    // scan still joins exchange-free (the bucket spec survives a filter).
    // Distinct from s23's tombstones: this is per-QUERY policy, not
    // storage-state deletion — the same index serves every policy.
    QueryDef(
      "s24_ivfpq_filtered_serve",
      s"""$persistedIvfPqCtes
         |SELECT qid, nid, d2, rank FROM (
         |  SELECT qid, nid, d2,
         |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d2 ASC, nid ASC) AS rank
         |  FROM dist WHERE nid % 3 = 0) WHERE rank <= 5
         |ORDER BY qid, rank""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val base = emb.filter(col("vec_id") >= 8 && col("vec_id") % 4 =!= 0)
      val batch = emb.filter(col("vec_id") >= 8 && col("vec_id") % 4 === 0)
      val name = "graft_ann_s24_" +
        s.sparkContext.applicationId.replaceAll("[^a-zA-Z0-9]", "_")
      AnnIndex.writeIvfPq(base, "vec_id", "embedding", dim = 64,
        nCells = 16, m = 8, k = 16, name, nBuckets = 8)
      AnnIndex.appendIvfPq(batch, "vec_id", "embedding", dim = 64,
        m = 8, name, nBuckets = 8)
      AnnIndex.searchIvfPq(emb.filter(col("vec_id") < 8), "vec_id",
          "embedding", dim = 64, m = 8, nProbe = 4, topK = 5, name,
          memberFilter = col("nid") % 3 === 0)
        .select(col("qid"), col("nid"), col("d2"), col("rank"))
        .orderBy(col("qid"), col("rank"))
    },

    QueryDef(
      "s20_ivfpq_persisted_refine",
      s"""$persistedIvfPqCtes,
         |short AS (SELECT qid, nid FROM (
         |  SELECT qid, nid,
         |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d2 ASC, nid ASC) AS rank
         |  FROM dist) WHERE rank <= $RefineShortlist),
         |sc AS (SELECT s.qid, s.nid, ${sqlCosine("qa.qv", "nb.qv")} AS cosine
         |  FROM short s JOIN v qa ON s.qid = qa.sid JOIN v nb ON s.nid = nb.sid)
         |$cosineRankSelect ORDER BY qid, rank""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val base = emb.filter(col("vec_id") >= 8 && col("vec_id") % 4 =!= 0)
      val batch = emb.filter(col("vec_id") >= 8 && col("vec_id") % 4 === 0)
      val name = "graft_ann_s20_" +
        s.sparkContext.applicationId.replaceAll("[^a-zA-Z0-9]", "_")
      AnnIndex.writeIvfPq(base, "vec_id", "embedding", dim = 64,
        nCells = 16, m = 8, k = 16, name, nBuckets = 8)
      AnnIndex.appendIvfPq(batch, "vec_id", "embedding", dim = 64,
        m = 8, name, nBuckets = 8)
      AnnIndex.searchIvfPqRefine(emb.filter(col("vec_id") < 8), emb,
          "vec_id", "embedding", dim = 64, m = 8, nProbe = 4,
          shortlistK = RefineShortlist, topK = 5, name)
        .select(col("qid"), col("nid"), col("cosine"), col("rank"))
        .orderBy(col("qid"), col("rank"))
    },

    // == count-based language modeling ==

    // N-gram LM count tables (orders 1-3) with Kneser-Ney continuation
    // counts — the MapReduce step of count-based LM training (KenLM's
    // input layout). ccount = N1+(.g) counts DISTINCT left extensions, so
    // a gram that appears 900 times after the same single word carries
    // ccount 1; document-initial occurrences contribute no left context.
    // minCount = 3 prunes AFTER counting (full evidence in survivors).
    QueryDef(
      "lm1_ngram_counts",
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |g AS (SELECT n.n AS ord,
        |    array_to_string(w.w[t.i:t.i+n.n-1], ' ') AS gram,
        |    CASE WHEN t.i >= 2 THEN w.w[t.i-1] ELSE NULL END AS prev
        |  FROM w, unnest(generate_series(1, 3)) AS n(n),
        |       unnest(generate_series(1, len(w.w) - n.n + 1)) AS t(i))
        |SELECT CAST(ord AS BIGINT) AS ord, gram, COUNT(*) AS c,
        |  COUNT(DISTINCT prev) AS ccount
        |FROM g GROUP BY 1, 2 HAVING COUNT(*) >= 3
        |ORDER BY ord, gram""".stripMargin) { (s, d) =>
      TextOps.ngramLmCounts(Tables.documents(s, d), "doc_id", "text",
          maxOrder = 3, minCount = 3L)
        .orderBy(col("ord"), col("gram"))
    },

    // Interpolated Kneser-Ney bigram probabilities (D = 3/4) as EXACT
    // fixed-point integers: p_fp = floor(((4c-3)T + 3PC) * 1e12 / (4LT)).
    // Decimal arithmetic on the engine side, HUGEINT in the oracle — the
    // same integers, so probabilities hash-check with no libm anywhere.
    // Per-context sums reach 1e12 exactly up to floor dust (spec).
    QueryDef(
      "lm2_kneser_ney",
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |bi AS (SELECT w.w[t.i] AS w1, w.w[t.i+1] AS w2
        |  FROM w, unnest(generate_series(1, len(w.w) - 1)) AS t(i)),
        |bc AS (SELECT w1, w2, COUNT(*) AS c FROM bi GROUP BY 1, 2),
        |lf AS (SELECT w1, CAST(SUM(c) AS BIGINT) AS cleft,
        |    CAST(COUNT(*) AS BIGINT) AS n1p FROM bc GROUP BY 1),
        |rc AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS n1c FROM bc GROUP BY 1),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n1tot FROM bc)
        |SELECT w1, w2, c,
        |  CAST((CAST(4 * c - 3 AS HUGEINT) * n1tot
        |      + CAST(3 AS HUGEINT) * n1p * n1c)
        |      * CAST(1000000000000 AS HUGEINT)
        |    // (CAST(4 AS HUGEINT) * cleft * n1tot) AS BIGINT) AS p_fp
        |FROM bc JOIN lf USING (w1) JOIN rc USING (w2) CROSS JOIN tot
        |WHERE c >= 5 ORDER BY w1, w2""".stripMargin) { (s, d) =>
      TextOps.knBigramProbs(Tables.documents(s, d), "doc_id", "text",
          minCount = 5L)
        .select(col("w1"), col("w2"), col("c"), col("p_fp"))
        .orderBy(col("w1"), col("w2"))
    },

    // Interpolated Kneser-Ney TRIGRAM probabilities (D = 3/4 at both
    // orders): all backoff statistics from the trigram TYPE table
    // (Chen-Goodman continuation counts, no sentence padding), p2_fp the
    // exact lm2-style single ratio, p_fp nesting ONE floor so every
    // intermediate fits decimal(38,0) at any corpus size. HUGEINT oracle
    // = decimal engine, bit-for-bit.
    QueryDef(
      "lm3_kneser_ney_trigram",
      """WITH w AS (SELECT string_split(text, ' ') AS w FROM documents),
        |tri AS (SELECT w.w[t.i] AS w1, w.w[t.i+1] AS w2, w.w[t.i+2] AS w3
        |  FROM w, unnest(generate_series(1, len(w.w) - 2)) AS t(i)),
        |tc AS (SELECT w1, w2, w3, COUNT(*) AS c FROM tri GROUP BY 1, 2, 3),
        |ctx AS (SELECT w1, w2, CAST(SUM(c) AS BIGINT) AS l3,
        |    CAST(COUNT(*) AS BIGINT) AS p3n FROM tc GROUP BY 1, 2),
        |cb AS (SELECT w2, w3, CAST(COUNT(*) AS BIGINT) AS cb2
        |  FROM tc GROUP BY 1, 2),
        |mid AS (SELECT w2, CAST(SUM(cb2) AS BIGINT) AS m2,
        |    CAST(COUNT(*) AS BIGINT) AS p2n FROM cb GROUP BY 1),
        |c1 AS (SELECT w3, CAST(COUNT(*) AS BIGINT) AS c1 FROM cb GROUP BY 1),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n1tot FROM cb),
        |p2 AS (SELECT w2, w3,
        |    CAST((CAST(4 * cb2 - 3 AS HUGEINT) * n1tot
        |        + CAST(3 AS HUGEINT) * p2n * c1)
        |        * CAST(1000000000000 AS HUGEINT)
        |      // (CAST(4 AS HUGEINT) * m2 * n1tot) AS BIGINT) AS p2_fp
        |  FROM cb JOIN mid USING (w2) JOIN c1 USING (w3) CROSS JOIN tot)
        |SELECT w1, w2, w3, c,
        |  CAST((CAST(4 * c - 3 AS HUGEINT) * 1000000000000
        |      + CAST(3 AS HUGEINT) * p3n * p2_fp)
        |    // (CAST(4 AS HUGEINT) * l3) AS BIGINT) AS p_fp
        |FROM tc JOIN ctx USING (w1, w2) JOIN p2 USING (w2, w3)
        |WHERE c >= 3 ORDER BY w1, w2, w3""".stripMargin) { (s, d) =>
      TextOps.knTrigramProbs(Tables.documents(s, d), "doc_id", "text",
          minCount = 3L)
        .orderBy(col("w1"), col("w2"), col("w3"))
    },

    // Document log-likelihood under the KN bigram model (the CCNet scorer
    // made real): model trained on the doc_id % 3 <> 0 reference slice,
    // ALL docs scored — held-out docs exercise the context-only and OOV
    // backoff cases. Three-case p_fp floors once per case (HUGEINT =
    // decimal), ln through the sqlLog2Fp integer twin once per distinct
    // pair TYPE, per-doc weighted sums, avg as floor((-ll)/n) — positive
    // floor division agrees between DuckDB // and Spark div.
    QueryDef(
      "lm4_kn_doc_score",
      knDocScoreOracleSql) { (s, d) =>
      val docs = Tables.documents(s, d)
      TextOps.knDocScore(docs.filter(col("doc_id") % 3 =!= 0), docs,
          "doc_id", "text")
        .orderBy(col("doc_id"))
    },

    // STUPID BACKOFF doc scoring (TextOps.stupidBackoffDocScore — Brants
    // et al. 2007 §4, the LM built FOR distributed counting): trigram
    // relative frequency, α = 0.4 per backoff level folded in as the
    // exact rational 2/5 (α² = 4/25), add-one unigrams at the floor. Same
    // train/score split as lm4; the oracle replays the three count tables,
    // the CASE chain in HUGEINT and every ln through the LnFp twin.
    QueryDef(
      "lm7_stupid_backoff",
      sbDocScoreOracleSql) { (s, d) =>
      val docs = Tables.documents(s, d)
      TextOps.stupidBackoffDocScore(docs.filter(col("doc_id") % 3 =!= 0),
          docs, "doc_id", "text")
        .orderBy(col("doc_id"))
    },

    // EXACTLY-ONCE LM count-table maintenance (LmIndex): the corpus lands
    // as three micro-batches of (ord, gram, prev) sufficient statistics —
    // batch-partitioned (replays rewrite their partition; batch 1 IS
    // replayed mid-run) and gram-bucketed (the serve aggregate groups on a
    // superset of the bucket key, exchange-free). Counts are additive,
    // continuation counts distinct-over-union, minCount prunes at serve —
    // so the served table is bit-identical to lm1 over the reassembled
    // corpus, which is exactly what this oracle is (lm1's SQL verbatim).
    QueryDef(
      "lm5_lm_count_ingest",
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |g AS (SELECT n.n AS ord,
        |    array_to_string(w.w[t.i:t.i+n.n-1], ' ') AS gram,
        |    CASE WHEN t.i >= 2 THEN w.w[t.i-1] ELSE NULL END AS prev
        |  FROM w, unnest(generate_series(1, 3)) AS n(n),
        |       unnest(generate_series(1, len(w.w) - n.n + 1)) AS t(i))
        |SELECT CAST(ord AS BIGINT) AS ord, gram, COUNT(*) AS c,
        |  COUNT(DISTINCT prev) AS ccount
        |FROM g GROUP BY 1, 2 HAVING COUNT(*) >= 3
        |ORDER BY ord, gram""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val app = s.sparkContext.applicationId.replaceAll("[^a-zA-Z0-9]", "_")
      val name = "lm5_" + app
      graft.sources.Bucketing.ensureCleanTable(
        s, graft.operators.LmIndex.countsTable(name))
      graft.operators.LmIndex.writeLmIndex(
        docs.filter(col("doc_id") % 3 === 0), "text", 3, name, 8,
        seedBatch = 0L)
      graft.operators.LmIndex.ingestLmBatch(
        docs.filter(col("doc_id") % 3 === 1), 1L, "text", 3, name, 8)
      // injected retry: replay batch 1 after its partition already landed
      graft.core.Timing.overhead {
        graft.operators.LmIndex.ingestLmBatch(
          docs.filter(col("doc_id") % 3 === 1), 1L, "text", 3, name, 8)
      }
      graft.operators.LmIndex.ingestLmBatch(
        docs.filter(col("doc_id") % 3 === 2), 2L, "text", 3, name, 8)
      graft.operators.LmIndex.serveLmCounts(s, name, minCount = 3L)
        .orderBy(col("ord"), col("gram"))
    },

    // SERVE the KN doc scorer from the PERSISTED count index (lm8): lm5
    // built the train-once/serve-many loop, lm4 scored from a recount of
    // the raw train split — this closes the loop. The lm4 train split
    // (doc_id % 3 <> 0) lands in the index as two batches (seed + ingest,
    // exercising the incremental path), serveLmCounts at minCount = 1
    // reproduces the raw counts bit-for-bit (additive c, idempotent
    // ccount), and knDocScoreServed splits the ord = 2 rows back into the
    // bigram model — so the oracle is lm4's SQL VERBATIM: through-storage
    // scoring must hash-equal from-scratch scoring. Serve is
    // exchange-free on the gram bucketing (LmIndexSpec plan assert).
    QueryDef(
      "lm8_kn_served",
      knDocScoreOracleSql) { (s, d) =>
      val docs = Tables.documents(s, d)
      val app = s.sparkContext.applicationId.replaceAll("[^a-zA-Z0-9]", "_")
      val name = "lm8_" + app
      graft.sources.Bucketing.ensureCleanTable(
        s, graft.operators.LmIndex.countsTable(name))
      graft.operators.LmIndex.writeLmIndex(
        docs.filter(col("doc_id") % 3 === 1), "text", 3, name, 8,
        seedBatch = 0L)
      graft.operators.LmIndex.ingestLmBatch(
        docs.filter(col("doc_id") % 3 === 2), 1L, "text", 3, name, 8)
      TextOps.knDocScoreServed(
          graft.operators.LmIndex.serveLmCounts(s, name, minCount = 1L),
          docs, "doc_id", "text")
        .orderBy(col("doc_id"))
    },

    // Stupid Backoff through the same persisted index (lm9): the
    // THROUGHPUT scorer's whole model is lm1's count aggregate, so
    // serving it from storage is the production shape — count once at
    // ingest, score every later corpus snapshot without touching the
    // train text again. Oracle is lm7's SQL verbatim (same bit-equality
    // contract as lm8).
    QueryDef(
      "lm9_sb_served",
      sbDocScoreOracleSql) { (s, d) =>
      val docs = Tables.documents(s, d)
      val app = s.sparkContext.applicationId.replaceAll("[^a-zA-Z0-9]", "_")
      val name = "lm9_" + app
      graft.sources.Bucketing.ensureCleanTable(
        s, graft.operators.LmIndex.countsTable(name))
      graft.operators.LmIndex.writeLmIndex(
        docs.filter(col("doc_id") % 3 === 1), "text", 3, name, 8,
        seedBatch = 0L)
      graft.operators.LmIndex.ingestLmBatch(
        docs.filter(col("doc_id") % 3 === 2), 1L, "text", 3, name, 8)
      TextOps.stupidBackoffDocScoreServed(
          graft.operators.LmIndex.serveLmCounts(s, name, minCount = 1L),
          docs, "doc_id", "text")
        .orderBy(col("doc_id"))
    },

    // CCNet tiers with the REAL CCNet scorer (TextOps.knPerplexityTiers):
    // t23's per-language thirds contract ranked by lm4's KN document
    // perplexity under the doc_id % 3 <> 0 reference model. Bigram-less
    // docs are excluded (no perplexity to rank). The oracle rides lm4's
    // CTE chain and ranks per language with integer third boundaries.
    QueryDef(
      "lm6_kn_perplexity_tiers",
      s"""WITH RECURSIVE $pow2Cte,
         |w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |tb AS (SELECT w.w[t.i] AS w1, w.w[t.i+1] AS w2
         |  FROM w, unnest(generate_series(1, len(w.w) - 1)) AS t(i)
         |  WHERE doc_id % 3 <> 0),
         |bc AS (SELECT w1, w2, COUNT(*) AS c FROM tb GROUP BY 1, 2),
         |lf AS (SELECT w1, CAST(SUM(c) AS BIGINT) AS l,
         |    CAST(COUNT(*) AS BIGINT) AS p FROM bc GROUP BY 1),
         |rc AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS c1 FROM bc GROUP BY 1),
         |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS t,
         |    CAST(COUNT(DISTINCT w2) + 1 AS BIGINT) AS u FROM bc),
         |sb AS (SELECT doc_id, w.w[t.i] AS w1, w.w[t.i+1] AS w2
         |  FROM w, unnest(generate_series(1, len(w.w) - 1)) AS t(i)),
         |db AS (SELECT doc_id, w1, w2, COUNT(*) AS k FROM sb GROUP BY 1, 2, 3),
         |pt AS (SELECT DISTINCT w1, w2 FROM db),
         |pp AS (SELECT pt.w1, pt.w2, CASE
         |    WHEN bc.c IS NOT NULL THEN CAST(
         |      (CAST(4 * bc.c - 3 AS HUGEINT) * t
         |         + CAST(3 AS HUGEINT) * lf.p * rc.c1)
         |        * CAST(1000000000000 AS HUGEINT)
         |      // (CAST(4 AS HUGEINT) * lf.l * t) AS BIGINT)
         |    WHEN lf.l IS NOT NULL THEN CAST(
         |      CAST(3 AS HUGEINT) * lf.p * (coalesce(rc.c1, 0) + 1)
         |        * CAST(1000000000000 AS HUGEINT)
         |      // (CAST(4 AS HUGEINT) * lf.l * (t + u)) AS BIGINT)
         |    ELSE CAST(
         |      CAST(coalesce(rc.c1, 0) + 1 AS HUGEINT)
         |        * CAST(1000000000000 AS HUGEINT)
         |      // CAST(t + u AS HUGEINT) AS BIGINT)
         |    END AS p_fp
         |  FROM pt LEFT JOIN bc USING (w1, w2) LEFT JOIN lf USING (w1)
         |    LEFT JOIN rc USING (w2) CROSS JOIN tot),
         |l0 AS (SELECT w1 || ' ' || w2 AS key, greatest(p_fp, 1) AS p,
         |    CAST(1000000000000 AS BIGINT) AS q FROM pp),
         |${sqlLog2Fp("lk", "l0", "key")},
         |lv AS (SELECT key, $sqlLnMicroFromL AS lnp FROM lkL),
         |dl AS (SELECT doc_id, CAST(SUM(k) AS BIGINT) AS n_bigrams,
         |    CAST(SUM(k * lnp) AS BIGINT) AS ll_fp
         |  FROM db JOIN lv ON lv.key = db.w1 || ' ' || db.w2
         |  GROUP BY doc_id),
         |scored AS (SELECT d.doc_id AS did, d.lang AS grp, n_bigrams,
         |    (-ll_fp) // n_bigrams AS avg_nll_micro
         |  FROM documents d JOIN dl USING (doc_id) WHERE n_bigrams > 0),
         |ranked AS (SELECT did, grp, n_bigrams, avg_nll_micro,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY grp
         |      ORDER BY avg_nll_micro, did) AS BIGINT) AS r,
         |    COUNT(*) OVER (PARTITION BY grp) AS n FROM scored)
         |SELECT did, grp, n_bigrams, avg_nll_micro, r,
         |  CASE WHEN r * 3 <= n THEN 'head'
         |    WHEN r * 3 > n * 2 THEN 'tail'
         |    ELSE 'middle' END AS bucket
         |FROM ranked ORDER BY did""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      TextOps.knPerplexityTiers(docs.filter(col("doc_id") % 3 =!= 0), docs,
          "doc_id", "text", "lang")
        .orderBy(col("did"))
    },

    // CRAWL-TO-SHARDS COMPOSED RUN (web_app — VERDICT r18 ask #1): the
    // end-to-end a crawl user actually executes, as ONE measured pipeline:
    // executor-parallel WARC export (fixture synthesis via
    // WarcIo.exportCorpus — no driver collect) -> DSv2 WARC scan with
    // record_type pushdown (per-shard warcinfo records are skipped AT THE
    // SOURCE) -> robots-meta compliance gate fused into the scan (noindex /
    // none drop; the unquoted-content class included) -> HTML main-content
    // extraction -> unicode fix (cp1252 mojibake planted in 1/4 of pages)
    // -> quality gate -> deterministic shuffle order -> 64-doc training
    // shards -> manifest EXTENDED with a text fingerprint
    // (sum of hash48(md5(text))), so gate membership, permutation tiling
    // AND the exact post-fix text bytes all hash-check from the LANDED
    // shard files. Every stage is an already-oracle-checked operator
    // (warc1/2, t35, t25, t32, t2, sm7, sh1); what this row adds is their
    // INTERACTION — the DSv2 reader feeding the extraction shuffle and the
    // shard writer consuming the permutation — which no per-query row
    // exercises. Stage wall-split prints to stderr (corpus_app
    // discipline). The returned frame's plan starts at the landed shards,
    // so the source-side pruning/pushdown assertions live in WebAppSpec.
    QueryDef("web_app", webAppOracle) { (s, d) =>
      val stages = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
      val onStage: (String, Double) => Unit = (n, sec) => stages += (n -> sec)
      val warcDir = java.nio.file.Files.createTempDirectory("graft-web-app").toString
      val shardPath = s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:") +
        "/graft_shards_web_" + s.sparkContext.applicationId.replaceAll("[^a-zA-Z0-9]", "_")
      Timing.stage(onStage, "warc_export") {
        val rec = Tables.documents(s, d).select(
          concat(lit("https://host"), (col("doc_id") % 7).cast("string"),
            lit(".example.com/doc/"), col("doc_id").cast("string")).as("url"),
          concat(lit("2024-01-"),
            lpad((col("doc_id") % 28 + 1).cast("string"), 2, "0"),
            lit("T00:00:00Z")).as("warc_date"),
          lit("response").as("record_type"),
          lit("text/html").as("mime"),
          webPage.cast("binary").as("payload"))
        val info = s.range(8).select(
          lit(null).cast("string").as("url"),
          lit("2024-01-01T00:00:00Z").as("warc_date"),
          lit("warcinfo").as("record_type"),
          lit("application/warc-fields").as("mime"),
          lit("graft web_app warcinfo").cast("binary").as("payload"))
        graft.sources.v2.WarcIo.exportCorpus(
          rec.unionByName(info).repartitionByRange(8, col("url"))
            .sortWithinPartitions(col("url")),
          warcDir, "url", "warc_date", "record_type", "mime", "payload")
      }
      val extracted = Timing.stage(onStage, "read_gate_extract") {
        val pages = s.read.format("graft-warc").load(warcDir)
          .filter(col("record_type") === "response")
          .select(regexp_extract(col("url"), "/doc/(\\d+)$", 1)
            .cast("long").as("doc_id"),
            col("payload").cast("string").as("page"))
          .filter(not(Html.robotsNoindex(col("page"))))
        graft.core.Storage.cut(
          Html.mainContent(pages, "doc_id", "page", minChars = 25,
              maxLinkPct = 30)
            .filter(col("main_len") > 0)
            .select(col("sid").as("doc_id"),
              TextOps.fixText(col("main")).as("text")),
          eager = true)
      }
      Timing.stage(onStage, "quality_order_shards") {
        val survivors = extracted
          .filter(TextOps.qualityScore(col("text")) >= 0.5)
          .withColumn("n_main", length(col("text")).cast("long"))
        graft.operators.Sampling.writeTrainingShards(
          survivors, "doc_id", "web", docsPerShard = 64L, shardPath)
      }
      System.err.println(Timing.stageLine("web_app", stages.toSeq))
      s.read.parquet(shardPath)
        .groupBy(col("shard").cast("long").as("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_main")).as("n_chars"),
          sum(Dedup.hash48(col("doc_id").cast("string"))).as("id_fp"),
          sum(Dedup.hash48(md5(col("text")))).as("text_fp"))
        .orderBy(col("shard"))
    }
  )

  /** web_app's synthesized crawl page: a robots-meta class by doc_id % 5
    * (unquoted noindex / content-first nofollow / quoted NONE / no meta),
    * the fn4/t25 block structure (nav anchors, the doc text, a short
    * block, a link-bearing closer), and the t32 cp1252-mojibake injection
    * in the body paragraph for doc_id % 4 = 0. One rendering per engine,
    * same bytes.
    */
  private def webPage: org.apache.spark.sql.Column = {
    val meta = when(col("doc_id") % 5 === 0,
        lit("<meta name=robots content=noindex>"))
      .when(col("doc_id") % 5 === 1,
        lit("<meta content='nofollow' name=robots>"))
      .when(col("doc_id") % 5 === 2,
        lit("<meta name=\"ROBOTS\" content=\"NONE\">"))
      .otherwise(lit(""))
    val inj = when(col("doc_id") % 4 === 0,
      lit(" x\u00C3\u00A9\u00E2\u20AC\u2122y")).otherwise(lit(""))
    concat(lit("<html><head>"), meta,
      lit("</head><body><h1>"), col("source"),
      lit("</h1><nav><a href=\"/\">homepage navigation links</a> " +
        "<a href=\"/x\">all archive sections here</a></nav><p>"),
      col("text"), inj,
      lit("</p><p>tiny</p><p>Read <a href=\"/y\">details</a> about "),
      col("lang"), lit(" corpus quality.</p></body></html>"))
  }

  /** The composed web_app oracle: page synthesis, the t35 robots
    * alternation extracts, the t25 block-split/strip/keep chain, the t32
    * repair (replace of the planted sequence — repair ∘ corrupt is
    * identity on this class and the fixture text is mojibake-free), the t2
    * quality blend, sm7's permutation, sh1's shard tiling + fingerprints.
    */
  private lazy val webAppOracle: String = {
    val moji = "chr(195) || chr(169) || chr(226) || chr(8364) || chr(8482)"
    s"""WITH h AS MATERIALIZED (SELECT doc_id,
       |    '<html><head>' || CASE doc_id % 5
       |      WHEN 0 THEN '<meta name=robots content=noindex>'
       |      WHEN 1 THEN '<meta content=''nofollow'' name=robots>'
       |      WHEN 2 THEN '<meta name="ROBOTS" content="NONE">'
       |      ELSE '' END ||
       |    '</head><body><h1>' || source || '</h1><nav><a href="/">homepage navigation links</a> ' ||
       |    '<a href="/x">all archive sections here</a></nav><p>' || text ||
       |    CASE WHEN doc_id % 4 = 0 THEN ' x' || $moji || 'y' ELSE '' END ||
       |    '</p><p>tiny</p><p>Read <a href="/y">details</a> about ' || lang ||
       |    ' corpus quality.</p></body></html>' AS page
       |  FROM documents),
       |rx AS (SELECT doc_id,
       |    regexp_extract(page, '(?is)<meta[^>]*name\\s*=\\s*["'']?robots["'']?[^>]*content\\s*=\\s*(?:["'']([^"''>]*)|([^\\s"''>]+))', 1) AS nf1,
       |    regexp_extract(page, '(?is)<meta[^>]*name\\s*=\\s*["'']?robots["'']?[^>]*content\\s*=\\s*(?:["'']([^"''>]*)|([^\\s"''>]+))', 2) AS nf2,
       |    regexp_extract(page, '(?is)<meta[^>]*content\\s*=\\s*(?:["'']([^"''>]*)["'']|([^\\s"''>]+))[^>]*name\\s*=\\s*["'']?robots["'']?', 1) AS cf1,
       |    regexp_extract(page, '(?is)<meta[^>]*content\\s*=\\s*(?:["'']([^"''>]*)["'']|([^\\s"''>]+))[^>]*name\\s*=\\s*["'']?robots["'']?', 2) AS cf2
       |  FROM h),
       |toks AS (SELECT doc_id,
       |    list_filter(list_transform(string_split(lower(
       |      CASE WHEN (CASE WHEN nf1 <> '' THEN nf1 ELSE nf2 END) <> ''
       |           THEN CASE WHEN nf1 <> '' THEN nf1 ELSE nf2 END
       |           ELSE CASE WHEN cf1 <> '' THEN cf1 ELSE cf2 END END), ','),
       |      x -> trim(x)), x -> x <> '') AS tk
       |  FROM rx),
       |idx AS (SELECT h.doc_id, page FROM h JOIN toks USING (doc_id)
       |  WHERE NOT (list_contains(tk, 'noindex') OR list_contains(tk, 'none'))),
       |arr AS (SELECT doc_id, regexp_split_to_array(page,
       |    '(?i)</?(?:p|div|h[1-6]|li|ul|ol|br|table|tr|td|nav|header|footer|aside|section|article)\\b[^>]*>') AS a
       |  FROM idx),
       |b AS (SELECT doc_id, t.i AS bi, a[t.i] AS blk
       |  FROM arr, unnest(generate_series(1, len(a))) AS t(i)),
       |m AS (SELECT doc_id, bi, trim(${sqlHtmlVis("blk")}) AS vis,
       |    length(${sqlHtmlVis("blk")}) AS nv,
       |    greatest(0, length(${sqlHtmlVis("blk")})
       |      - length(${sqlHtmlVis(sqlAnchorErased("blk"))})) AS na
       |  FROM b),
       |nz AS (SELECT * FROM m WHERE length(vis) > 0),
       |agg AS (SELECT doc_id,
       |    string_agg(CASE WHEN length(vis) >= 25 AND na * 100 <= nv * 30
       |      THEN vis END, chr(10) ORDER BY bi) AS main
       |  FROM nz GROUP BY doc_id),
       |fx AS MATERIALIZED (SELECT doc_id,
       |    replace(main, $moji, chr(233) || chr(8217)) AS text
       |  FROM agg WHERE main IS NOT NULL AND length(main) > 0),
       |surv AS (SELECT doc_id, text FROM fx
       |  WHERE 0.4 * least(1.0, greatest(CAST(len(string_split(text, ' ')) AS DOUBLE), 1.0) / 100.0)
       |      + 0.3 * (1.0 - CAST(len(regexp_extract_all(text, '[^a-z0-9 ]')) AS DOUBLE)
       |          / greatest(CAST(length(text) AS DOUBLE), 1.0))
       |      + 0.3 * least(1.0, 4.0 * CAST(len(list_filter(string_split(text, ' '),
       |            w -> w IN (${sqlList(TextOps.stopwords)}))) AS DOUBLE)
       |          / greatest(CAST(len(string_split(text, ' ')) AS DOUBLE), 1.0)) >= 0.5),
       |p AS (SELECT doc_id, text, (ROW_NUMBER() OVER (
       |    ORDER BY ${sqlHash("'web:' || doc_id", 8)}, doc_id) - 1) // 64 AS shard
       |  FROM surv)
       |SELECT shard, COUNT(*) AS n_docs,
       |  CAST(SUM(length(text)) AS BIGINT) AS n_chars,
       |  CAST(SUM(${sqlHash("CAST(doc_id AS VARCHAR)", 12)}) AS BIGINT) AS id_fp,
       |  CAST(SUM(${sqlHash("md5(text)", 12)}) AS BIGINT) AS text_fp
       |FROM p GROUP BY shard ORDER BY shard""".stripMargin
  }

  /** The persisted-index CTE chain up to `dist (qid, nid, d2)` — shared by
    * the raw-ADC serve oracles (s19/ds3) and the refine serve oracle (s20),
    * which extends it with a shortlist + exact-cosine re-rank (the s17
    * pattern over the persisted chain).
    */
  private lazy val persistedIvfPqCtes: String =
      s"""WITH $quantVecCte,
         |base AS (SELECT sid, qv FROM v WHERE sid >= 8 AND sid % 4 <> 0),
         |cset AS (SELECT sid, qv FROM v WHERE sid >= 8),
         |qset AS (SELECT sid, qv FROM v WHERE sid < 8),
         |cent AS (SELECT sid AS cid, qv AS cv FROM base ORDER BY sid LIMIT 16),
         |mranked AS MATERIALIZED (SELECT sid, cid,
         |    ROW_NUMBER() OVER (PARTITION BY sid ORDER BY ccos DESC, cid) AS crank
         |  FROM (SELECT s.sid, c.cid, ${sqlCosine("s.qv", "c.cv")} AS ccos
         |        FROM cset s CROSS JOIN cent c)),
         |pranked AS (SELECT sid, cid,
         |    ROW_NUMBER() OVER (PARTITION BY sid ORDER BY ccos DESC, cid) AS crank
         |  FROM (SELECT s.sid, c.cid, ${sqlCosine("s.qv", "c.cv")} AS ccos
         |        FROM qset s CROSS JOIN cent c)),
         |e AS MATERIALIZED (SELECT sid, qv[pos] AS q,
         |    ((pos - 1) // 8) AS m, ((pos - 1) % 8) AS j
         |  FROM v, unnest(generate_series(1, 64)) AS t(pos)),
         |seeds AS (SELECT sid, ROW_NUMBER() OVER (ORDER BY sid) - 1 AS code
         |  FROM (SELECT DISTINCT sid FROM base ORDER BY sid LIMIT 16)),
         |cb AS (SELECT s.code, e.m, e.j, e.q FROM e JOIN seeds s USING (sid)),
         |a AS MATERIALIZED (SELECT e.sid, e.m, cb.code,
         |    CAST(SUM((e.q - cb.q) * (e.q - cb.q)) AS BIGINT) AS d2
         |  FROM e JOIN cb ON e.m = cb.m AND e.j = cb.j GROUP BY 1, 2, 3),
         |codes AS (SELECT sid, m, code FROM (SELECT a.sid, m, code,
         |    ROW_NUMBER() OVER (PARTITION BY a.sid, m ORDER BY d2, code) AS rn
         |  FROM a JOIN cset cs ON cs.sid = a.sid) WHERE rn = 1),
         |members AS (SELECT r.cid, cd.sid AS nid, cd.m, cd.code
         |  FROM mranked r JOIN codes cd ON r.sid = cd.sid WHERE r.crank = 1),
         |probes AS (SELECT cid, sid AS qid FROM pranked WHERE crank <= 4),
         |dist AS (SELECT p.qid, mem.nid, CAST(SUM(qa.d2) AS BIGINT) AS d2
         |  FROM probes p JOIN members mem ON p.cid = mem.cid
         |  JOIN a qa ON qa.sid = p.qid AND qa.m = mem.m AND qa.code = mem.code
         |  GROUP BY 1, 2)""".stripMargin

  /** Relational spec of the persisted-index flow, shared by s19 (build +
    * frozen append + serve) and ds3 (exactly-once streaming ingest with a
    * retry replay): cells and codebook derive from the BASE set only
    * (sid >= 8, sid % 4 <> 0 — the training state is FROZEN before any
    * append), codes cover base + appended batches (sid >= 8), queries are
    * sid < 8. Any divergence between the two queries' storage paths and
    * this one spec is a hash mismatch.
    */
  private lazy val persistedIvfPqOracle: String =
      s"""$persistedIvfPqCtes
         |SELECT qid, nid, d2, rank FROM (
         |  SELECT qid, nid, d2,
         |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d2 ASC, nid ASC) AS rank
         |  FROM dist) WHERE rank <= 5 ORDER BY qid, rank""".stripMargin
}
