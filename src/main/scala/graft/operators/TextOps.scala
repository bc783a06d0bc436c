package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for large-scale training-data pipelines:
  * token counting, document fingerprinting, quality scoring, language ID.
  *
  * Everything is pure Column algebra over `functions._` — codegen'd, no UDFs,
  * so the ops run inside whole-stage codegen and scale linearly with no
  * shuffle (all are per-row). Integer-valued features are exact; the quality
  * score is a fixed double expression tree an oracle can mirror verbatim.
  */
object TextOps {

  /** Whitespace token count (the "fast path" tokenizer). */
  def wsTokenCount(text: Column): Column =
    size(split(trim(text), "\\s+"))

  /** Stage-0 text hygiene: mojibake repair (UTF-8-as-latin1/cp1252 double
    * encoding, to fixpoint) + NFC normalization + control-char removal in
    * one native codegen'd kernel — see [[graft.plans.UnicodeFix]] for the
    * exact semantics. Run this BEFORE any other text operator on crawl
    * input: t1/t11/t22 and the dedup fingerprints all assume sane UTF-8.
    */
  def fixText(text: Column): Column = graft.plans.UnicodeFix.unicodeFix(text)

  /** BPE-ish token count: alnum runs + single non-alnum marks, the shape a
    * byte-pair tokenizer's pre-tokenizer produces. Regex kept to the
    * Java/RE2 common subset so oracles agree.
    */
  val bpeishPattern = "[a-z0-9]+|[^a-z0-9 ]"
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(bpeishPattern), lit(0)))

  /** Normalized document fingerprint: lowercase, collapse whitespace, md5.
    * Used for near-exact dedup robust to spacing/case differences.
    */
  def fingerprint(text: Column): Column =
    md5(lower(regexp_replace(text, "\\s+", " ")))

  /** Words of a document (single-space tokenizer, matching the fixtures'
    * generator). */
  def words(text: Column): Column = split(text, " ")

  val stopwords: Seq[String] =
    Seq("the", "a", "an", "and", "or", "of", "in", "on", "to", "is")

  /** Quality-scoring components + a weighted score. All components are
    * ratios of exact integers; the final score is one fixed double
    * expression.
    */
  def nWords(text: Column): Column = size(words(text))

  // = size(filter(words(text), _.isin(stopwords))), but HOF filters are
  // CodegenFallback (interpreted per element + a split array per call);
  // the native kernel is one codegen'd byte pass (round 19 — the same
  // swap as markerScore; WordSetCountLong doc has the numbers)
  def stopwordCount(text: Column): Column =
    graft.plans.WordSetCountLong.wordSetCount(text, stopwords)

  def punctCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[^a-z0-9 ]"), lit(0)))

  /** score = 0.4*min(1, words/100) + 0.3*(1 - punct/chars)
    *        + 0.3*min(1, 4*stop/words) — an interpretable blend of length,
    * cleanliness and natural-language-ness (stopword density ~25% in real
    * English text; 4x maps that to 1.0).
    */
  def qualityScore(text: Column): Column = {
    // greatest(_, 1): empty documents must score, not throw — ANSI mode
    // turns 0/0 into a job-killing DIVIDE_BY_ZERO
    val nw = greatest(nWords(text).cast("double"), lit(1.0))
    val nc = greatest(length(text).cast("double"), lit(1.0))
    val np = punctCount(text).cast("double")
    val ns = stopwordCount(text).cast("double")
    lit(0.4) * least(lit(1.0), nw / 100.0) +
      lit(0.3) * (lit(1.0) - np / nc) +
      lit(0.3) * least(lit(1.0), lit(4.0) * ns / nw)
  }

  /** Winnowing fingerprints (Schleimer, Wilkerson, Aiken: "Winnowing: Local
    * Algorithms for Document Fingerprinting", SIGMOD 2003): hash every
    * k-gram, then keep the minimum hash of each sliding window of w
    * consecutive k-grams. Guarantees: any match of length >= w+k-1 shares a
    * fingerprint; output size is ~2/(w+1) of the k-gram count.
    *
    * Spark shape: winnowing is per-document, so the whole computation runs
    * inside one native codegen'd expression (graft.plans.WinnowLong: O(n)
    * digests + monotonic-deque window minima + local distinct) followed by a
    * narrow explode — ZERO shuffles, versus the relational formulation
    * (explode positions -> sort-window min -> distinct) that exchanges
    * |corpus| x |doc length| rows twice for the same output.
    */
  def winnowFingerprints(df: org.apache.spark.sql.DataFrame, idCol: String,
                         textCol: String, k: Int, w: Int): org.apache.spark.sql.DataFrame =
    df.select(col(idCol).as("sid"),
      explode(graft.plans.WinnowLong.winnowLong(col(textCol), k, w)).as("fp"))

  /** TOKENIZER FERTILITY / compression by language — the table a
    * multilingual budget plan reads before fixing per-language token
    * quotas: bytes and whitespace-words per BPE-ish token, per language
    * (fertility varies 2-4x across scripts, so an equal-TOKEN mix is a
    * very unequal BYTE mix). Counts are exact longs; the two ratios are
    * one double division each under round-6. ONE map-side-combinable
    * aggregate over one scan.
    */
  def tokenizerFertility(df: org.apache.spark.sql.DataFrame, langCol: String,
                         textCol: String): org.apache.spark.sql.DataFrame =
    df.groupBy(col(langCol).as("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(octet_length(col(textCol)).cast("long")).as("n_bytes"),
        sum(nWords(col(textCol)).cast("long")).as("n_words"),
        sum(bpeishTokenCount(col(textCol)).cast("long")).as("n_tokens"))
      .withColumn("bytes_per_token",
        round(col("n_bytes").cast("double") /
          nullif(col("n_tokens").cast("double"), lit(0.0)), 6))
      .withColumn("words_per_token",
        round(col("n_words").cast("double") /
          nullif(col("n_tokens").cast("double"), lit(0.0)), 6))

  /** Within-document paragraph dedup-and-rebuild (Rae et al. 2021,
    * "Scaling Language Models: ... Gopher", arXiv:2112.11446 §A1.1
    * repetition REMOVAL — the operator t13's signals only measure):
    * repeated paragraphs are DROPPED keep-first — exact match after
    * whitespace normalization (trim + collapse runs; case significant) —
    * and the document is rebuilt from the survivors in original order.
    *
    * `sep` is a LITERAL paragraph separator (regex-quoted for the split,
    * reused verbatim for the rebuild), so a document with no duplicate
    * paragraphs rebuilds to exactly itself (the reconstruction invariant,
    * property-spec'd).
    *
    * Scale shape: the whole computation is per-row array algebra inside
    * the scan — split, per-paragraph normalize, keep-first filter by
    * first-occurrence index, re-join. The TEXT NEVER SHUFFLES (the d31
    * rebuild posture); keep-first within a row is array_position over the
    * normalized array — O(p²) in the row's own paragraph count, bounded by
    * document size, never by corpus size.
    */
  def paragraphDedup(df: org.apache.spark.sql.DataFrame, idCol: String,
                     textCol: String, sep: String): org.apache.spark.sql.DataFrame = {
    val paras = split(col(textCol), java.util.regex.Pattern.quote(sep), -1)
    df.select(col(idCol).as("sid"), paras.as("__paras"),
        transform(paras, p => regexp_replace(trim(p), "\\s+", " ")).as("__norms"))
      .select(col("sid"), col("__paras"),
        filter(col("__paras"), (_, i) =>
          array_position(col("__norms"), element_at(col("__norms"), i + 1))
            === (i + 1).cast("long")).as("__kept"))
      .select(col("sid"),
        array_join(col("__kept"), sep).as("text_dedup"),
        size(col("__paras")).cast("long").as("n_paras"),
        size(col("__kept")).cast("long").as("n_kept"))
  }

  /** Bigram corpus statistics for training-data quality filtering: per-doc
    * repetition ratio (1 - distinct/total bigrams — boilerplate and spam
    * repeat themselves) and corpus-frequency coverage (fraction of the doc's
    * bigram occurrences seen >= minCount times corpus-wide — the
    * integer-exact stand-in for LM plausibility: fluent text is made of
    * common transitions, gibberish is not).
    *
    * Everything is counting: one explode -> (bigram)-keyed count -> one join
    * back -> per-doc aggregate. All outputs are integer ratios with a single
    * final division, so the oracle matches bit-for-bit (no transcendental
    * log-prob — see ExactAgg's float discipline). Docs with < 2 words have
    * no bigrams and drop out, as in the SQL mirror.
    */
  def bigramStats(df: org.apache.spark.sql.DataFrame, idCol: String,
                  textCol: String, minCount: Long): org.apache.spark.sql.DataFrame = {
    // WordWindowsLong kernel — identical (sid, gram) multiset to
    // Dedup.wordShinglesAll (the PropertySpec-pinned relational twin),
    // computed in one codegen pass instead of split + explode + per-window
    // array_join(slice) allocations (round 20)
    val bigrams = df.select(col(idCol).as("sid"),
      explode(graft.plans.WordWindowsLong.wordWindows(col(textCol), 2))
        .as("gram"))
    val counts = bigrams.groupBy(col("gram")).agg(count(lit(1)).as("c"))
    bigrams.join(counts, "gram")
      .groupBy(col("sid"))
      .agg(
        count(lit(1)).as("n_bigrams"),
        countDistinct(col("gram")).as("n_distinct"),
        sum(when(col("c") >= minCount, 1L).otherwise(0L)).as("n_freq"))
      .select(col("sid"), col("n_bigrams"), col("n_distinct"),
        (lit(1.0) - col("n_distinct").cast("double") / col("n_bigrams"))
          .as("rep_ratio"),
        (col("n_freq").cast("double") / col("n_bigrams")).as("coverage"))
  }

  /** Gopher-style intra-document repetition signals over word n-grams: the
    * occurrence share of the single most-repeated n-gram (`top_frac`, the
    * paper's "fraction in top n-gram" filter) and the duplicate-occurrence
    * share (`dup_frac` = 1 - distinct/total). High values mark looping or
    * boilerplate-stuffed documents that the t2/t11 length-and-stopword
    * rules cannot see.
    *
    * Scale shape: n-grams reduce to per-(doc, gram-hash) counts BEFORE the
    * per-doc aggregate (two map-side-combinable groupBys on the doc key —
    * the second reuses the first's partitioning, no extra exchange), only
    * 8-byte hashes shuffle, and each ratio is one final division of exact
    * integers. Docs with < n words have no grams and drop out, as in the
    * SQL mirror.
    */
  def repetitionSignals(df: org.apache.spark.sql.DataFrame, idCol: String,
                        textCol: String, n: Int): org.apache.spark.sql.DataFrame =
    Dedup.wordShingleHashesAll(df, idCol, textCol, n)
      // pre-partition on the doc key: sid satisfies BOTH groupBys'
      // clustering (the x12 pattern), so the per-gram and per-doc
      // aggregates share one exchange
      .repartition(col("sid"))
      .groupBy(col("sid"), col("g")).agg(count(lit(1)).as("c"))
      .groupBy(col("sid"))
      .agg(sum(col("c")).as("n_grams"), max(col("c")).as("top_count"),
        count(lit(1)).as("n_distinct"))
      .select(col("sid"), col("n_grams"), col("top_count"),
        (col("top_count").cast("double") / col("n_grams")).as("top_frac"),
        (lit(1.0) - col("n_distinct").cast("double") / col("n_grams")).as("dup_frac"))

  /** Corpus-trained subword vocabulary: the `topWords` most frequent words
    * stay whole pieces, the `topBigrams` most frequent character bigrams
    * (counted over word occurrences WITH multiplicity) become mid-word
    * pieces, and every character seen in the corpus is a fallback piece —
    * so greedy segmentation always terminates with zero [UNK]s on the
    * training corpus. Ties break on the piece string; the whole build is
    * three counting aggregations, and the result is DIMENSION-sized (a
    * hundred strings), which is why collecting it to the driver as a
    * plan-time constant is the right call — the same posture as broadcast
    * dims and IVF centroids.
    */
  def subwordVocab(df: org.apache.spark.sql.DataFrame, textCol: String,
                   topWords: Int, topBigrams: Int): Seq[String] = {
    import df.sparkSession.implicits._
    val toks = df.select(explode(split(col(textCol), " ")).as("w"))
      .filter(length(col("w")) > 0)
    val words = toks.groupBy(col("w")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w")).limit(topWords)
      .select(col("w")).as[String].collect().toSeq
    val bigrams = toks
      .select(col("w"),
        explode(when(length(col("w")) >= 2, sequence(lit(1), length(col("w")) - 1)))
          .as("i"))
      .select(substring(col("w"), col("i"), lit(2)).as("bg"))
      .groupBy(col("bg")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("bg")).limit(topBigrams)
      .select(col("bg")).as[String].collect().toSeq
    val chars = toks
      .select(explode(sequence(lit(1), length(col("w")))).as("i"), col("w"))
      .select(substring(col("w"), col("i"), lit(1)).as("ch"))
      .distinct().orderBy(col("ch")).as[String].collect().toSeq
    (words ++ bigrams ++ chars).distinct
  }

  /** Total greedy-subword piece count per document against a fixed vocab
    * (graft.plans.SubwordCount — per-row, zero shuffle).
    */
  def subwordTokenCount(text: Column, vocab: Seq[String]): Column =
    graft.plans.SubwordCount.subwordCount(text, vocab)

  /** Apply trained BPE merges (in rank order) to a word: the segmentation a
    * trained tokenizer produces, as an array of pieces. The APPLY half of
    * [[bpeMerges]]: pure per-row array algebra with the merge table riding
    * as literals (dimension-sized training output, the broadcast-dim
    * posture) — shuffle-free at any corpus size. Same greedy left-to-right
    * fold as training, so training-corpus words segment exactly as the
    * trainer's final state has them.
    *
    * Expression-size contract: each merge adds one fold layer, so this form
    * suits small merge tables ONLY (tests and the spec twin of the native
    * kernel — each layer is an interpreted `aggregate`, and the plan tree
    * grows per merge). Production paths apply through [[bpeSegment]]
    * (`plans.BpeSegment`), one native kernel with identical semantics
    * regardless of merge-table size.
    */
  def bpeSegmentCol(word: Column, merges: Seq[(String, String)]): Column =
    merges.foldLeft(split(word, "")) { case (arr, (l, r)) =>
      aggregate(arr, array().cast("array<string>"), (acc, x) =>
        when(size(acc) > 0 && element_at(acc, -1) === lit(l) && x === lit(r),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
          .otherwise(concat(acc, array(x))))
    }

  /** Native BPE merge application ([[graft.plans.BpeSegment]]): identical
    * segmentation to [[bpeSegmentCol]] — each merge one greedy
    * left-to-right pass, in rank order; spec-asserted equal on the trained
    * fixtures, random words, and the pair-reformation adversary — as ONE
    * native kernel call, so production-sized merge tables (30k) apply
    * without the fold's expression-size limit.
    */
  def bpeSegment(word: Column, merges: Seq[(String, String)]): Column =
    graft.plans.BpeSegment.bpeSegment(word, merges)

  /** REAL BPE merge training: `rounds` iterations of count-all-adjacent-
    * symbol-pairs -> merge the argmax pair corpus-wide (ties: lexicographic
    * (lft, rgt)) — the algorithm behind GPT-2/SentencePiece vocabularies,
    * not a frequency-ranked substring heuristic. Returns one row per merge,
    * in order: (rank, lft, rgt, merged, pair_freq). [[subwordVocab]] /
    * [[subwordTokenCount]] (t9) remain the greedy APPLY path; this is the
    * trainer that produces their vocabulary.
    *
    * Semantics pinned for oracle parity: pair counts are over the word-
    * frequency table (standard BPE — each distinct word weighted by its
    * corpus frequency), adjacent pairs count WITH overlap, and a merge
    * applies greedily left-to-right within each word (in "aaa", pair (a,a)
    * merges positions 1-2, not 2-3). No end-of-word marker — a documented
    * simplification; adding one changes the alphabet, not the algorithm.
    *
    * Scale shape: the corpus collapses to (word, freq) ONCE (one map-side-
    * combinable aggregate — at 100 TB the word table is millions of rows,
    * not corpus-sized); each round is then one pair-count aggregate over
    * 8-ish-byte pairs, a ONE-ROW argmax collect (the merge decision is a
    * plan-time constant, the IVF-centroid posture), and a shuffle-free
    * per-row fold applying the merge. The evolving symbol table is
    * Storage.cut per round with the superseded round freed — the
    * connectedComponents checkpoint discipline, without which `rounds`
    * self-referencing plans re-analyze exponentially.
    */
  def bpeMerges(df: org.apache.spark.sql.DataFrame, textCol: String,
                rounds: Int): org.apache.spark.sql.DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val spark = df.sparkSession
    import spark.implicits._
    graft.core.Storage.freeingIntermediates(spark) {
      var st = graft.core.Storage.cut(
        df.select(explode(split(col(textCol), " ")).as("w"))
          .filter(length(col("w")) > 0)
          .groupBy(col("w")).agg(count(lit(1)).as("freq"))
          .select(split(col("w"), "").as("syms"), col("freq")),
        eager = true)
      val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, String, Long)]
      var r = 0
      var dry = false
      while (r < rounds && !dry) {
        // sequence(1, 0) DESCENDS in Spark, so single-symbol words need the
        // explicit empty-array guard (the wordShingles pattern) or ANSI
        // mode aborts on the out-of-bounds element_at
        val top = st
          .select(col("freq"),
            explode(when(size(col("syms")) >= 2,
              transform(sequence(lit(1), size(col("syms")) - 1), i =>
                struct(element_at(col("syms"), i).as("l"),
                  element_at(col("syms"), i + 1).as("r"))))
              .otherwise(array().cast("array<struct<l:string,r:string>>"))).as("p"))
          .groupBy(col("p.l").as("l"), col("p.r").as("r"))
          .agg(sum(col("freq")).as("c"))
          .orderBy(col("c").desc, col("l"), col("r"))
          .limit(1).as[(String, String, Long)].collect()
        top.headOption match {
          case None => dry = true // every word is a single symbol
          case Some((l, rt, c)) =>
            merges += ((r + 1L, l, rt, l + rt, c))
            val next = graft.core.Storage.cut(
              st.select(
                aggregate(col("syms"), array().cast("array<string>"), (acc, x) =>
                  when(size(acc) > 0 &&
                      element_at(acc, -1) === lit(l) && x === lit(rt),
                    concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + rt))))
                    .otherwise(concat(acc, array(x)))).as("syms"),
                col("freq")),
              eager = true)
            graft.core.Storage.freeCheckpoint(st)
            st = next
        }
        r += 1
      }
      graft.core.Storage.cut(
        merges.toSeq.toDF("rank", "lft", "rgt", "merged", "pair_freq"))
    }
  }

  /** BATCHED-merge BPE training — the scale regime [[bpeMerges]]'s Scaladoc
    * flags: exact argmax-BPE pays one driver round-trip (2 Spark jobs) PER
    * MERGE, so a 30k-merge production vocabulary is 60k jobs. This variant
    * merges up to `batchK` NON-OVERLAPPING top pairs per sweep — the
    * standard scalable approximation (pairs sharing no symbol can merge in
    * one pass without perturbing each other's greedy application; a pair
    * touching an already-selected symbol is deferred to the next sweep
    * because the earlier merge invalidates its count). Jobs-per-vocab drops
    * from 2/merge toward 2/batchK per merge — sub-linear in vocabulary
    * size, measured in TextOpsSpec.
    *
    * `batchK = 1` degrades EXACTLY to [[bpeMerges]] (property-tested
    * against it as an independent implementation): one sweep selects one
    * argmax with the same (count desc, pair asc) tie-break and recomputes
    * counts before the next. Exact mode stays the oracle path (t14);
    * batchK > 1 is an approximation — recorded pair_freq values are
    * PRE-SWEEP counts, and merge order within a sweep follows the same
    * tie-break.
    */
  def bpeMergesBatched(df: org.apache.spark.sql.DataFrame, textCol: String,
                       rounds: Int, batchK: Int): org.apache.spark.sql.DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    require(batchK >= 1, s"batchK must be >= 1, got $batchK")
    val spark = df.sparkSession
    import spark.implicits._
    graft.core.Storage.freeingIntermediates(spark) {
      var st = graft.core.Storage.cut(
        df.select(explode(split(col(textCol), " ")).as("w"))
          .filter(length(col("w")) > 0)
          .groupBy(col("w")).agg(count(lit(1)).as("freq"))
          .select(split(col("w"), "").as("syms"), col("freq")),
        eager = true)
      val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, String, Long)]
      var dry = false
      while (merges.size < rounds && !dry) {
        val top = st
          .select(col("freq"),
            explode(when(size(col("syms")) >= 2,
              transform(sequence(lit(1), size(col("syms")) - 1), i =>
                struct(element_at(col("syms"), i).as("l"),
                  element_at(col("syms"), i + 1).as("r"))))
              .otherwise(array().cast("array<struct<l:string,r:string>>"))).as("p"))
          .groupBy(col("p.l").as("l"), col("p.r").as("r"))
          .agg(sum(col("freq")).as("c"))
          .orderBy(col("c").desc, col("l"), col("r"))
          .limit(batchK).as[(String, String, Long)].collect()
        if (top.isEmpty) dry = true
        else {
          // greedy non-overlapping selection in rank order: a pair is
          // deferred if either symbol was consumed by an earlier selection
          // this sweep (its count is stale once that merge applies) — and
          // the merged OUTPUT symbol is reserved too, so a later selection
          // cannot consume tokens the earlier merge only just created
          // (within one sweep every selected merge applies to pre-sweep
          // token state)
          val used = scala.collection.mutable.Set.empty[String]
          val selected = top.iterator
            .filter { case (l, r, _) => !used(l) && !used(r) }
            .map { p => used += p._1; used += p._2; used += p._1 + p._2; p }
            .take(rounds - merges.size)
            .toSeq
          selected.foreach { case (l, rt, c) =>
            merges += ((merges.size + 1L, l, rt, l + rt, c))
          }
          // ONE pass applies every selected merge, in selection order —
          // the same greedy left-to-right fold, merges chained in one
          // expression so the sweep costs one job regardless of batchK
          val folded = selected.foldLeft(col("syms")) { case (arr, (l, rt, _)) =>
            aggregate(arr, array().cast("array<string>"), (acc, x) =>
              when(size(acc) > 0 &&
                  element_at(acc, -1) === lit(l) && x === lit(rt),
                concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + rt))))
                .otherwise(concat(acc, array(x))))
          }
          val next = graft.core.Storage.cut(
            st.select(folded.as("syms"), col("freq")), eager = true)
          graft.core.Storage.freeCheckpoint(st)
          st = next
        }
      }
      graft.core.Storage.cut(
        merges.toSeq.toDF("rank", "lft", "rgt", "merged", "pair_freq"))
    }
  }

  /** PII patterns, kept to the Java-regex / RE2 common subset (explicit
    * classes, no lookaround) so engine and oracle agree. The phone pattern is
    * the reserved 555 fictional range — a stand-in for locale-specific
    * matchers.
    */
  val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val urlRe = "https?://[^ ]+"
  val phoneRe = "555-[0-9]{4}"

  def piiCount(text: Column, re: String): Column =
    size(regexp_extract_all(text, lit(re), lit(0)))

  /** Redact emails/URLs/phones with typed placeholders — the scrub pass a
    * training pipeline runs before tokenization. URL first: its character
    * class is the greediest; the others cannot match inside a placeholder.
    */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, urlRe, "<URL>"),
        emailRe, "<EMAIL>"),
      phoneRe, "<PHONE>")

  /** Language-ID marker words per language: the highest-frequency function
    * words of each (for zh, the real function CHARACTERS — 的 是 了 我 你 —
    * not romanizations, so Chinese text is recognized by its own script).
    * Membership counts over the single-space tokenizer; deterministic argmax
    * with a fixed priority order (en > de > es > fr > zh) on ties.
    */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "is", "a"),
    "de" -> Seq("der", "und", "die", "das", "ist"),
    "es" -> Seq("el", "la", "los", "que", "es"),
    "fr" -> Seq("le", "la", "et", "les", "est"),
    "zh" -> Seq("的", "是", "了", "我", "你")
  )

  /** A marker-dense phrase per language (3 repetitions of its marker list):
    * used to synthesize a multilingual corpus from the fixtures' `lang`
    * labels so language ID can be verified to DISCRIMINATE (the generated
    * English word-salad alone exercises only the `en` branch).
    */
  def langPhrase(l: String): String = {
    val ms = langMarkers.toMap.apply(l)
    Seq.fill(3)(ms.mkString(" ")).mkString(" ")
  }

  def markerScore(text: Column, markers: Seq[String]): Column =
    graft.plans.WordSetCountLong.wordSetCount(text, markers)

  /** Split documents into fixed-length character chunks with overlap — the
    * context-window preprocessing in front of embedding/indexing jobs.
    * Emits (id, chunk_id, chunk_start 1-based, chunk_text); stride =
    * chunkLen - overlap. Pure explode + substring — map-side only, no
    * shuffle, fuses into the scan at any scale.
    */
  def chunkDocs(df: org.apache.spark.sql.DataFrame, idCol: String,
                textCol: String, chunkLen: Int, overlap: Int)
      : org.apache.spark.sql.DataFrame = {
    require(chunkLen > overlap && overlap >= 0,
      s"need chunkLen > overlap >= 0, got ($chunkLen, $overlap)")
    val stride = chunkLen - overlap
    df.select(col(idCol),
      posexplode(sequence(lit(1), greatest(length(col(textCol)), lit(1)),
        lit(stride))).as(Seq("chunk_id", "chunk_start")),
      col(textCol))
      .select(col(idCol), col("chunk_id").cast("long").as("chunk_id"),
        col("chunk_start").cast("long").as("chunk_start"),
        col(textCol).substr(col("chunk_start"), lit(chunkLen)).as("chunk_text"))
  }

  /** Split documents into TOKEN-budget windows with overlap — the
    * context-window preprocessing for models that count tokens, not
    * characters (RAG chunking, long-doc embedding): chunk i covers
    * whitespace tokens [1 + i*stride, i*stride + chunkToks], stride =
    * chunkToks - overlap. Emits (id, chunk_id, tok_start 1-based,
    * chunk_text, n_tokens); the final partial window is kept (its
    * n_tokens says how short it ran). Empty docs emit one empty chunk —
    * dropping rows here would silently lose ids mid-pipeline.
    *
    * Same scale posture as [[chunkDocs]]: split + explode + slice is
    * map-side only, no shuffle, fuses into the scan. Whitespace tokens are
    * the budget proxy; swap in per-doc BPE piece counts
    * ([[bpeMergesBatched]] + [[bpeSegment]]) when the real tokenizer's
    * counts matter.
    */
  def chunkTokens(df: org.apache.spark.sql.DataFrame, idCol: String,
                  textCol: String, chunkToks: Int, overlap: Int)
      : org.apache.spark.sql.DataFrame = {
    require(chunkToks > overlap && overlap >= 0,
      s"need chunkToks > overlap >= 0, got ($chunkToks, $overlap)")
    val stride = chunkToks - overlap
    df.select(col(idCol),
        filter(words(col(textCol)), w => length(w) > 0).as("__w"))
      .select(col(idCol), col("__w"),
        posexplode(sequence(lit(1), greatest(size(col("__w")), lit(1)),
          lit(stride))).as(Seq("chunk_id", "tok_start")))
      .select(col(idCol), col("chunk_id").cast("long").as("chunk_id"),
        col("tok_start").cast("long").as("tok_start"),
        concat_ws(" ", slice(col("__w"), col("tok_start"), lit(chunkToks)))
          .as("chunk_text"),
        least(lit(chunkToks), size(col("__w")) - col("tok_start") + 1)
          .cast("long").as("n_tokens"))
  }

  /** BM25 keyword ranking over whitespace tokens: score every document
    * holding at least one query term, highest first (ties: lowest id).
    * Scores are rounded to 6dp — BM25's idf log may differ in the last ulp
    * between engines (the a8_median discipline).
    *
    * Scale shape: tokens are filtered to the query terms BEFORE any
    * aggregation (the IN-list prunes ~all rows map-side), document lengths
    * are one count per doc, corpus stats ride in a single broadcast row,
    * and per-term document frequencies are a terms-sized broadcast join.
    * The per-(doc, term) score sums in a FIXED expression order (one column
    * per query term), so the double addition is deterministic across
    * engines and partitionings.
    */
  def bm25Rank(df: org.apache.spark.sql.DataFrame, idCol: String,
               textCol: String, terms: Seq[String], k: Int,
               k1: Double = 1.2, b: Double = 0.75)
      : org.apache.spark.sql.DataFrame = {
    require(terms.nonEmpty && terms.size <= 16, "1..16 query terms")
    val toks = df.select(col(idCol).as("did"),
      explode(words(col(textCol))).as("tok"))
    val dl = toks.groupBy(col("did")).agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).cast("double").as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    val tf = toks.filter(col("tok").isin(terms: _*))
      .groupBy(col("did"), col("tok")).agg(count(lit(1)).as("tf"))
    bm25ScoreFrames(tf, dl, stats, terms, k, k1, b)
      .withColumnRenamed("did", idCol)
  }

  /** Simple BM25F — FIELD-weighted BM25 (Robertson & Zaragoza 2009 §3.3.1,
    * the Elasticsearch/Lucene multi-field ranking shape): a hit in the
    * title outweighs the same hit in the body. Fields here derive from
    * position (title = first `titleLen` tokens, body = the rest — the
    * convention when sources ship one text blob); per (doc, term) the
    * field tf's are length-normalized PER FIELD against that field's own
    * average length, weighted (w_title·c_t + w_body·c_b, fixed order) and
    * saturated ONCE through k1 — the "simple BM25F" that fixes plain
    * BM25's per-field saturation double-count. idf counts docs containing
    * the term in ANY field.
    *
    * Determinism: the fts1 contract — per-term scores are one fixed IEEE
    * expression, per-doc totals sum in fixed `terms` order, round(·, 6).
    * Scale shape: the bm25Rank posture — only query-term hits leave the
    * token fan-out; field lengths and averages are ≤2-row-per-doc /
    * 2-row-broadcast aggregates; top-k is TakeOrderedAndProject.
    */
  def bm25fRank(df: org.apache.spark.sql.DataFrame, idCol: String,
                textCol: String, terms: Seq[String], k: Int,
                titleLen: Int = 8, wTitle: Double = 2.0, wBody: Double = 1.0,
                k1: Double = 1.2, b: Double = 0.75)
      : org.apache.spark.sql.DataFrame = {
    require(terms.nonEmpty && terms.size <= 16, "1..16 query terms")
    require(titleLen >= 1 && titleLen <= 1000,
      s"titleLen must be in [1, 1000], got $titleLen")
    val wa = words(col(textCol))
    val fields = df.select(col(idCol).as("did"),
      slice(wa, 1, titleLen).as("__t"),
      slice(wa, lit(titleLen + 1),
        greatest(size(wa) - titleLen, lit(0))).as("__b"))
    val ftoks = graft.core.Storage.cut(
      fields.select(col("did"), lit("t").as("f"), explode(col("__t")).as("tok"))
        .unionByName(fields.select(col("did"), lit("b").as("f"),
          explode(col("__b")).as("tok"))),
      eager = false)
    val flen = ftoks.groupBy(col("did"), col("f")).agg(count(lit(1)).as("lf"))
    val favg = flen.groupBy(col("f"))
      .agg((sum(col("lf")).cast("double") / count(lit(1))).as("af"))
    val nstats = fields.agg(count(lit(1)).cast("double").as("n_docs"))
    val tfF = ftoks.filter(col("tok").isin(terms: _*))
      .groupBy(col("did"), col("f"), col("tok")).agg(count(lit(1)).as("tf"))
    val dfreq = tfF.select(col("did"), col("tok")).distinct()
      .groupBy(col("tok")).agg(count(lit(1)).as("dfreq"))
    val contrib = tfF.join(flen, Seq("did", "f")).join(broadcast(favg), Seq("f"))
      .withColumn("__c", col("tf").cast("double") /
        (lit(1 - b) + lit(b) * col("lf").cast("double") / col("af")))
    val wtf = contrib.groupBy(col("did"), col("tok"))
      .agg((lit(wTitle) *
          coalesce(sum(when(col("f") === "t", col("__c"))), lit(0.0)) +
        lit(wBody) *
          coalesce(sum(when(col("f") === "b", col("__c"))), lit(0.0))).as("tft"))
    val scored = wtf.join(broadcast(dfreq), Seq("tok"))
      .crossJoin(broadcast(nstats))
      .withColumn("s",
        log((col("n_docs") - col("dfreq") + 0.5) / (col("dfreq") + 0.5) + 1.0) *
          col("tft") / (lit(k1) + col("tft")))
    val perTerm = terms.zipWithIndex.map { case (t, i) =>
      coalesce(sum(when(col("tok") === t, col("s"))), lit(0.0)).as(s"s_$i")
    }
    scored.groupBy(col("did"))
      .agg(perTerm.head, perTerm.tail: _*)
      .select(col("did"),
        round(terms.indices.map(i => col(s"s_$i")).reduce(_ + _), 6).as("score"))
      .orderBy(col("score").desc, col("did").asc)
      .limit(k)
  }

  /** Query-likelihood ranking with JELINEK-MERCER smoothing (Zhai &
    * Lafferty, SIGIR 2001 — the fixed-interpolation sibling of
    * [[qlDirichletRank]]; JM favors verbose queries, Dirichlet short
    * ones — shipping both is the standard LM-retrieval pairing):
    * score(q, d) = Σ_t ln(λ·tf/dl + (1−λ)·cf/|C|), with λ a RATIONAL
    * λn/λd so the partial stays one exact integer ln —
    * lnMicro(λn·tf·|C| + (λd−λn)·cf·dl, λd·dl·|C|) per (doc, kept term).
    * Terms with corpus cf = 0 drop up front (fts8's convention); every
    * doc scores every kept term. Rank (score desc, id asc), top-k.
    *
    * Same scale shape and overflow bound as [[qlDirichletRank]] (one
    * token-scan aggregate, broadcast cf/|C|; λn·tf·|C| must fit a long).
    */
  def jelinekMercerRank(df: org.apache.spark.sql.DataFrame, idCol: String,
                        textCol: String, terms: Seq[String], k: Int,
                        lambdaNum: Long = 1L, lambdaDen: Long = 2L)
      : org.apache.spark.sql.DataFrame = {
    require(terms.nonEmpty && terms.size <= 16, "1..16 query terms")
    require(lambdaNum >= 1 && lambdaNum < lambdaDen,
      s"lambda must be a rational in (0, 1): got $lambdaNum/$lambdaDen")
    val ln = graft.plans.LnFpFunctions.lnMicro _
    val toks = df.select(col(idCol).as("did"),
      explode(words(col(textCol))).as("tok"))
    // empty tokens (repeated-space split artifacts) stay out of dl and
    // |C| — the oracle's len(tok) > 0; an all-empty doc has no length
    val dl = toks.filter(length(col("tok")) > 0)
      .groupBy(col("did")).agg(count(lit(1)).as("dl"))
    val ctot = dl.agg(sum(col("dl")).as("c"))
    val cf = toks.filter(col("tok").isin(terms: _*))
      .groupBy(col("tok")).agg(count(lit(1)).as("cf"))
    val tf = toks.filter(col("tok").isin(terms: _*))
      .groupBy(col("did"), col("tok")).agg(count(lit(1)).as("tf"))
    dl.crossJoin(broadcast(cf)).crossJoin(broadcast(ctot))
      .join(tf, Seq("did", "tok"), "left")
      .select(col("did"),
        ln(lit(lambdaNum) * coalesce(col("tf"), lit(0L)) * col("c") +
            lit(lambdaDen - lambdaNum) * col("cf") * col("dl"),
          lit(lambdaDen) * col("dl") * col("c")).as("s"))
      .groupBy(col("did"))
      .agg(sum(col("s")).as("score_fp"))
      .select(col("did").as(idCol), col("score_fp"))
      .orderBy(col("score_fp").desc, col(idCol).asc)
      .limit(k)
  }

  /** Query-likelihood ranking with Dirichlet smoothing (Zhai & Lafferty,
    * SIGIR 2001) — the standard language-model alternative to BM25:
    * score(q, d) = Σ_t ln((tf(t,d) + μ·p(t|C)) / (dl(d) + μ)) with
    * p(t|C) = cf(t)/|C|. EXACT integers end to end: per (doc, term) the
    * partial is lnMicro(tf·|C| + μ·cf, dl + μ) and the per-doc score
    * subtracts one lnMicro(|C|, 1) per kept term — the decomposition of
    * ln(x/(y·|C|)) the oracle replays VERBATIM, so ranking hash-checks on
    * any engine with zero float drift. Query terms absent from the whole
    * corpus (cf = 0) drop up front (their smoothed probability is 0, the
    * standard convention); every doc scores every kept term — a missing
    * term still contributes its background probability, which is what
    * makes Dirichlet a length-aware ranker. Rank (score desc, id asc),
    * top-k.
    *
    * Scale shape: dl and tf come from ONE token-scan aggregate; cf is a
    * ≤|terms|-row broadcast and |C| a one-row broadcast. Overflow bound:
    * tf·|C| must fit a signed long — corpus token counts to ~10^15 at
    * realistic per-doc tf; beyond that, compute the stat per shard.
    * Empty tokens (split artifacts of repeated spaces) are excluded from
    * dl and |C| — the oracle's `len(tok) > 0` convention.
    */
  def qlDirichletRank(df: org.apache.spark.sql.DataFrame, idCol: String,
                      textCol: String, terms: Seq[String], k: Int,
                      mu: Long = 2000L): org.apache.spark.sql.DataFrame = {
    require(terms.nonEmpty && terms.size <= 16, "1..16 query terms")
    require(mu >= 1, s"mu must be >= 1, got $mu")
    val ln = graft.plans.LnFpFunctions.lnMicro _
    val toks = df.select(col(idCol).as("did"),
      explode(words(col(textCol))).as("tok"))
    // empty tokens (repeated-space split artifacts) stay out of dl and
    // |C| — the oracle's len(tok) > 0; an all-empty doc has no length
    val dl = toks.filter(length(col("tok")) > 0)
      .groupBy(col("did")).agg(count(lit(1)).as("dl"))
    val ctot = dl.agg(sum(col("dl")).as("c"))
    val cf = toks.filter(col("tok").isin(terms: _*))
      .groupBy(col("tok")).agg(count(lit(1)).as("cf"))
    val tf = toks.filter(col("tok").isin(terms: _*))
      .groupBy(col("did"), col("tok")).agg(count(lit(1)).as("tf"))
    dl.crossJoin(broadcast(cf)).crossJoin(broadcast(ctot))
      .join(tf, Seq("did", "tok"), "left")
      .select(col("did"),
        ln(coalesce(col("tf"), lit(0L)) * col("c") + lit(mu) * col("cf"),
          col("dl") + lit(mu)).as("s1"),
        ln(col("c"), lit(1L)).as("s0"))
      .groupBy(col("did"))
      .agg((sum(col("s1")) - sum(col("s0"))).as("score_fp"))
      .orderBy(col("score_fp").desc, col("did").asc)
      .limit(k)
      .withColumnRenamed("did", idCol)
  }

  /** The per-(doc, term) BM25 partial — ONE expression shared by every
    * BM25 surface ([[bm25Rank]] / [[FtsIndex.searchBm25]] through
    * [[bm25ScoreFrames]], and [[bm25PrfRank]]'s two rounds), so all paths
    * score bit-identically by construction. Operand columns: tf, dfreq,
    * dl, n_docs, avgdl.
    */
  private def bm25TermScore(k1: Double, b: Double): Column =
    log((col("n_docs") - col("dfreq") + 0.5) / (col("dfreq") + 0.5) + 1.0) *
      (col("tf") * (k1 + 1)) /
      (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl")))

  /** The BM25 scoring tail shared by [[bm25Rank]] (in-memory) and
    * [[FtsIndex.searchBm25]] (persisted index): ONE expression tree, so
    * both paths produce bit-identical doubles — the serve path's scores
    * hash-check against the from-scratch oracle because this code is
    * shared, not merely similar. Inputs: tf (did, tok, tf) already
    * filtered to `terms`; dl (did, dl); stats one row (n_docs DOUBLE,
    * avgdl DOUBLE). Per-term sums in fixed `terms` order keep the double
    * addition engine-deterministic.
    */
  private[operators] def bm25ScoreFrames(tf: org.apache.spark.sql.DataFrame,
                                         dl: org.apache.spark.sql.DataFrame,
                                         stats: org.apache.spark.sql.DataFrame,
                                         terms: Seq[String], k: Int,
                                         k1: Double, b: Double)
      : org.apache.spark.sql.DataFrame = {
    val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("dfreq"))
    val scored = tf
      .join(broadcast(dfreq), Seq("tok"))
      .join(dl, Seq("did"))
      .crossJoin(broadcast(stats))
      .withColumn("s", bm25TermScore(k1, b))
    val perTerm = terms.zipWithIndex.map { case (t, i) =>
      coalesce(sum(when(col("tok") === t, col("s"))), lit(0.0)).as(s"s_$i")
    }
    scored.groupBy(col("did"))
      .agg(perTerm.head, perTerm.tail: _*)
      .select(col("did"),
        round(terms.indices.map(i => col(s"s_$i")).reduce(_ + _), 6).as("score"))
      .orderBy(col("score").desc, col("did").asc)
      .limit(k)
  }

  /** Pseudo-relevance-feedback BM25 (Rocchio/RM-style PRF, the classic
    * two-round query expansion — Buckley et al. TREC; Lavrenko & Croft
    * SIGIR'01 for the relevance-model framing): round 1 ranks with the
    * seed terms, the top `fbDocs` documents become the feedback set, the
    * top `fbTerms` NEW terms from that set expand the query, and round 2
    * reranks with seed + expansion.
    *
    * Determinism contract (everything the oracle replays): per-(doc, term)
    * BM25 partial scores round ONCE to integer micro-points
    * (⌊round(s·1e6)⌋ — s is the same IEEE expression both engines compute,
    * the fts1 parity) and SUM as integers, so the doc score is
    * order-free — which also removes bm25Rank's 16-term per-column limit.
    * Expansion terms rank by the PURE-INTEGER lexicographic criterion
    * (feedback-docs-containing DESC, corpus-df ASC, term ASC) — "common in
    * the feedback set, rare in the corpus", the tf-idf intuition with no
    * float in the selection path. Output: (idCol, score_fp) top-k.
    *
    * Scale shape: each round is the bm25Rank posture (query-terms IN-list
    * prunes the token stream map-side, stats/dfreq broadcast); the
    * feedback ids and candidate-term stats are feedback-sized broadcasts,
    * and the chosen expansion terms are a `fbTerms`-row driver collect —
    * the IVF-centroid plan-time-constant posture. The token stream is
    * re-derived per consumer rather than materialized (tokens are
    * corpus-sized; the scan is the cheap part).
    */
  def bm25PrfRank(df: org.apache.spark.sql.DataFrame, idCol: String,
                  textCol: String, terms: Seq[String], k: Int,
                  fbDocs: Int, fbTerms: Int, k1: Double = 1.2,
                  b: Double = 0.75): org.apache.spark.sql.DataFrame = {
    require(terms.nonEmpty, "at least one seed term")
    require(k >= 1 && fbDocs >= 1 && fbTerms >= 1,
      s"k, fbDocs, fbTerms must be >= 1, got ($k, $fbDocs, $fbTerms)")
    val toks = df.select(col(idCol).as("did"),
      explode(words(col(textCol))).as("tok"))
    // the doc-length aggregate is a corpus-wide shuffle that FOUR separate
    // actions below would otherwise re-execute (round 1, the cand cut, the
    // expansion collect, round 2) — pay it once; re-deriving the map-side
    // token STREAM per consumer stays fine (the scan is the cheap part)
    val dl = graft.core.Storage.cut(
      toks.groupBy(col("did")).agg(count(lit(1)).as("dl")), eager = true)
    val stats = dl.agg(count(lit(1)).cast("double").as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    def scoreFp(queryTerms: Seq[String]) = {
      val tf = toks.filter(col("tok").isin(queryTerms: _*))
        .groupBy(col("did"), col("tok")).agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("dfreq"))
      tf.join(broadcast(dfreq), Seq("tok"))
        .join(dl, Seq("did"))
        .crossJoin(broadcast(stats))
        // the SHARED per-(doc, term) BM25 partial — bit-identical to
        // fts1/fts5's scoring by construction, not by similarity
        .withColumn("s", bm25TermScore(k1, b))
        .withColumn("s_fp", round(col("s") * 1e6).cast("long"))
        .groupBy(col("did")).agg(sum(col("s_fp")).as("score_fp"))
    }
    val fb = broadcast(scoreFp(terms)
      .orderBy(col("score_fp").desc, col("did").asc).limit(fbDocs)
      .select(col("did")))
    // candidate terms: in the feedback docs, not already queried
    val cand = graft.core.Storage.cut(
      toks.join(fb, Seq("did"))
        .filter(length(col("tok")) > 0 && !col("tok").isin(terms: _*))
        .groupBy(col("tok")).agg(countDistinct(col("did")).as("nf")),
      eager = true)
    val cdf = toks.join(broadcast(cand.select(col("tok"))), Seq("tok"))
      .groupBy(col("tok")).agg(countDistinct(col("did")).as("dfc"))
    val expansion = cand.join(cdf, Seq("tok"))
      .orderBy(col("nf").desc, col("dfc").asc, col("tok").asc)
      .limit(fbTerms)
      .select(col("tok")).collect().map(_.getString(0)).toSeq
    scoreFp(terms ++ expansion)
      .orderBy(col("score_fp").desc, col("did").asc).limit(k)
      .withColumnRenamed("did", idCol)
  }

  /** FUZZY keyword search — Elasticsearch's `fuzziness: 1` shape: each
    * query term expands to every VOCABULARY term within Levenshtein
    * distance 1 (typos: substitution, insertion, deletion), then ranks
    * with the shared integer-micro BM25 over the expanded term set (each
    * matched term contributes with its own idf, so a rare exact form
    * outweighs a common fuzzy neighbor).
    *
    * Candidate generation is SymSpell (Garbe 2012), not a pairwise scan:
    * lev(q, v) ≤ 1 ⟹ the 1-deletion neighborhoods of q and v intersect,
    * so vocabulary terms (length-banded to the query lengths ±1) explode
    * to ≤len+1 deletion keys, join the ≤|terms|·(len+1)-row broadcast
    * query-deletion table, and only those candidates pay the exact
    * `levenshtein` verify — the false friends the deletion join admits
    * (e.g. transpositions, lev 2) are killed there. The matched set
    * (bounded by the union of edit-1 neighborhoods) collects to the
    * driver like fts7's expansion and drives one standard BM25 pass.
    */
  def fuzzySearch(df: org.apache.spark.sql.DataFrame, idCol: String,
                  textCol: String, terms: Seq[String], k: Int,
                  k1: Double = 1.2, b: Double = 0.75)
      : org.apache.spark.sql.DataFrame = {
    require(terms.nonEmpty && terms.size <= 16, "1..16 query terms")
    require(terms.forall(t => t.nonEmpty && t.length <= 64),
      "query terms must be 1..64 chars")
    val toks = df.select(col(idCol).as("did"),
      explode(words(col(textCol))).as("tok"))
    // driver-side query deletion keys (terms are literals; ≤ 16·65 keys)
    def del1(s: String): Seq[String] =
      s +: s.indices.map(i => s.substring(0, i) + s.substring(i + 1))
    val qdel = terms.distinct.flatMap(q => del1(q).distinct.map(q -> _))
    import df.sparkSession.implicits._
    val qdelDf = qdel.toDF("q", "key")
    val (loLen, hiLen) =
      (terms.map(_.length).min - 1, terms.map(_.length).max + 1)
    val vdel = toks.select(col("tok")).distinct()
      .filter(length(col("tok")) >= math.max(1, loLen) &&
        length(col("tok")) <= hiLen)
      .select(col("tok"), explode(expr(
        "array_union(array(tok), transform(sequence(1, length(tok)), " +
          "i -> concat(substr(tok, 1, i - 1), substr(tok, i + 1))))"))
        .as("key"))
    val matched = vdel.join(broadcast(qdelDf), Seq("key"))
      .select(col("q"), col("tok")).distinct()
      .filter(levenshtein(col("q"), col("tok")) <= 1)
      .select(col("tok")).distinct()
      .collect().map(_.getString(0)).toSeq.sorted
    if (matched.isEmpty)
      return toks.select(col("did").as(idCol), lit(0L).as("score_fp")).limit(0)
    // standard BM25 over the expanded set, integer-micro partials (the
    // fts7 discipline: order-free sums, no per-column term limit)
    val dl = toks.groupBy(col("did")).agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).cast("double").as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    val tf = toks.join(broadcast(matched.toDF("tok")), Seq("tok"))
      .groupBy(col("did"), col("tok")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("dfreq"))
    tf.join(broadcast(dfreq), Seq("tok"))
      .join(dl, Seq("did"))
      .crossJoin(broadcast(stats))
      .withColumn("s", bm25TermScore(k1, b))
      .withColumn("s_fp", round(col("s") * 1e6).cast("long"))
      .groupBy(col("did")).agg(sum(col("s_fp")).as("score_fp"))
      .orderBy(col("score_fp").desc, col("did").asc).limit(k)
      .withColumnRenamed("did", idCol)
  }

  /** Boolean keyword retrieval: documents containing ALL of `mustAll` and
    * NONE of `mustNone` — the filter-style search companion to
    * [[bm25Rank]]'s ranked retrieval (candidate pre-selection, compliance
    * holds, eval-set carving).
    *
    * Scale shape: ONE postings pass — tokens filtered to the watched set
    * IN-SCAN (the IN-list prunes map-side), deduped to distinct
    * (doc, token), then a single per-doc counting aggregate decides both
    * the conjunction (distinct must-hits == |mustAll|) and the exclusion
    * (block-hits == 0). No joins at all, where the textbook form runs
    * |mustAll| semi-joins plus an anti-join over the same postings.
    */
  def booleanSearch(df: org.apache.spark.sql.DataFrame, idCol: String,
                    textCol: String, mustAll: Seq[String],
                    mustNone: Seq[String]): org.apache.spark.sql.DataFrame = {
    require(mustAll.nonEmpty, "at least one required term (else every doc matches)")
    // the conjunction counts DISTINCT (doc, token) hits, so duplicate
    // required terms (or a term in both lists) would make
    // n_must == |mustAll| unsatisfiable and silently return zero docs
    val must = mustAll.distinct
    val block = mustNone.distinct
    require(must.intersect(block).isEmpty,
      s"mustAll and mustNone overlap: ${must.intersect(block).mkString(", ")}")
    val watched = must ++ block
    val post = df
      .select(col(idCol).as("did"), explode(words(col(textCol))).as("tok"))
      .filter(col("tok").isin(watched: _*)).distinct()
    post.groupBy(col("did"))
      .agg(count(when(col("tok").isin(must: _*), 1)).as("n_must"),
        count(when(col("tok").isin(block: _*), 1)).as("n_block"))
      .filter(col("n_must") === must.size && col("n_block") === 0)
      .select(col("did"))
  }

  /** Positional phrase search: documents containing the EXACT consecutive
    * token sequence `phrase`, with match count and first match position —
    * the positional-index query class ([[booleanSearch]] answers "all
    * terms somewhere"; this answers "these terms, adjacent, in order").
    * Overlapping matches count separately ("table table table" matches
    * "table table" twice), and repeated phrase terms are handled: each
    * posting emits one row per phrase slot its token fills.
    *
    * Mechanics: positional postings (doc, pos, token) align on
    * base = pos − slot; a full match at `base` is all |phrase| slots
    * present. For a fixed (doc, base, slot) the source position is
    * determined (pos = base + slot), so a plain COUNT equals the distinct
    * slot count — no distinct aggregate needed.
    *
    * Scale shape: the slot fan-out is a literal-array filter+explode
    * INSIDE the scan stage (max 16 elements, codegen'd — no join against
    * a terms table), so non-phrase tokens vanish map-side and only
    * (doc, base, slot) longs shuffle — watched-term-sized, not
    * corpus-sized. Two map-side-combinable aggregates follow.
    */
  def phraseSearch(df: org.apache.spark.sql.DataFrame, idCol: String,
                   textCol: String, phrase: Seq[String])
      : org.apache.spark.sql.DataFrame = {
    require(phrase.nonEmpty && phrase.size <= 16, "1..16 phrase terms")
    val marks = array(phrase.zipWithIndex.map { case (t, i) =>
      struct(lit(t).as("t"), lit(i.toLong).as("i"))
    }: _*)
    val posts = df
      .select(col(idCol).as("did"),
        posexplode(words(col(textCol))).as(Seq("pos", "tok")))
      .select(col("did"), col("pos").cast("long").as("pos"),
        explode(filter(marks, m => m("t") === col("tok"))).as("m"))
      .select(col("did"), (col("pos") - col("m.i")).as("base"))
    posts.groupBy(col("did"), col("base")).agg(count(lit(1)).as("n_slots"))
      .filter(col("n_slots") === phrase.size.toLong)
      .groupBy(col("did"))
      .agg(count(lit(1)).as("n_matches"), min(col("base")).as("first_pos"))
  }

  /** Best-SNIPPET extraction — the serve-time feature every FTS result
    * page needs: per document, the fixed-width token window that best
    * covers the query terms, scored lexicographically by (distinct terms
    * covered, total term hits, earliest start) — all integers, so the
    * chosen window is engine-exact. The optimal window must START at a
    * term position (sliding left to the nearest hit never loses a term),
    * so candidates are anchored there, never at every token. Returns
    * (did, start, n_terms, n_hits) for documents with >= 1 hit; slice
    * `[start, start + window)` out of the tokenized text to render.
    *
    * Scale shape: the postings fan-out keeps ONLY query-term hits
    * (the phraseSearch discipline — text never shuffles, a 16-term cap
    * bounds the in-scan filter); the anchor×hit join is per-document and
    * bounded by hits² (query-term occurrences, not document length); the
    * per-doc argmax plans as WindowGroupLimit (rank-1 prunes below the
    * sort's exchange, the w2 shape).
    */
  def snippets(df: org.apache.spark.sql.DataFrame, idCol: String,
               textCol: String, terms: Seq[String], window: Int)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(terms.nonEmpty && terms.size <= 16, "1..16 query terms")
    require(window >= 1 && window <= 1000,
      s"window must be in [1, 1000] tokens, got $window")
    val termArr = array(terms.distinct.map(lit): _*)
    // cut: the postings feed the anchor set AND the range join — one
    // tokenize pass, not two (exchange reuse not guaranteed under AQE)
    val posts = graft.core.Storage.cut(df
      .select(col(idCol).as("did"),
        posexplode(words(col(textCol))).as(Seq("pos", "tok")))
      .filter(array_contains(termArr, col("tok")))
      .select(col("did"), col("pos").cast("long").as("pos"), col("tok")),
      eager = false)
    val anchors = posts.select(col("did"), col("pos").as("start")).distinct()
    val scored = anchors.join(posts, Seq("did"))
      .filter(col("pos") >= col("start") &&
        col("pos") < col("start") + window)
      .groupBy(col("did"), col("start"))
      .agg(countDistinct(col("tok")).as("n_terms"),
        count(lit(1)).as("n_hits"))
    val w = Window.partitionBy(col("did"))
      .orderBy(col("n_terms").desc, col("n_hits").desc, col("start").asc)
    scored.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Minimal-cover PROXIMITY ranking (the MinDist/span family — Tao & Zhai,
    * SIGIR 2007): per document the SHORTEST token window containing ALL
    * query terms, the signal that separates "terms scattered across 500
    * tokens" from "terms in one clause" when BM25 tf·idf is equal. Exact:
    * an optimal cover must start at a term position, and for a fixed start
    * the tightest end is max over terms of the NEXT occurrence ≥ start —
    * so the candidate set is (anchor × per-term next-hit), all integers,
    * engine-reproducible. Ties break to the earliest start.
    *
    * Returns (did, span, start) for documents containing every term —
    * UNORDERED, like every operator here; rank best-first with
    * (span asc, did) as the fts9 query does. Scale shape: the snippets
    * posture — postings keep only query-term hits in-scan (text never
    * shuffles, 16-term cap), the anchor×hit join is per-document and
    * bounded by hits², the per-doc argmin plans as WindowGroupLimit.
    */
  def minSpanProximity(df: org.apache.spark.sql.DataFrame, idCol: String,
                       textCol: String, terms: Seq[String])
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(terms.nonEmpty && terms.size <= 16, "1..16 query terms")
    val termArr = array(terms.distinct.map(lit): _*)
    val posts = graft.core.Storage.cut(df
      .select(col(idCol).as("did"),
        posexplode(words(col(textCol))).as(Seq("pos", "tok")))
      .filter(array_contains(termArr, col("tok")))
      .select(col("did"), col("pos").cast("long").as("pos"), col("tok")),
      eager = false)
    val anchors = posts.select(col("did"), col("pos").as("start")).distinct()
    val spans = anchors.join(posts, Seq("did"))
      .filter(col("pos") >= col("start"))
      .groupBy(col("did"), col("start"), col("tok"))
      .agg(min(col("pos")).as("np"))
      .groupBy(col("did"), col("start"))
      .agg(count(lit(1)).as("n_terms"),
        (max(col("np")) - col("start") + 1L).as("span"))
      .filter(col("n_terms") === terms.distinct.size.toLong)
    val w = Window.partitionBy(col("did"))
      .orderBy(col("span").asc, col("start").asc)
    spans.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("did"), col("span"), col("start"))
  }

  /** Reciprocal-rank fusion (Cormack et al., SIGIR 2009): merge any number
    * of top-k rankings — BM25 + vector ANN is the canonical hybrid-search
    * pair, but any (did, rank) frames fuse — by summing per-list credits
    * 1e6 DIV (rrfK + rank). Credits are INTEGER (floor division of exact
    * integers), so the fused ordering is engine-exact with no float
    * blending weights to disagree about; rank ties break by id. RRF is the
    * standard fusion precisely because it needs no score calibration
    * between lists whose scales are incomparable (BM25 logs vs cosines).
    *
    * Returns (did, rrf_fp, n_lists) top `k` by fused score. Scale shape:
    * inputs are top-k lists — k x |lists| rows total, broadcast-sized by
    * construction — so this is driver-cheap glue; the heavy lifting
    * happened in the rankers.
    */
  def rrfFuse(rankings: Seq[org.apache.spark.sql.DataFrame], rrfK: Int,
              k: Int): org.apache.spark.sql.DataFrame = {
    require(rankings.size >= 2, "fusion needs at least two rankings")
    require(rrfK >= 1, s"rrfK must be >= 1, got $rrfK")
    rankings.map(_.select(col("did"), col("rank")))
      .reduce(_ unionByName _)
      .withColumn("c_fp", expr(s"CAST(1000000 DIV ($rrfK + rank) AS BIGINT)"))
      .groupBy(col("did"))
      .agg(sum(col("c_fp")).as("rrf_fp"), count(lit(1)).as("n_lists"))
      .orderBy(col("rrf_fp").desc, col("did").asc)
      .limit(k)
  }

  def langId(text: Column): Column =
    // one native pass (round 19): the five-markerScore when-chain inlined
    // each score up to four times — after CollapseProject substituted a
    // synthesized text expression into every reference, the fused stage
    // blew janino's 64 KB method limit and silently ran INTERPRETED
    // (corpus_app's lang stage). LangIdLong is the identical argmax CASE
    // (first-index-of-max ≡ the chain; kernel-pinned in PropertySpec) in
    // one token walk; NULL text coalesces to the last label exactly as the
    // old chain's otherwise() did (null conditions all skip).
    coalesce(graft.plans.LangIdLong.langId(text, langMarkers),
      lit(langMarkers.last._1))

  /** Mean word length over the single-space tokenizer: non-space chars per
    * word. Exact integer inputs, one final division.
    */
  def meanWordLen(text: Column): Column =
    length(regexp_replace(text, " ", "")).cast("double") /
      greatest(nWords(text).cast("double"), lit(1.0))

  /** Gopher-style (Rae et al. 2021, arXiv:2112.11446 §A1.1) repetition-free
    * rule filter: hard per-document bounds instead of a blended score
    * ([[qualityScore]]) — the two are complementary stages of a real corpus
    * pipeline (rules first, scores for ranking survivors). Each rule is a
    * boolean from exact integers (plus one deterministic division), so the
    * oracle matches exactly. Pure per-row Column algebra: fuses into the
    * scan, zero shuffle at any scale.
    */
  def gopherRules(text: Column, minWords: Long, maxWords: Long,
                  minMeanWl: Double, maxMeanWl: Double,
                  minStopwords: Long): (Column, Column, Column, Column) = {
    val nw = nWords(text)
    val okWords = nw >= minWords && nw <= maxWords
    val mwl = meanWordLen(text)
    val okMeanWl = mwl >= minMeanWl && mwl <= maxMeanWl
    val okStop = stopwordCount(text) >= minStopwords
    (okWords, okMeanWl, okStop, okWords && okMeanWl && okStop)
  }

  /** BIGRAM language-model NLL with STUPID BACKOFF (Brants et al.'s
    * count-based smoothing — the one that scales, because it needs no
    * discount fitting): score every document of `df` against a bigram LM
    * counted over `train`. Per bigram occurrence (w1, w2):
    * P = c2(w1 w2) / c1(w1) when the bigram was seen in training, else
    * 0.4 x (c1(w2) + 1) / (N + V) (backoff to the add-one unigram, so OOV
    * w2 is defined). Extends t12's unigram scorer with CONTEXT: looping
    * word-salad that unigram NLL scores as fluent gets caught by improbable
    * transitions. Held-out docs (not in `train`) exercise the backoff path
    * — on a train-only corpus every bigram is seen and backoff never fires.
    *
    * Exactness: counts stay integers; each bigram TYPE pays one -log
    * rounded to micro-nats (the t12 fixed-point discipline), so engine and
    * oracle agree bit-for-bit. `n_unseen` (occurrences scored through
    * backoff) rides along — it is the held-out-ness signal and proves the
    * backoff branch actually ran.
    *
    * Scale shape: everything is (8-byte-ish key, count) aggregation; the
    * doc side reduces to per-(doc, bigram-type) counts before any join;
    * totals are a broadcast one-row frame. Docs with < 2 tokens have no
    * bigrams and drop out, as in the SQL mirror.
    */
  def bigramNll(df: org.apache.spark.sql.DataFrame,
                train: org.apache.spark.sql.DataFrame, idCol: String,
                textCol: String): org.apache.spark.sql.DataFrame = {
    // token identity travels as the 48-bit hash, never the string — the
    // shuffle-carries-8-byte-keys discipline of the dedup/jaccard machinery
    // (same accepted collision tradeoff, and the oracle replays the same
    // hashes)
    // fan out bigram occurrences through the codegen kernel (round 20 —
    // the interpreted transform lambda evaluated per window with boxed
    // element_at calls), then hash the two fixed-position split parts:
    // same per-occurrence hash pair, whole-stage codegen end to end
    def bigrams(in: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      in.select(col(idCol).as("did"),
          explode(graft.plans.WordWindowsLong.wordWindows(col(textCol), 2))
            .as("gram"))
        .select(col("did"),
          Dedup.hash48(element_at(split(col("gram"), " "), 1)).as("h1"),
          Dedup.hash48(element_at(split(col("gram"), " "), 2)).as("h2"))
    val tf2 = bigrams(df).groupBy(col("did"), col("h1"), col("h2"))
      .agg(count(lit(1)).as("tf"))
    val c1 = train.select(explode(words(col(textCol))).as("tok"))
      .select(Dedup.hash48(col("tok")).as("h"))
      .groupBy(col("h")).agg(count(lit(1)).as("c"))
    val tot = c1.agg(sum(col("c")).as("n_total"), count(lit(1)).as("v_size"))
    val c2 = bigrams(train).groupBy(col("h1"), col("h2"))
      .agg(count(lit(1)).as("c2"))
    val scored = tf2
      .join(c2, Seq("h1", "h2"), "left")
      .join(c1.select(col("h").as("h1"), col("c").as("cw1")), Seq("h1"), "left")
      .join(c1.select(col("h").as("h2"), col("c").as("cw2")), Seq("h2"), "left")
      .crossJoin(broadcast(tot))
      .select(col("did"), col("tf"),
        when(col("c2").isNotNull,
          round(-log(col("c2").cast("double") / col("cw1").cast("double")) * 1e6))
          .otherwise(
            round(-log((lit(2.0) * (coalesce(col("cw2"), lit(0L)) + 1).cast("double")) /
              (lit(5.0) * (col("n_total") + col("v_size")).cast("double"))) * 1e6))
          .cast("long").as("nll_fp"),
        when(col("c2").isNull, col("tf")).otherwise(0L).as("unseen"))
    scored.groupBy(col("did"))
      .agg(sum(col("tf")).as("dl2"),
        sum(col("tf") * col("nll_fp")).as("nll_sum"),
        sum(col("unseen")).as("n_unseen"))
      .select(col("did"), col("dl2"),
        round(col("nll_sum").cast("double") / (col("dl2").cast("double") * 1e6), 6)
          .as("avg_nll2"),
        col("n_unseen"))
  }

  /** Per-document average negative log-likelihood under a corpus-trained
    * unigram LM — the cheap stand-in for model-based perplexity filtering
    * (rare-token soup scores high, common fluent text scores low).
    *
    * Float discipline: the per-token surprisal -ln(cnt/total) is rounded to
    * integer MICRO-NATS once, then everything is exact long arithmetic
    * (tf-weighted sum) until one final division — summation order cannot
    * perturb the result, and the oracle mirrors the same fixed-point
    * pipeline (ulp differences between libm and DuckDB's ln survive only if
    * a surprisal sits within ~1e-9 of a rounding boundary).
    *
    * Scale shape: tokens are reduced to (doc, token) counts BEFORE any join
    * (map-side combinable), the vocab join is token-keyed (shuffles counts,
    * never text), and the corpus total rides in one broadcast row.
    */
  def unigramNll(df: org.apache.spark.sql.DataFrame, idCol: String,
                 textCol: String): org.apache.spark.sql.DataFrame = {
    val tf = df
      .select(col(idCol).as("did"), explode(words(col(textCol))).as("tok"))
      .groupBy(col("did"), col("tok")).agg(count(lit(1)).as("tf"))
    val vocab = tf.groupBy(col("tok")).agg(sum(col("tf")).as("cnt"))
    val total = vocab.agg(sum(col("cnt")).as("n_total"))
    tf.join(vocab, Seq("tok"))
      .crossJoin(broadcast(total))
      .select(col("did"), col("tf"),
        (col("tf") * round(-log(col("cnt").cast("double") / col("n_total")) * 1e6)
          .cast("long")).as("nll_fp"))
      .groupBy(col("did"))
      .agg(sum(col("tf")).as("dl"), sum(col("nll_fp")).as("nll_sum"))
      .select(col("did"), col("dl"),
        round(col("nll_sum").cast("double") / (col("dl").cast("double") * 1e6), 6)
          .as("avg_nll"))
  }

  /** CONTENT-DEFINED chunking (the rsync/LBFS boundary discipline applied
    * to token streams): a chunk boundary falls AT every position whose
    * word n-gram hashes to 0 mod `divisor`, so boundaries depend on LOCAL
    * content only — an insertion early in a document shifts positions but
    * downstream boundaries RE-SYNCHRONIZE, and the chunks after the edit
    * hash identically. That edit-stability is what fixed-width chunking
    * (ch1/ch2) fundamentally lacks, and it is why CDC is the unit for
    * near-version dedup (d27 joins on these chunk hashes). Expected chunk
    * length ≈ `divisor` tokens.
    *
    * Output, one row per chunk: (did, chunk_id [1-based], start_pos
    * [1-based token index], n_tokens, chunk_hash [48-bit md5 of the
    * chunk text]). Docs shorter than `n` tokens form one whole-doc chunk.
    *
    * Scale shape: boundary detection, chunk slicing and hashing are ALL
    * per-row array algebra inside the scan — the only explode emits the
    * final chunk rows, and nothing shuffles until the caller aggregates.
    */
  def cdcChunks(df: org.apache.spark.sql.DataFrame, idCol: String,
                textCol: String, n: Int = 3, divisor: Int = 64)
      : org.apache.spark.sql.DataFrame = {
    require(n >= 2, s"gram width must be >= 2, got $n")
    require(divisor >= 2, s"divisor must be >= 2, got $divisor")
    val w = words(col(textCol))
    // boundary positions via the NATIVE one-pass kernel — the HOF
    // filter-over-sequence formulation evaluates interpreted per gram
    // (~7 s at sf0.1); the kernel is codegen'd and hashes each gram in
    // place over the document's bytes (same md5 the oracle mirrors)
    val bounds = graft.plans.CdcBoundariesLong.cdcBoundaries(
      col(textCol), n, divisor)
    val starts = concat(array(lit(1)), transform(bounds, p => p + 1))
    val ends = concat(bounds, array(size(w)))
    val spans = zip_with(starts, ends, (s, e) =>
      struct(s.as("s"), e.as("e")))
    df.select(col(idCol).as("did"), w.as("__w"),
        posexplode(spans).as(Seq("__k", "__c")))
      .select(col("did"), (col("__k") + 1).cast("long").as("chunk_id"),
        col("__c")("s").cast("long").as("start_pos"),
        (col("__c")("e") - col("__c")("s") + 1).cast("long").as("n_tokens"),
        graft.operators.Dedup.hash48(array_join(
          slice(col("__w"), col("__c")("s"),
            col("__c")("e") - col("__c")("s") + 1), " "))
          .as("chunk_hash"))
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020, "CCNet:
    * Extracting high quality monolingual datasets from web crawl data"):
    * per group (CCNet buckets per LANGUAGE), rank documents by LM score
    * and label the best third `head`, then `middle`, then `tail` — the
    * standard crawl-corpus quality tiers (train on head+middle, drop or
    * downweight tail). The LM is [[unigramNll]]'s corpus unigram model
    * (CCNet uses a wiki-trained 5-gram; the bucketing contract — rank
    * thirds within group, deterministic ties — is the operator; the
    * scorer is swappable). Thirds by integer arithmetic on the rank
    * (3r ≤ n / 3r > 2n), ties by id, so membership is engine-exact.
    *
    * Scale shape: the NLL scoring is the t12 aggregate; the per-group rank
    * is TWO-LEVEL (the shuffleOrder prefix discipline) — a
    * group-partitioned window would funnel each LANGUAGE through one task,
    * and at 100 TB one language is most of the corpus. avg_nll is a
    * 6-decimal-rounded double, so round(avg_nll·1e6) is an EXACT monotone
    * long image of the sort key; range-bucketing that image (min/max-
    * derived width), counting per (group, bucket), and exclusive-scanning
    * the counts on the driver (groups × buckets longs) yields both the
    * per-bucket rank base AND the per-group totals — the thirds become
    * integer boundary comparisons against the broadcast totals, and the
    * only window sorts one (group, bucket) slice. NLL-range buckets are
    * value-distribution-dependent (real corpora spread; a degenerate
    * constant-score group collapses to the per-group window it replaces,
    * never worse).
    */
  def perplexityBuckets(df: org.apache.spark.sql.DataFrame, idCol: String,
                        textCol: String, groupCol: String,
                        buckets: Int = 0): org.apache.spark.sql.DataFrame = {
    val nll = unigramNll(df, idCol, textCol)
    // checkpoint-cut: the keyed frame feeds two jobs (min/max + counts,
    // then the rank join) — the shuffleOrder determinism contract.
    // round(avg_nll * 1e6) is an EXACT monotone-injective long image of
    // the 6-decimal-rounded score, so ranking by (__k, did) equals
    // ranking by (avg_nll, did).
    val keyed = graft.core.Storage.cut(
      nll.join(
          df.select(col(idCol).as("did"), col(groupCol).as("grp")), Seq("did"))
        .withColumn("__k", round(col("avg_nll") * 1e6).cast("long")),
      eager = true)
    groupThirds(keyed, groupCol, buckets)
      .select(col("did"), col("grp"), col("dl"), col("avg_nll"), col("r"),
        col("bucket"))
  }

  /** Two-level per-group thirds shared by [[perplexityBuckets]] (t23, the
    * unigram-NLL scorer) and [[knPerplexityTiers]] (lm6, the KN scorer):
    * `keyed` carries (did, grp [string], __k [long sort key]) plus any
    * ride-along columns and must already be checkpoint-cut (it feeds the
    * min/max probe, the count collect, and the rank join). Range-buckets
    * __k (min/max-derived width), counts per (grp, bucket), exclusive-
    * scans on the driver (groups × buckets longs — yielding rank bases
    * AND group totals), then ranks within (grp, bucket) by (__k, did) —
    * so the thirds are integer boundary tests and no task ever sorts more
    * than one bucket slice (the r12 scale fix; plan-asserted).
    */
  private def groupThirds(keyed: org.apache.spark.sql.DataFrame,
                          groupCol: String, buckets: Int)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nBuckets =
      if (buckets > 0) buckets else graft.core.BucketMath.defaultBuckets(keyed)
    val mm = keyed.agg(min(col("__k")), max(col("__k"))).head()
    if (mm.isNullAt(0))
      return keyed.withColumn("r", lit(0L)).withColumn("bucket", lit(""))
        .limit(0)
    val (lo, hi) = (mm.getLong(0), mm.getLong(1))
    // overflow-safe width + bucket index (the shared BucketMath discipline:
    // hi−lo past Long range routes the offset through DECIMAL(38,0))
    val width = graft.core.BucketMath.widthFor(lo, hi, nBuckets)
    val withB = keyed.withColumn("__kb",
      graft.core.BucketMath.bucketOf("__k", lo, hi, width))
    val counts = withB.groupBy(col("grp"), col("__kb"))
      .agg(count(lit(1)).as("__n")).collect().map { r =>
        require(!r.isNullAt(0),
          s"$groupCol contains NULLs — a per-group bucketing over them is undefined")
        (r.getString(0), r.getLong(1), r.getLong(2))
      }
    val bases = counts.groupBy(_._1).toSeq.flatMap { case (g, bs) =>
      val tot = bs.map(_._3).sum
      bs.sortBy(_._2).scanLeft((g, Long.MinValue, 0L, 0L)) {
        case ((_, _, acc, n), (_, b, m)) => (g, b, acc + n, m)
      }.drop(1).map { case (g2, b, base, _) => (g2, b, base, tot) }
    }
    val baseDf = keyed.sparkSession.createDataFrame(bases)
      .toDF("grp", "__kb", "__base", "__tot")
    val w = Window.partitionBy(col("grp"), col("__kb"))
      .orderBy(col("__k").asc, col("did").asc)
    withB.join(broadcast(baseDf), Seq("grp", "__kb"))
      .withColumn("r", col("__base") + row_number().over(w).cast("long"))
      .withColumn("bucket",
        when(col("r") * 3 <= col("__tot"), "head")
          .when(col("r") * 3 > col("__tot") * 2, "tail")
          .otherwise("middle"))
      .drop("__k", "__kb", "__base", "__tot")
  }

  /** CCNet tiers with the REAL CCNet scorer: [[perplexityBuckets]]'s
    * bucketing contract (per-group thirds, integer boundaries, exact
    * membership) ranked by [[knDocScore]]'s Kneser–Ney document
    * perplexity under a reference-trained model — the swap the t23
    * Scaladoc promises. Docs without a single bigram have no perplexity
    * and are EXCLUDED (fail-loud posture: a tier for an unscorable doc
    * would be arbitrary; gate such docs upstream on length instead).
    * Output: (did, grp, n_bigrams, avg_nll_micro, r, bucket).
    */
  def knPerplexityTiers(train: org.apache.spark.sql.DataFrame,
                        df: org.apache.spark.sql.DataFrame, idCol: String,
                        textCol: String, groupCol: String,
                        buckets: Int = 0): org.apache.spark.sql.DataFrame = {
    val keyed = graft.core.Storage.cut(
      knDocScore(train, df, idCol, textCol)
        .filter(col("n_bigrams") > 0L)
        .join(df.select(col(idCol).as("doc_id"), col(groupCol).as("grp")),
          Seq("doc_id"))
        .select(col("doc_id").as("did"), col("grp"), col("n_bigrams"),
          col("avg_nll_micro"), col("avg_nll_micro").as("__k")),
      eager = true)
    groupThirds(keyed, groupCol, buckets)
      .select(col("did"), col("grp"), col("n_bigrams"), col("avg_nll_micro"),
        col("r"), col("bucket"))
  }



  /** Blocklist hit profile: for every document, the occurrence count of
    * each blocked phrase (overlaps included) — the banned-phrase gate of a
    * curation pipeline, sparse output (only hits). One Aho-Corasick pass
    * per document via the native [[graft.plans.AhoCorasickCount]]
    * expression: the text is read ONCE for the whole pattern set inside the
    * scan (O(len + matches)), where N `regexp_count` columns would rescan
    * it N times and miss self-overlapping occurrences. No shuffle until
    * the sparse (doc, pattern) hits — contamination-sized, not corpus-sized.
    */
  def blocklistHits(df: org.apache.spark.sql.DataFrame, idCol: String,
                    textCol: String, patterns: Seq[String])
      : org.apache.spark.sql.DataFrame =
    df.select(col(idCol).as("did"),
        posexplode(graft.plans.AhoCorasickCount.multiMatchCounts(
          col(textCol), patterns)).as(Seq("pid", "n_hits")))
      .filter(col("n_hits") > 0)
      .select(col("did"), col("pid").cast("long").as("pid"),
        element_at(typedlit(patterns), col("pid").cast("int") + 1).as("pattern"),
        col("n_hits"))

  /** Redact blocked phrases: every occurrence of any pattern becomes
    * `mask` — the write-side companion of [[blocklistHits]] (detect, then
    * scrub, the t8 PII discipline applied to phrases). One alternation
    * regex with alternatives sorted LONGEST-FIRST, so nested phrases
    * resolve to the longest match identically under Java and RE2
    * order-priority alternation and an oracle's regexp_replace mirrors the
    * output byte-for-byte. Patterns must be regex-literal (letters, digits,
    * spaces) — this is a phrase list, not a pattern language.
    */
  def blocklistRedact(text: Column, patterns: Seq[String],
                      mask: String = "[BLOCKED]"): Column = {
    require(patterns.nonEmpty && patterns.forall(_.matches("[a-z0-9 ]+")),
      "patterns must be non-empty lowercase alphanumeric/space phrases")
    regexp_replace(text,
      patterns.sortBy(p => (-p.length, p)).mkString("|"), mask)
  }

  /** Per-document token ENTROPY in nats — the within-doc quality signal
    * [[unigramNll]]'s corpus-LM score can't see: a doc looping a few tokens
    * has low entropy no matter how corpus-frequent those tokens are
    * (H = sum_t (tf/dl) ln(dl/tf); maximal = ln(n_types) when all types
    * are distinct, 0 for a single repeated token). The repetition-filter
    * complement to [[repetitionSignals]]' n-gram shares.
    *
    * Exactness: every ln runs through the libm-free integer kernel
    * (graft.plans.LnFp) over the exact rational dl/tf, so the per-type
    * micro-nat contributions — and therefore the summed fixed-point
    * entropy — are bit-identical in any engine implementing the same
    * integer recurrence (the sm9 discipline; a float ln here would sit
    * 1-ulp from a rounding boundary somewhere in a large corpus).
    *
    * Scale shape: one (doc, type) aggregation (map-side combinable), the
    * kernel evaluated once per type — never per token — and a per-doc sum.
    * No joins, no broadcast state.
    */
  def tokenEntropy(df: org.apache.spark.sql.DataFrame, idCol: String,
                   textCol: String): org.apache.spark.sql.DataFrame = {
    val tf = df
      .select(col(idCol).as("did"),
        size(words(col(textCol))).cast("long").as("dl"),
        explode(words(col(textCol))).as("tok"))
      .groupBy(col("did"), col("dl"), col("tok")).agg(count(lit(1)).as("tf"))
    tf.select(col("did"), col("dl"),
        (col("tf") * graft.plans.LnFpFunctions.lnMicro(col("dl"), col("tf")))
          .as("ent_c"))
      .groupBy(col("did"), col("dl"))
      .agg(count(lit(1)).as("n_types"), sum(col("ent_c")).as("ent_fp"))
      .select(col("did"), col("dl"), col("n_types"),
        round(col("ent_fp").cast("double") / (col("dl").cast("double") * 1e6), 6)
          .as("entropy"))
  }

  /** VOCABULARY GROWTH curve (Heaps' law, empirically): walk the corpus in
    * id order split into `nBuckets` equal-width id ranges and report, per
    * bucket, how many word types appear there FIRST plus the cumulative
    * vocabulary after the bucket — the curve that sizes tokenizer training
    * corpora (where does type growth flatten?) and flags dedup problems
    * (a healthy corpus grows sublinearly; near-constant per-bucket growth
    * means the corpus keeps introducing boilerplate variants).
    *
    * All integers: (bucket, n_tokens, n_new_types, cum_types). The
    * first-holder reduce is [[graft.operators.Dedup.ngramNovelty]]'s
    * machinery pointed at words and bucketed by id range; the cumulative
    * sum is a window over `nBuckets` rows — driver-bounded, never
    * data-sized.
    */
  def vocabGrowth(df: org.apache.spark.sql.DataFrame, idCol: String,
                  textCol: String, nBuckets: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(nBuckets >= 1, s"nBuckets must be >= 1, got $nBuckets")
    val toks = df.select(col(idCol).cast("long").as("did"),
      explode(words(col(textCol))).as("tok")).filter(length(col("tok")) > 0)
    val bounds = df.agg(min(col(idCol)).cast("long").as("lo"),
      max(col(idCol)).cast("long").as("hi"))
    // DIV, not '/': Spark's '/' on longs is double division, and the
    // bucket id must be exact integer arithmetic at any id magnitude
    val withB = toks.crossJoin(broadcast(bounds))
      .select(col("did"), col("tok"),
        expr(s"least(CAST(${nBuckets - 1} AS BIGINT), " +
          s"(did - lo) * $nBuckets DIV (hi - lo + 1))").as("bucket"))
    val perBucketTokens = withB.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_tokens"))
    val firstSeen = withB.groupBy(col("tok")).agg(min(col("bucket")).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_new_types"))
    perBucketTokens.join(firstSeen, Seq("bucket"), "left")
      .withColumn("n_new_types", coalesce(col("n_new_types"), lit(0L)))
      .withColumn("cum_types", sum(col("n_new_types")).over(
        Window.orderBy(col("bucket"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("bucket"), col("n_tokens"), col("n_new_types"), col("cum_types"))
  }

  /** Hashed linear quality classifier: naive-Bayes log-odds over
    * hashing-trick unigram buckets, trained on weak labels and applied to
    * every document in the same pass — the "curated-vs-crawl" quality
    * filter of LLM pretraining pipelines (a fastText-style linear model:
    * GPT-3 filtered CommonCrawl with exactly this shape, a linear
    * classifier over hashed features scoring similarity to a curated
    * corpus).
    *
    * Train: per-bucket token counts in positive (`isPositive`) vs negative
    * documents with add-one smoothing give the per-bucket weight
    * w_fp(b) = ln(p⁺(b)) − ln(p⁻(b)) in integer MICRO-NATS; a document
    * prior ln((P+1)/(N+1)) from doc-level label counts. Score:
    * score_fp(d) = prior_fp + Σ_b c_db · w_fp(b); predict positive when
    * score_fp > 0. EVERY ln is [[graft.plans.LnFp]]'s deterministic
    * integer fixed point (the sm9/t18 libm-free discipline), so weights,
    * scores and PREDICTIONS are bit-identical in any engine implementing
    * the integer recurrence — a float-ln model this dense (nBuckets + 1
    * rounded lns, each a potential boundary flip) could never hash-check.
    *
    * Scale shape: features shuffle as (did, bucket) 8-byte pairs, never
    * text; the model is `nBuckets` rows + one prior row (broadcast both —
    * the hashing trick exists precisely so the model stays
    * broadcast-sized at any corpus size); scoring is one map-side
    * combinable per-doc sum. Train and serve in two passes over the same
    * featurized frame — no iterative optimizer, no driver-side loop.
    */
  def hashedQualityClassifier(df: org.apache.spark.sql.DataFrame,
                              idCol: String, textCol: String,
                              isPositive: Column, nBuckets: Int)
      : org.apache.spark.sql.DataFrame = {
    val model = trainQualityModel(df, idCol, textCol, isPositive, nBuckets)
    scoreQuality(df, idCol, textCol, model, nBuckets)
      .join(df.select(col(idCol).as("did"), isPositive.as("actual")),
        Seq("did"))
      .select(col("did"), col("score_fp"), col("actual"), col("pred"))
  }

  /** Train-only half of [[hashedQualityClassifier]]: the DENSE model as a
    * DataFrame — one (b, w_fp) log-odds row per bucket 0..nBuckets-1
    * (buckets unseen in training get the fully-smoothed weight, so
    * serve-time tokens hashing there score consistently) plus the doc
    * prior as the reserved row b = -1. nBuckets + 1 rows total —
    * broadcast-sized at any corpus size, and a self-contained frozen
    * artifact: persist it once, serve it from batch or stream (ds5).
    */
  def trainQualityModel(df: org.apache.spark.sql.DataFrame, idCol: String,
                        textCol: String, isPositive: Column, nBuckets: Int)
      : org.apache.spark.sql.DataFrame = {
    require(nBuckets >= 2 && nBuckets <= (1 << 20),
      s"nBuckets must be in [2, 2^20], got $nBuckets")
    val ln = graft.plans.LnFpFunctions.lnMicro _
    // is_p travels INLINE through the featurizer (no did-join): the label
    // is one bit per row, a join would shuffle the whole feature stream
    val feats = featurize(df.select(col(idCol).as("did"),
      col(textCol).as("__text"), isPositive.as("is_p")), "__text", nBuckets)
    // bc feeds BOTH the dense weights and the totals: checkpoint-cut it so
    // the corpus-wide tokenize+hash+aggregate pass runs once, not once per
    // plan branch (exchange reuse is not guaranteed under AQE)
    val bc = graft.core.Storage.cut(feats.groupBy(col("b")).agg(
      sum(when(col("is_p"), 1L).otherwise(0L)).as("pc"),
      sum(when(col("is_p"), 0L).otherwise(1L)).as("nc")), eager = false)
    val dense = df.sparkSession.range(nBuckets).select(col("id").as("b"))
      .join(bc, Seq("b"), "left")
      .select(col("b"), coalesce(col("pc"), lit(0L)).as("pc"),
        coalesce(col("nc"), lit(0L)).as("nc"))
    val tot = bc.agg(sum(col("pc")).as("pn"), sum(col("nc")).as("nn"))
    // two INDEPENDENT integer lns per bucket (the sm9 discipline): each
    // rounds once from exact integer operands, never a float ratio
    val w = dense.crossJoin(broadcast(tot)).select(col("b"),
      (ln(col("pc") + lit(1L), col("pn") + lit(nBuckets.toLong))
        - ln(col("nc") + lit(1L), col("nn") + lit(nBuckets.toLong))).as("w_fp"))
    val prior = df.select(col(idCol).as("did"), isPositive.as("is_p"))
      .agg(sum(when(col("is_p"), 1L).otherwise(0L)).as("pd"),
        count(lit(1)).as("nd"))
      .select(lit(-1L).as("b"),
        ln(col("pd") + lit(1L), col("nd") - col("pd") + lit(1L)).as("w_fp"))
    w.unionByName(prior)
  }

  /** WEIGHTED retrain of [[trainQualityModel]] (VERDICT r17 ask #7 — the
    * hard-negative loop closure): every document contributes its token and
    * prior counts `weight` times, so r1-mined hard negatives (negatives
    * the embedding space places next to positives) can be UP-WEIGHTED in
    * a retrain round — the standard contrastive-training move, kept exact
    * (integer weighted counts feed the same two-independent-lns form, so
    * the oracle hash-checks bit-for-bit). `weight` must be a nonnegative
    * long per row (fail-loud on NULL/negative — the a15 weighted-input
    * discipline); weight 1 everywhere degrades EXACTLY to
    * [[trainQualityModel]] (property-tested).
    */
  def trainQualityModelWeighted(df: org.apache.spark.sql.DataFrame,
                                idCol: String, textCol: String,
                                isPositive: Column, weight: Column,
                                nBuckets: Int): org.apache.spark.sql.DataFrame = {
    require(nBuckets >= 2 && nBuckets <= (1 << 20),
      s"nBuckets must be in [2, 2^20], got $nBuckets")
    val ln = graft.plans.LnFpFunctions.lnMicro _
    val w0 = weight.cast("long")
    val wt = when(w0.isNull || w0 < 0L,
      raise_error(concat(lit("retrain weight must be a nonnegative integer, got "),
        coalesce(weight.cast("string"), lit("NULL"))))).otherwise(w0)
    val feats = featurize(df.select(col(idCol).as("did"),
      col(textCol).as("__text"), isPositive.as("is_p"), wt.as("__wt")),
      "__text", nBuckets)
    val bc = graft.core.Storage.cut(feats.groupBy(col("b")).agg(
      sum(when(col("is_p"), col("__wt")).otherwise(0L)).as("pc"),
      sum(when(col("is_p"), lit(0L)).otherwise(col("__wt"))).as("nc")),
      eager = false)
    val dense = df.sparkSession.range(nBuckets).select(col("id").as("b"))
      .join(bc, Seq("b"), "left")
      .select(col("b"), coalesce(col("pc"), lit(0L)).as("pc"),
        coalesce(col("nc"), lit(0L)).as("nc"))
    val tot = bc.agg(sum(col("pc")).as("pn"), sum(col("nc")).as("nn"))
    val wts = dense.crossJoin(broadcast(tot)).select(col("b"),
      (ln(col("pc") + lit(1L), col("pn") + lit(nBuckets.toLong))
        - ln(col("nc") + lit(1L), col("nn") + lit(nBuckets.toLong))).as("w_fp"))
    val prior = df.select(isPositive.as("is_p"), wt.as("__wt"))
      .agg(sum(when(col("is_p"), col("__wt")).otherwise(0L)).as("pd"),
        sum(col("__wt")).as("nd"))
      .select(lit(-1L).as("b"),
        ln(col("pd") + lit(1L), col("nd") - col("pd") + lit(1L)).as("w_fp"))
    wts.unionByName(prior)
  }

  /** Serve-only half of [[hashedQualityClassifier]]: score `df` against a
    * frozen `model` from [[trainQualityModel]] — (did, score_fp, pred).
    * The model broadcasts; scoring is one featurize pass + a per-doc sum,
    * so a persisted model serves any number of corpora (or stream
    * micro-batches) without retraining.
    */
  def scoreQuality(df: org.apache.spark.sql.DataFrame, idCol: String,
                   textCol: String, model: org.apache.spark.sql.DataFrame,
                   nBuckets: Int): org.apache.spark.sql.DataFrame = {
    val w = model.filter(col("b") >= 0L).select(col("b"), col("w_fp"))
    val prior = model.filter(col("b") === -1L)
      .select(col("w_fp").as("prior_fp"))
    val cdb = featurize(df.select(col(idCol).as("did"),
        col(textCol).as("__text")), "__text", nBuckets)
      .groupBy(col("did"), col("b")).agg(count(lit(1)).as("c"))
    val ll = cdb.join(broadcast(w), Seq("b"))
      .groupBy(col("did")).agg(sum(col("c") * col("w_fp")).as("ll_fp"))
    // featureless docs (empty text) score the prior alone
    df.select(col(idCol).as("did")).join(ll, Seq("did"), "left")
      .crossJoin(broadcast(prior))
      .select(col("did"),
        (coalesce(col("ll_fp"), lit(0L)) + col("prior_fp")).as("score_fp"))
      .withColumn("pred", col("score_fp") > 0L)
  }

  /** MULTICLASS hashed-linear language classifier — the TRAINED
    * counterpart of the [[langId]] marker heuristic and the multiclass
    * sibling of [[hashedQualityClassifier]] (fastText-shape, Joulin et
    * al. 2016): per-language naive-Bayes log-likelihoods over
    * hashing-trick unigram buckets, add-one smoothed, class priors
    * included. Returns the model as (lang, b, w_fp) rows — w_fp the
    * integer micro-nat ln p(bucket|lang) for b >= 0, the class prior at
    * b = -1 — DENSE over langs x buckets so serve-time joins never lose
    * the smoothing floor for buckets a class never saw. Every ln is one
    * LnFp integer round from exact integer operands, so scores and
    * argmax PREDICTIONS hash-check cross-engine.
    *
    * Scale shape: one featurize pass (label inline, never joined), one
    * (lang, b) count aggregate, model = |langs| x nBuckets + |langs| rows
    * — broadcast-sized at any corpus size.
    */
  def trainLangModel(df: org.apache.spark.sql.DataFrame, idCol: String,
                     textCol: String, langCol: String, nBuckets: Int)
      : org.apache.spark.sql.DataFrame = {
    require(nBuckets >= 2 && nBuckets <= (1 << 20),
      s"nBuckets must be in [2, 2^20], got $nBuckets")
    val ln = graft.plans.LnFpFunctions.lnMicro _
    val spark = df.sparkSession
    // a NULL label would become a scorable class on this side and vanish
    // in the oracle's equi-joins (NULL = NULL is never TRUE) — and Spark's
    // ASC NULLS FIRST would even let it WIN argmax ties; fail loud in-scan
    val checkedLang = when(col(langCol).isNull,
      raise_error(lit(s"$langCol contains NULLs — a class label must be " +
        "present on every training row"))).otherwise(col(langCol))
    val labeled = df.select(col(idCol).as("did"),
      col(textCol).as("__text"), checkedLang.as("lang"))
    val feats = featurize(labeled, "__text", nBuckets)
    val bc = graft.core.Storage.cut(
      feats.groupBy(col("lang"), col("b")).agg(count(lit(1)).as("c")),
      eager = false)
    // langs from the TRAINING FRAME, not from bc: a language whose docs
    // are all empty-text still needs prior + floor rows
    val langs = labeled.select(col("lang")).distinct()
    val totc = bc.groupBy(col("lang")).agg(sum(col("c")).as("tc"))
    val dense = langs
      .crossJoin(spark.range(nBuckets).select(col("id").as("b")))
      .join(totc, Seq("lang"), "left")
      .join(bc, Seq("lang", "b"), "left")
      .select(col("lang"), col("b"),
        ln(coalesce(col("c"), lit(0L)) + lit(1L),
          coalesce(col("tc"), lit(0L)) + lit(nBuckets.toLong)).as("w_fp"))
    // K rides the plan as a one-row broadcast (no eager count() job at
    // DataFrame-construction time — the oracle's mk CTE, same shape)
    val prior = labeled.groupBy(col("lang"))
      .agg(count(lit(1)).as("ndc"))
      .crossJoin(broadcast(labeled.agg(count(lit(1)).as("nd"))))
      .crossJoin(broadcast(langs.agg(count(lit(1)).as("k"))))
      .select(col("lang"), lit(-1L).as("b"),
        ln(col("ndc") + lit(1L), col("nd") + col("k")).as("w_fp"))
    dense.unionByName(prior)
  }

  /** Serve half of [[trainLangModel]]: per doc, the argmax language and
    * its score — (did, pred, score_fp), ties to the lexicographically
    * smallest language code (deterministic, oracle-shared). Featureless
    * docs argmax the priors alone. Per-doc work is one featurize pass, a
    * bucket join, and one |langs|-row argmax window partitioned by doc.
    *
    * Broadcast bound (ADVICE r15): the dense model is |langs| x nBuckets
    * rows (~24 B each), so with the usual nBuckets = 2^8..2^16 it
    * broadcasts at any language count, but a many-language model at the
    * 2^20 bucket cap reaches GBs and would trip the driver/broadcast
    * limits before any corpus-size effect. For that shape pass
    * `broadcastModel = false`: the bucket join runs as a shuffle join on
    * `b` instead — same rows, one extra exchange on the (did, b) counts.
    */
  def scoreLang(df: org.apache.spark.sql.DataFrame, idCol: String,
                textCol: String, model: org.apache.spark.sql.DataFrame,
                nBuckets: Int,
                broadcastModel: Boolean = true): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sc = langScores(df, idCol, textCol, model, nBuckets, broadcastModel)
    val win = Window.partitionBy(col("did"))
      .orderBy(col("score_fp").desc, col("lang").asc)
    sc.withColumn("__rn", row_number().over(win)).filter(col("__rn") === 1)
      .select(col("did"), col("lang").as("pred"), col("score_fp"))
  }

  /** The shared (did, lang, score_fp) scoring chain behind [[scoreLang]]
    * and [[scoreLangMargin]] — shared code, not similar code (the lm8
    * discipline): the two serves must score identically or the margin
    * could disagree with the argmax.
    */
  private def langScores(df: org.apache.spark.sql.DataFrame, idCol: String,
                         textCol: String, model: org.apache.spark.sql.DataFrame,
                         nBuckets: Int, broadcastModel: Boolean)
      : org.apache.spark.sql.DataFrame = {
    val w = model.filter(col("b") >= 0L)
    val priors = model.filter(col("b") === -1L)
      .select(col("lang"), col("w_fp").as("prior_fp"))
    val cdb = featurize(df.select(col(idCol).as("did"),
        col(textCol).as("__text")), "__text", nBuckets)
      .groupBy(col("did"), col("b")).agg(count(lit(1)).as("c"))
    val ll = cdb.join(if (broadcastModel) broadcast(w) else w, Seq("b"))
      .groupBy(col("did"), col("lang"))
      .agg(sum(col("c") * col("w_fp")).as("ll_fp"))
    df.select(col(idCol).as("did")).crossJoin(broadcast(priors))
      .join(ll, Seq("did", "lang"), "left")
      .select(col("did"), col("lang"),
        (coalesce(col("ll_fp"), lit(0L)) + col("prior_fp")).as("score_fp"))
  }

  /** [[scoreLang]] with a CONFIDENCE margin and abstention — the fastText
    * `-th` serving pattern: a production language filter drops or routes
    * docs the classifier is unsure about instead of mislabeling them.
    * Output per doc: (did, pred, top_lang, margin_fp, confident) where
    * margin_fp = top1 score − top2 score in EXACT integer micro-nats
    * (scores are LnFp sums, so the margin is integer arithmetic — no
    * float drift), confident = margin_fp >= minMarginMicro, and pred is
    * the argmax when confident, the sentinel "und" otherwise. A
    * single-language model has no runner-up: margin_fp is NULL and the
    * doc abstains (a one-class classifier has no evidence FOR its class).
    * Same tie-break, zero-feature, and broadcast contracts as scoreLang.
    */
  def scoreLangMargin(df: org.apache.spark.sql.DataFrame, idCol: String,
                      textCol: String, model: org.apache.spark.sql.DataFrame,
                      nBuckets: Int, minMarginMicro: Long,
                      broadcastModel: Boolean = true)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sc = langScores(df, idCol, textCol, model, nBuckets, broadcastModel)
    val win = Window.partitionBy(col("did"))
      .orderBy(col("score_fp").desc, col("lang").asc)
    val ranked = sc.withColumn("__rn", row_number().over(win))
      .filter(col("__rn") <= 2)
    // ONE aggregate collapses rank 1/2 into columns — a t1/t2 self-join
    // would plan the featurize + model-join + window chain twice (only
    // the exchange below the window is reusable; the window and join
    // above it would execute twice at corpus scale)
    ranked.groupBy(col("did"))
      .agg(
        max(when(col("__rn") === 1,
          struct(col("score_fp"), col("lang")))).as("__t1"),
        max(when(col("__rn") === 2, col("score_fp"))).as("s2"))
      .select(col("did"), col("__t1.lang").as("top_lang"),
        col("__t1.score_fp").as("s1"), col("s2"))
      .select(col("did"),
        // NULL margin (no runner-up) falls to the otherwise branch
        when(col("s1") - col("s2") >= minMarginMicro, col("top_lang"))
          .otherwise(lit("und")).as("pred"),
        col("top_lang"),
        (col("s1") - col("s2")).as("margin_fp"),
        coalesce(col("s1") - col("s2") >= minMarginMicro, lit(false))
          .as("confident"))
  }

  /** One (ord, gram, prev) row per n-gram OCCURRENCE, orders 1..maxOrder,
    * all fanned out inside ONE scan — shared by [[ngramLmCounts]] and the
    * persisted [[LmIndex]] (shared code, not similar code: the two paths
    * must count identically or the lm5 serve could never hash-check
    * against lm1).
    */
  private[operators] def ngramRows(df: org.apache.spark.sql.DataFrame,
                                   textCol: String, maxOrder: Int)
      : org.apache.spark.sql.DataFrame = {
    require(maxOrder >= 1 && maxOrder <= 8,
      s"maxOrder must be in [1, 8], got $maxOrder")
    // one codegen'd per-row kernel (round 19) — the former nested
    // transform/filter HOF fan-out evaluated interpreted with a boxed
    // struct + a concat_ws String per gram, across the whole lm family
    df.select(inline(graft.plans.NgramRowsLong.ngramRows(
      col(textCol), maxOrder)))
  }

  /** N-gram LM count tables (orders 1..`maxOrder`) with Kneser–Ney
    * continuation counts — the MapReduce step of count-based language-model
    * training (the layout Brants et al. 2007 used to train 5-gram models on
    * 2T tokens; KenLM consumes exactly these tables). One row per surviving
    * n-gram type: (ord, gram, c, ccount) where `c` is the corpus occurrence
    * count and `ccount` = N1+(·g), the number of DISTINCT single-token left
    * extensions of g — the Kneser–Ney lower-order evidence ("how many
    * contexts does g complete", not "how often does g occur"). Document-
    * initial occurrences have no left context and contribute no ccount
    * (corpus-scale LM counting never crosses document boundaries).
    *
    * `minCount` prunes the singleton tail AFTER counting (count-threshold
    * pruning, the standard LM-scale lever) so surviving rows carry full
    * evidence. Unlike the dedup family, gram TEXT is the groupBy key — the
    * count table IS the product, so the strings must survive the shuffle;
    * map-side combine bounds the exchange at distinct types per partition.
    *
    * Scale shape: all orders fan out inside ONE scan (a flatten/transform
    * over the token array — no per-order re-scan), then a single
    * map-side-combinable aggregate on (ord, gram); the continuation count
    * is a two-phase distinct on the same key, no extra exchange beyond
    * the partial-distinct pass.
    *
    * `idCol` is accepted only for signature uniformity with the rest of the
    * TextOps family — counts are corpus-global; the id never participates
    * in grouping (same for [[knBigramProbs]]).
    */
  def ngramLmCounts(df: org.apache.spark.sql.DataFrame, idCol: String,
                    textCol: String, maxOrder: Int,
                    minCount: Long): org.apache.spark.sql.DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    ngramRows(df, textCol, maxOrder).groupBy(col("ord"), col("gram"))
      .agg(count(lit(1)).as("c"), countDistinct(col("prev")).as("ccount"))
      .filter(col("c") >= minCount)
  }

  // (the former per-id (id, ord, gram) word-gram counting step lives on
  // only in the DuckDB oracle and the spec twins: the served path computes
  // the identical per-pair statistic inside graft.plans.WordGramStatsLong,
  // with no gram ever shuffled — see ngramOverlapEval)

  /** N-gram overlap evaluation metrics — the BLEU-n / ROUGE-n counting
    * core (Papineni et al. 2002; Lin 2004) in EXACT integers. For each
    * (pair id, order n <= `maxOrder`): `matches` = Σ_g min(c_cand(g),
    * c_ref(g)) — the CLIPPED match count both metrics share (clipping is
    * what stops a candidate repeating one reference word from scoring
    * 100%), `cand_total` / `ref_total` the occurrence totals, and the two
    * fixed-point ratios BLEU and ROUGE disagree on: modified precision
    * `p_fp` = floor(matches·1e6 / cand_total) and recall `r_fp` =
    * floor(matches·1e6 / ref_total). Positive floor division, so DuckDB
    * `//` and Spark `DIV` agree; no floats anywhere, so rows hash-check
    * bit-for-bit. Corpus-level BLEU/ROUGE are ratios of the SUMS of these
    * numerators — this per-pair table is the sufficient statistic, which
    * is why it (not the composite score) is the operator.
    *
    * A (id, ord) row appears when BOTH sides have at least one order-n
    * gram (a shorter side yields no denominator — standard BLEU smoothing
    * territory, kept out of the exact contract); `matches` is 0 when the
    * sides share nothing at that order.
    *
    * Scale shape (round 19, the chrF/e8 restructure applied to the word
    * family): the texts are joined per pair id FIRST — the ONLY exchange,
    * carrying corpus bytes — and all per-order clipped matches + totals
    * come out of ONE codegen'd per-row kernel
    * ([[graft.plans.WordGramStatsLong]]) + `inline`. The former relational
    * form fanned both sides into (id, ord, gram) count rows through four
    * gram-keyed exchanges (~79 MB at sf0.1 across e4+e5) for maxOrder
    * output rows per pair; grams are pair-local, so none of that exchange
    * was fundamental. Ids must be unique per side (the pairing contract).
    */
  def ngramOverlapEval(cand: org.apache.spark.sql.DataFrame,
                       ref: org.apache.spark.sql.DataFrame,
                       idCol: String, textCol: String, maxOrder: Int)
      : org.apache.spark.sql.DataFrame = {
    require(maxOrder >= 1 && maxOrder <= 8,
      s"maxOrder must be in [1, 8], got $maxOrder")
    cand.select(col(idCol).as("id"), col(textCol).as("__cand"))
      .join(ref.select(col(idCol).as("id"), col(textCol).as("__ref")),
        Seq("id"))
      .select(col("id"), inline(
        graft.plans.WordGramStatsLong.wordGramStats(col("__cand"),
          col("__ref"), maxOrder)))
      .withColumn("p_fp", expr("matches * 1000000 DIV cand_total"))
      .withColumn("r_fp", expr("matches * 1000000 DIV ref_total"))
  }

  // (the former relational chrF counting step — a per-side character-gram
  // fan-out into (id, ord, gram) count aggregates — lives on only in the
  // DuckDB oracle and the PropertySpec relational twin: the served path
  // computes the identical statistic per pair inside
  // graft.plans.ChrfStatsLong, with no gram ever shuffled)

  /** chrF (Popović 2015, WMT) per pair in EXACT integers: character
    * n-gram F-β over the whitespace-stripped texts — the
    * tokenization-free eval metric that survives morphology-rich languages
    * where word-level BLEU shatters. Per (pair id, order n <= `maxOrder`,
    * both sides holding order-n grams — the e4 row contract): clipped
    * matches m = Σ_g min(c_cand(g), c_ref(g)) with multiplicity, the two
    * occurrence totals, and F_β=2 = 5PR/(4P+R) — which with P = m/tc,
    * R = m/tr collapses ALGEBRAICALLY to 5m/(4·tr + tc): ONE positive
    * floor division (`f_fp` = ⌊5m·1e6/(4tr+tc)⌋, Spark DIV == DuckDB //),
    * no float harmonic mean, so scores hash-check bit-for-bit. The
    * standard chrF score is the mean of F over orders (absent orders as
    * 0) — a ratio of these per-order rows; ship the sufficient statistic,
    * not the lossy average (the e4 discipline).
    *
    * Scale shape (round 19, guide §2.3/§8 — shuffle metadata, never the
    * gram fan-out): the texts are joined per pair id FIRST — the ONLY
    * exchange, carrying corpus bytes — and the whole per-order statistic
    * (clipped matches + both totals, all orders) comes out of ONE codegen'd
    * per-row kernel ([[graft.plans.ChrfStatsLong]]) + `inline`. The former
    * relational form shuffled every (id, ord, gram) count row through four
    * exchanges — ~295 MB at sf0.1, the suite's largest, for 6 output rows
    * per pair; grams are pair-local, so none of that exchange was
    * fundamental. Ids must be unique per side (the e4 pairing contract —
    * a duplicated id would cross-join here where the gram-keyed form
    * pooled counts).
    */
  def chrF(cand: org.apache.spark.sql.DataFrame,
           ref: org.apache.spark.sql.DataFrame,
           idCol: String, textCol: String, maxOrder: Int = 6)
      : org.apache.spark.sql.DataFrame = {
    require(maxOrder >= 1 && maxOrder <= 8,
      s"maxOrder must be in [1, 8], got $maxOrder")
    cand.select(col(idCol).as("id"), col(textCol).as("__cand"))
      .join(ref.select(col(idCol).as("id"), col(textCol).as("__ref")),
        Seq("id"))
      .select(col("id"), inline(
        graft.plans.ChrfStatsLong.chrfStats(col("__cand"), col("__ref"),
          maxOrder)))
      .withColumn("f_fp",
        // widened to DECIMAL(38,0) BEFORE the products (the corpusBleu
        // idiom): matches·5e6 wraps BIGINT past ~1.8e12 char-gram matches
        // (a single multi-TB document) under non-ANSI arithmetic, as can
        // 4·ref_total; the quotient ≤ 1.25e6 so BIGINT holds the result
        expr("CAST((CAST(matches AS DECIMAL(38, 0)) * 5000000) div" +
          " (4 * CAST(ref_total AS DECIMAL(38, 0)) + cand_total)" +
          " AS BIGINT)"))
  }

  /** Corpus-level BLEU per group (Papineni et al. 2002 §2.3, uniform 1/N
    * weights) in EXACT integers riding [[ngramOverlapEval]]'s sufficient
    * statistics: per (group, order) the matches/totals SUM over the
    * group's pairs — corpus BLEU pools counts across segments, it does NOT
    * average per-segment scores — then every log through the LnFp integer
    * kernel. Reported in log space (the score is monotone in it; exp would
    * leave the integer contract):
    *
    *   log_bleu_xn_micro = N·ln BP + Σ_n ln(max(M_n, 1)/C_n)   [micro-nats]
    *
    * — the N-fold log-BLEU, kept MULTIPLIED by N because dividing a
    * negative sum is where Spark's truncating DIV and DuckDB's flooring
    * `//` disagree; scaling by N instead of dividing keeps both engines on
    * identical integers. ln BP = −floor((r−c)·1e6/c) when c < r else 0
    * (positive operands only, widened to decimal(38,0) BEFORE the product
    * so corpus-scale token counts cannot overflow), and max(M_n, 1) is the
    * standard zero-match smoothing, with `n_smoothed` reporting how many
    * orders needed it. Orders where the group has no (both-sides) grams —
    * [[ngramOverlapEval]]'s row contract — contribute nothing to the sum.
    *
    * Scale shape: the per-pair table collapses to (groups × N) rows before
    * any ln; the kernel runs once per surviving row, the brevity penalty
    * on one row per group — corpus size only flows through the e4 counts.
    */
  def corpusBleu(cand: org.apache.spark.sql.DataFrame,
                 ref: org.apache.spark.sql.DataFrame,
                 idCol: String, textCol: String, groupCol: String,
                 maxOrder: Int): org.apache.spark.sql.DataFrame = {
    val e = ngramOverlapEval(cand, ref, idCol, textCol, maxOrder)
    val grp = cand.select(col(idCol).as("id"), col(groupCol).as("grp"))
      .distinct()
    val perOrd = e.join(grp, Seq("id"))
      .groupBy(col("grp"), col("ord"))
      .agg(sum(col("matches")).as("m"), sum(col("cand_total")).as("c"),
        sum(col("ref_total")).as("r"))
    perOrd
      .select(col("grp"), col("ord"), col("c"), col("r"),
        graft.plans.LnFpFunctions.lnMicro(greatest(col("m"), lit(1L)),
          col("c")).as("ln_p"),
        when(col("m") === 0L, 1L).otherwise(0L).as("sm"))
      .groupBy(col("grp"))
      .agg(sum(col("ln_p")).as("sum_ln_p_micro"),
        sum(col("sm")).as("n_smoothed"),
        sum(when(col("ord") === 1, col("c"))).as("c_len"),
        sum(when(col("ord") === 1, col("r"))).as("r_len"))
      .withColumn("ln_bp_micro",
        when(col("c_len") < col("r_len"),
          -expr("CAST((CAST(r_len - c_len AS DECIMAL(38, 0)) * 1000000)" +
            " div c_len AS BIGINT)"))
          .otherwise(lit(0L)))
      .withColumn("log_bleu_xn_micro",
        col("ln_bp_micro") * lit(maxOrder.toLong) + col("sum_ln_p_micro"))
  }

  /** ROUGE-L (Lin 2004 §3.2) per pair in EXACT integers: token-level LCS
    * length through the native [[graft.plans.LcsTokensLong]] kernel (the
    * DP is a sequential per-row recurrence — no declarative formulation
    * avoids interpreted per-element lambdas, so it runs as one static call
    * inside whole-stage codegen), then the three fixed-point ratios:
    * precision floor(L·1e6/c), recall floor(L·1e6/r), and F1 — which
    * collapses ALGEBRAICALLY to 2L/(c+r) (2PR/(P+R) with P = L/c, R = L/r),
    * so one positive floor division instead of a float harmonic mean and
    * the score hash-checks bit-for-bit.
    *
    * Scale shape: one equi-join on the pair id ships each text to exactly
    * one pair row (pairing is the operator's input contract — unlike the
    * dedup family there is no candidate generation to confine), then all
    * work is per-row and embarrassingly parallel; the DP is quadratic in
    * the two DOCUMENTS' token counts only, never in the corpus.
    */
  def rougeL(cand: org.apache.spark.sql.DataFrame,
             ref: org.apache.spark.sql.DataFrame,
             idCol: String, textCol: String)
      : org.apache.spark.sql.DataFrame = {
    val c = cand.select(col(idCol).as("id"), col(textCol).as("ctext"))
    val r = ref.select(col(idCol).as("id"), col(textCol).as("rtext"))
    c.join(r, Seq("id"))
      .select(col("id"),
        graft.plans.LcsTokensLong.lcsTokens(col("ctext"), col("rtext"))
          .as("lcs"),
        size(words(col("ctext"))).cast("long").as("c_len"),
        size(words(col("rtext"))).cast("long").as("r_len"))
      .withColumn("p_fp", expr("lcs * 1000000 DIV c_len"))
      .withColumn("r_fp", expr("lcs * 1000000 DIV r_len"))
      .withColumn("f_fp", expr("2 * lcs * 1000000 DIV (c_len + r_len)"))
  }

  /** Interpolated Kneser–Ney bigram probabilities (Chen & Goodman 1999,
    * absolute discount D = 3/4) for every observed bigram, as EXACT
    * fixed-point integers: with c = c(w1 w2), L = Σ_w c(w1 w) the left-
    * context mass, P = N1+(w1 ·) distinct continuations of w1,
    * C = N1+(· w2) distinct left extensions of w2 and T = N1+(· ·) total
    * bigram types,
    *
    *   p(w2|w1) = max(c - D, 0)/L + D·P/L · C/T
    *            = ((4c - 3)·T + 3·P·C) / (4·L·T)        (c >= 1, D = 3/4)
    *
    * — one exact integer ratio. `p_fp` = floor(num · 1e12 / den): both
    * engines evaluate the same integer arithmetic (decimal here, HUGEINT
    * in the oracle), so probabilities hash-check bit-for-bit with no libm
    * anywhere. Per-context probabilities sum to <= 1e12 exactly (equality
    * up to floor dust when every continuation of w1 is observed) —
    * property-tested.
    *
    * `minCount` bounds the OUTPUT only: the backoff statistics (L, P, C,
    * T) always see the full bigram table, so surviving rows carry the
    * probabilities the full model would assign.
    *
    * Scale shape: one bigram-count aggregate (map-side combined), then two
    * key-local reshuffles for the left/right marginals, one 1-row global
    * broadcast, and an equi-join chain back onto the count table — no
    * window, no per-pair work beyond observed types.
    */
  def knBigramProbs(df: org.apache.spark.sql.DataFrame, idCol: String,
                    textCol: String,
                    minCount: Long): org.apache.spark.sql.DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    // count by the ONE gram key (codegen kernel fan-out), split the word
    // columns once per distinct TYPE — identical rows to the retired
    // (w1, w2)-keyed interpreted-transform form by the gram ↔ (w1, w2)
    // bijection (round 20; see gramOccurrences/splitGram)
    val bc = splitGram(gramOccurrences(df, textCol, 2, Seq.empty)
      .groupBy(col("gram")).agg(count(lit(1)).as("c")), 2)
    val lf = bc.groupBy(col("w1"))
      .agg(sum(col("c")).as("cleft"), count(lit(1)).as("n1p"))
    val rc = bc.groupBy(col("w2")).agg(count(lit(1)).as("n1c"))
    val tot = bc.agg(count(lit(1)).as("n1tot"))
    bc.join(lf, Seq("w1")).join(rc, Seq("w2")).crossJoin(broadcast(tot))
      .filter(col("c") >= minCount)
      .select(col("w1"), col("w2"), col("c"),
        // decimal(38,0) keeps the numerator exact past Long range (c and T
        // both grow with the corpus; 4cT overflows BIGINT near c·T ~ 2e18)
        expr("""CAST(
          (CAST(4 * c - 3 AS DECIMAL(38, 0)) * n1tot
             + CAST(3 AS DECIMAL(38, 0)) * n1p * n1c)
            * CAST(1000000000000 AS DECIMAL(38, 0))
          div (CAST(4 AS DECIMAL(38, 0)) * cleft * n1tot)
        AS BIGINT)""").as("p_fp"))
  }

  /** Interpolated Kneser–Ney TRIGRAM probabilities (Chen & Goodman 1999,
    * absolute discount D = 3/4 at both orders) — the order-3 rung above
    * [[knBigramProbs]], riding the same one-scan/count-table discipline as
    * [[ngramLmCounts]]. For every observed trigram, with
    *
    *   c  = c(w1 w2 w3),  L = c(w1 w2 ·),   P  = N1+(w1 w2 ·),
    *   b  = N1+(· w2 w3), M = N1+(· w2 ·),  P2 = N1+(w2 ·),
    *   C1 = N1+(· w3),    T = N1+(· ·)
    *
    * (ALL lower-order statistics derived from the trigram TYPE table — the
    * Chen–Goodman continuation-count construction; no sentence padding, no
    * cross-document grams, consistent with [[ngramLmCounts]]'s
    * doc-boundary contract):
    *
    *   p2(w3|w2)    = max(b − D, 0)/M + D·P2/M · C1/T
    *                = ((4b − 3)·T + 3·P2·C1) / (4·M·T)
    *   p3(w3|w1 w2) = max(c − D, 0)/L + D·P/L · p2(w3|w2)
    *
    * Fixed-point contract: `p2_fp` is the exact floor of p2 · 1e12 (the
    * lm2 single-ratio discipline); `p_fp` nests ONE floor —
    * floor(((4c−3)·1e12 + 3·P·p2_fp) / (4·L)) — so every intermediate
    * stays within decimal(38,0) at any corpus size (the un-nested single
    * ratio would need ~10^52 at 100 TB). The nesting under-counts p3 by
    * < 3·P/(4·L) · 1e-12 < 1 fp unit — below the fixed-point resolution,
    * and monotone (never over 1), so the per-context mass identity
    * Σ p3 ≤ 1e12 survives exactly (property-tested). Both engines run the
    * same integer arithmetic (decimal here, HUGEINT in the oracle), so
    * probabilities hash-check bit-for-bit with no libm anywhere.
    *
    * `minCount` bounds the OUTPUT only; backoff statistics always see the
    * full type table.
    *
    * Scale shape: one trigram-count aggregate (map-side combined), three
    * key-local type aggregates (context, middle-pair, unigram marginals),
    * one 1-row broadcast total, and equi-join chains back onto the count
    * table — no window, no per-pair work beyond observed types. `idCol`
    * accepted only for signature uniformity (counts are corpus-global).
    */
  def knTrigramProbs(df: org.apache.spark.sql.DataFrame, idCol: String,
                     textCol: String,
                     minCount: Long): org.apache.spark.sql.DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    // count by the ONE gram key (codegen kernel fan-out), split the word
    // columns once per distinct TYPE (round 20 — the knBigramProbs move)
    val tc = splitGram(gramOccurrences(df, textCol, 3, Seq.empty)
      .groupBy(col("gram")).agg(count(lit(1)).as("c")), 3)
    // highest-order context: token mass and distinct continuations
    val ctx = tc.groupBy(col("w1"), col("w2"))
      .agg(sum(col("c")).as("l3"), count(lit(1)).as("p3n"))
    // middle-order continuation pairs: b(w2,w3) = N1+(· w2 w3)
    val cb = tc.groupBy(col("w2"), col("w3")).agg(count(lit(1)).as("cb2"))
    val mid = cb.groupBy(col("w2"))
      .agg(sum(col("cb2")).as("m2"), count(lit(1)).as("p2n"))
    val c1 = cb.groupBy(col("w3")).agg(count(lit(1)).as("c1"))
    val tot = cb.agg(count(lit(1)).as("n1tot"))
    val p2 = cb.join(mid, Seq("w2")).join(c1, Seq("w3"))
      .crossJoin(broadcast(tot))
      .select(col("w2"), col("w3"),
        expr("""CAST(
          (CAST(4 * cb2 - 3 AS DECIMAL(38, 0)) * n1tot
             + CAST(3 AS DECIMAL(38, 0)) * p2n * c1)
            * CAST(1000000000000 AS DECIMAL(38, 0))
          div (CAST(4 AS DECIMAL(38, 0)) * m2 * n1tot)
        AS BIGINT)""").as("p2_fp"))
    tc.join(ctx, Seq("w1", "w2")).join(p2, Seq("w2", "w3"))
      .filter(col("c") >= minCount)
      .select(col("w1"), col("w2"), col("w3"), col("c"),
        expr("""CAST(
          (CAST(4 * c - 3 AS DECIMAL(38, 0)) * 1000000000000
             + CAST(3 AS DECIMAL(38, 0)) * p3n * p2_fp)
          div (CAST(4 AS DECIMAL(38, 0)) * l3)
        AS BIGINT)""").as("p_fp"))
  }

  /** Document log-likelihood under an interpolated Kneser–Ney BIGRAM model
    * trained on `train` — the CCNet scorer made real (Wenzek et al. 2020
    * score crawl docs by the perplexity of a wiki-trained KN LM;
    * [[perplexityBuckets]]'s scorer contract says the ranker is swappable —
    * this is the swap-in). Three-case probability for a scored pair
    * (w1, w2), all lm2 statistics (c, L, P, C1, T from the train bigram
    * table; U = distinct-continuation vocab + 1 as the add-one floor):
    *
    *   observed:       ((4c−3)·T + 3·P·C1) / (4·L·T)      (the lm2 ratio)
    *   context-only:   3·P/(4·L) · (C1+1)/(T+U)           (KN backoff, floored)
    *   OOV context:    (C1+1)/(T+U)                       (continuation prior)
    *
    * Each case floors ONCE to `p_fp` ∈ [1, 1e12] (decimal(38,0) keeps the
    * products exact at any corpus size — the lm2/lm3 discipline), then
    * ln(p_fp/1e12) through [[graft.plans.LnFp]]'s integer micro-nat fixed
    * point — so scores are the fixed-point MODEL's exact log-likelihoods,
    * bit-identical in any engine implementing the same integer recurrence
    * (the sm9/t18 libm-free discipline; a float ln per pair could never
    * hash-check). Output per scored doc: (doc_id, n_bigrams, ll_fp
    * [micro-nats, ≤ 0], avg_nll_micro = floor(−ll/n), NULL when the doc
    * has no bigram). Low ll = atypical under the reference corpus — the
    * filter/tier signal.
    *
    * Scale shape: pair statistics are type-keyed equi-joins (never
    * occurrence-keyed); the ln evaluates once per DISTINCT pair type, then
    * one map-side-combinable per-doc weighted sum. One 1-row broadcast
    * total; no window, no driver state.
    */
  def knDocScore(train: org.apache.spark.sql.DataFrame,
                 score: org.apache.spark.sql.DataFrame, idCol: String,
                 textCol: String): org.apache.spark.sql.DataFrame =
    knScoreChain(
      splitGram(gramOccurrences(train, textCol, 2, Seq.empty)
        .groupBy(col("gram")).agg(count(lit(1)).as("c")), 2),
      score, idCol, textCol)

  /** [[knDocScore]] scoring straight from a PERSISTED count table — the
    * train-once/serve-many loop [[LmIndex]] exists for: `counts` is any
    * DataFrame with the (ord, gram, c, …) lm1 schema
    * ([[LmIndex.serveLmCounts]] at minCount = 1, or [[ngramLmCounts]]
    * itself), and the bigram model is its ord = 2 rows split back into
    * (w1, w2, c) — bit-identical inputs to the from-scratch recount, so
    * scores through storage hash-equal [[knDocScore]] (spec-proven; the
    * lm8 oracle is lm4's verbatim). maxOrder >= 2 and minCount = 1 at
    * serve are the caller's contract: a pruned count table is a DIFFERENT
    * model (the scores would still be well-defined, just not lm4's).
    */
  def knDocScoreServed(counts: org.apache.spark.sql.DataFrame,
                       score: org.apache.spark.sql.DataFrame, idCol: String,
                       textCol: String): org.apache.spark.sql.DataFrame =
    knScoreChain(
      splitGram(counts.filter(col("ord") === 2)
        .select(col("gram"), col("c")), 2),
      score, idCol, textCol)

  /** One (…, gram) row per order-`n` word-window OCCURRENCE of `df`, via
    * the [[graft.plans.WordWindowsLong]] codegen kernel — the shared
    * fan-out of the LM train and score sides. Replaces the retired
    * bigramRows/trigramRows interpreted-transform fan-outs (round 20): the
    * window arrives as ONE zero-copy string, so the per-doc type aggregate
    * groups on a single key and the word columns are recovered by
    * [[splitGram]] once per DISTINCT type, never per occurrence.
    */
  private def gramOccurrences(df: org.apache.spark.sql.DataFrame,
                              textCol: String, n: Int,
                              extra: Seq[(Column, String)])
      : org.apache.spark.sql.DataFrame =
    df.select(extra.map { case (c, nm) => c.as(nm) } :+
      explode(graft.plans.WordWindowsLong.wordWindows(col(textCol), n))
        .as("gram"): _*)

  /** Add w1..wn columns split from order-`n` `gram` text: gram is n
    * single-space-split tokens joined by single spaces and tokens never
    * contain spaces, so a fixed-position split is lossless — including
    * empty tokens, which round-trip as empty strings. Run this per
    * distinct TYPE (count-table rows), never per occurrence.
    */
  private def splitGram(df: org.apache.spark.sql.DataFrame,
                        n: Int): org.apache.spark.sql.DataFrame = {
    val ws = split(col("gram"), " ")
    df.select(df.columns.map(col).toSeq ++
      (1 to n).map(i => element_at(ws, i).as(s"w$i")): _*)
  }

  /** The KN scoring chain from a prebuilt bigram count table `bc`
    * (gram, c, w1, w2) — every derived statistic (lf, rc, tot) comes from
    * bc, so from-scratch and served paths are bit-identical by
    * construction. The scored side reduces to per-(doc, gram-TYPE) counts
    * on the single gram key; the probability chain runs once per distinct
    * type (its word columns split once per type) and rejoins on gram —
    * gram ↔ (w1, w2) is a bijection, so every join below pairs exactly the
    * rows the retired (w1, w2)-keyed form paired.
    */
  private def knScoreChain(bc: org.apache.spark.sql.DataFrame,
                           score: org.apache.spark.sql.DataFrame,
                           idCol: String, textCol: String)
      : org.apache.spark.sql.DataFrame = {
    val ln = graft.plans.LnFpFunctions.lnMicro _
    val lf = bc.groupBy(col("w1"))
      .agg(sum(col("c")).as("l"), count(lit(1)).as("p"))
    val rc = bc.groupBy(col("w2")).agg(count(lit(1)).as("c1"))
    val tot = bc.agg(count(lit(1)).as("t"),
      (countDistinct(col("w2")) + lit(1L)).as("u"))
    val db = gramOccurrences(score, textCol, 2, Seq(col(idCol) -> "did"))
      .groupBy(col("did"), col("gram")).agg(count(lit(1)).as("k"))
    val lnp = splitGram(db.select(col("gram")).distinct(), 2)
      .join(bc.select(col("gram"), col("c")), Seq("gram"), "left")
      .join(lf, Seq("w1"), "left")
      .join(rc, Seq("w2"), "left")
      .crossJoin(broadcast(tot))
      .select(col("gram"), expr("""CASE
        WHEN c IS NOT NULL THEN CAST(
          (CAST(4 * c - 3 AS DECIMAL(38, 0)) * t
             + CAST(3 AS DECIMAL(38, 0)) * p * c1)
            * CAST(1000000000000 AS DECIMAL(38, 0))
          div (CAST(4 AS DECIMAL(38, 0)) * l * t) AS BIGINT)
        WHEN l IS NOT NULL THEN CAST(
          CAST(3 AS DECIMAL(38, 0)) * p * (coalesce(c1, 0) + 1)
            * CAST(1000000000000 AS DECIMAL(38, 0))
          div (CAST(4 AS DECIMAL(38, 0)) * l * (t + u)) AS BIGINT)
        ELSE CAST(
          CAST(coalesce(c1, 0) + 1 AS DECIMAL(38, 0))
            * CAST(1000000000000 AS DECIMAL(38, 0))
          div CAST(t + u AS DECIMAL(38, 0)) AS BIGINT)
        END""").as("p_fp"))
      .select(col("gram"),
        ln(greatest(col("p_fp"), lit(1L)), lit(1000000000000L)).as("lnp"))
    val dl = db.join(lnp, Seq("gram"))
      .groupBy(col("did"))
      .agg(sum(col("k")).as("n_bigrams"), sum(col("k") * col("lnp")).as("ll_fp"))
    score.select(col(idCol).as("doc_id"))
      .join(dl.withColumnRenamed("did", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("ll_fp"), lit(0L)).as("ll_fp"))
      .withColumn("avg_nll_micro",
        when(col("n_bigrams") > 0, expr("(-ll_fp) div n_bigrams")))
  }

  /** Stupid Backoff doc scoring (Brants et al. 2007, "Large Language
    * Models in Machine Translation", EMNLP 2007 §4): the LM scoring rule
    * that paper built FOR distributed counting — no discounting, no
    * continuation counts, no normalization; relative frequencies with a
    * fixed backoff penalty α = 0.4:
    *
    *   S(w3|w1 w2) = c(w1w2w3)/c(w1w2)        if the trigram was seen
    *               = α·c(w2w3)/c(w2)          elif its bigram was seen
    *               = α²·(c(w3)+1)/(N+U)      else (add-one unigrams — the
    *                 paper leaves OOV unspecified; the knDocScore
    *                 else-branch convention keeps scores finite)
    *
    * Every score is an exact fixed-point integer: p_fp = ⌊S·1e12⌋ with α
    * folded in as the exact rational 2/5 (α² = 4/25) inside ONE
    * DECIMAL(38,0) integral division, then ln through the LnFp kernel —
    * bit-reproducible. Complements the KN family (lm2–lm4): KN is the
    * QUALITY model, Stupid Backoff the THROUGHPUT one — at 100 TB its
    * whole model build is a count aggregate (lm1's shape), nothing else.
    *
    * Output per scored doc: (doc_id, n_trigrams, ll_fp, avg_nll_micro);
    * docs under 3 tokens score 0 trigrams and a NULL average.
    *
    * Scale shape (the knDocScore posture): train collapses to three
    * map-side-combinable count tables; scored docs reduce to distinct
    * trigram TYPES before the probability join chain (per-doc
    * multiplicity k rejoins after the ln), so the chain runs once per
    * type, never per occurrence.
    */
  def stupidBackoffDocScore(train: org.apache.spark.sql.DataFrame,
                            score: org.apache.spark.sql.DataFrame,
                            idCol: String, textCol: String)
      : org.apache.spark.sql.DataFrame = {
    val uni = train.select(explode(words(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val bi = splitGram(gramOccurrences(train, textCol, 2, Seq.empty)
      .groupBy(col("gram")).agg(count(lit(1)).as("c")), 2)
      .select(col("w1"), col("w2"), col("c"))
    val tri = gramOccurrences(train, textCol, 3, Seq.empty)
      .groupBy(col("gram")).agg(count(lit(1)).as("c3"))
    sbScoreChain(uni, bi, tri, score, idCol, textCol)
  }

  /** [[stupidBackoffDocScore]] from a PERSISTED count table — the lm8/lm9
    * serve loop: `counts` carries the lm1 (ord, gram, c, …) schema at
    * maxOrder >= 3 and minCount = 1 ([[LmIndex.serveLmCounts]]); the three
    * model tables are its ord = 1/2/3 rows, bit-identical to a recount of
    * the train split, so scores through storage hash-equal the
    * from-scratch path (spec-proven; the lm9 oracle is lm7's verbatim).
    */
  def stupidBackoffDocScoreServed(counts: org.apache.spark.sql.DataFrame,
                                  score: org.apache.spark.sql.DataFrame,
                                  idCol: String, textCol: String)
      : org.apache.spark.sql.DataFrame =
    sbScoreChain(
      counts.filter(col("ord") === 1)
        .select(col("gram").as("w"), col("c")),
      splitGram(counts.filter(col("ord") === 2)
        .select(col("gram"), col("c")), 2)
        .select(col("w1"), col("w2"), col("c")),
      counts.filter(col("ord") === 3)
        .select(col("gram"), col("c").as("c3")),
      score, idCol, textCol)

  /** The Stupid Backoff scoring chain from prebuilt model tables
    * uni (w, c) / bi (w1, w2, c) / tri (gram, c3 — keyed by the full
    * trigram TEXT; the chain only ever probes tri by the whole trigram,
    * and gram ↔ (w1, w2, w3) is a bijection) — `tot` derives from uni
    * inside, so from-scratch and served paths share every downstream
    * expression bit-for-bit. The scored side reduces to per-(doc,
    * trigram-TYPE) counts on the single gram key ([[gramOccurrences]]);
    * word columns split once per distinct type for the backoff joins.
    */
  private def sbScoreChain(uni: org.apache.spark.sql.DataFrame,
                           bi: org.apache.spark.sql.DataFrame,
                           tri: org.apache.spark.sql.DataFrame,
                           score: org.apache.spark.sql.DataFrame,
                           idCol: String, textCol: String)
      : org.apache.spark.sql.DataFrame = {
    val ln = graft.plans.LnFpFunctions.lnMicro _
    val tot = uni.agg(sum(col("c")).as("nn"),
      (count(lit(1)) + lit(1L)).as("uu"))
    val db = gramOccurrences(score, textCol, 3, Seq(col(idCol) -> "did"))
      .groupBy(col("did"), col("gram")).agg(count(lit(1)).as("k"))
    val lnp = splitGram(db.select(col("gram")).distinct(), 3)
      .join(tri, Seq("gram"), "left")
      .join(bi.select(col("w1"), col("w2"), col("c").as("b12")),
        Seq("w1", "w2"), "left")
      .join(bi.select(col("w1").as("w2"), col("w2").as("w3"),
        col("c").as("b23")), Seq("w2", "w3"), "left")
      .join(uni.select(col("w").as("w2"), col("c").as("u2")), Seq("w2"), "left")
      .join(uni.select(col("w").as("w3"), col("c").as("u3")), Seq("w3"), "left")
      .crossJoin(broadcast(tot))
      .select(col("gram"), expr("""CASE
        WHEN c3 IS NOT NULL THEN CAST(
          (CAST(c3 AS DECIMAL(38, 0)) * 1000000000000)
            div CAST(b12 AS DECIMAL(38, 0)) AS BIGINT)
        WHEN b23 IS NOT NULL THEN CAST(
          (CAST(b23 AS DECIMAL(38, 0)) * 2000000000000)
            div (CAST(u2 AS DECIMAL(38, 0)) * 5) AS BIGINT)
        ELSE CAST(
          (CAST(coalesce(u3, 0) + 1 AS DECIMAL(38, 0)) * 4000000000000)
            div (CAST(nn + uu AS DECIMAL(38, 0)) * 25) AS BIGINT)
        END""").as("p_fp"))
      .select(col("gram"),
        ln(greatest(col("p_fp"), lit(1L)), lit(1000000000000L)).as("lnp"))
    val dl = db.join(lnp, Seq("gram"))
      .groupBy(col("did"))
      .agg(sum(col("k")).as("n_trigrams"), sum(col("k") * col("lnp")).as("ll_fp"))
    score.select(col(idCol).as("doc_id"))
      .join(dl.withColumnRenamed("did", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_trigrams"), lit(0L)).as("n_trigrams"),
        coalesce(col("ll_fp"), lit(0L)).as("ll_fp"))
      .withColumn("avg_nll_micro",
        when(col("n_trigrams") > 0, expr("(-ll_fp) div n_trigrams")))
  }

  /** Unigram-LM tokenizer training (Kudo 2018, the SentencePiece unigram
    * model) — the missing tokenizer family next to BPE (t14/t16 train
    * merges; this trains a PIECE INVENTORY with probabilities). The
    * engine-exact variant implemented here is hard-EM (Viterbi-EM):
    *
    *   seed:  every corpus character (mandatory, the paper's required
    *          alphabet) plus the TOP `seedSize` substrings up to
    *          `maxPieceLen` by (frequency-weighted occurrence count desc,
    *          piece asc) among those clearing `minCount` — Kudo's "large
    *          seed vocabulary of frequent substrings", capped the way
    *          SentencePiece caps it (`seed_sentencepiece_size`), so the
    *          driver-side model collect and the kernel's plan-literal
    *          array are BOUNDED at any corpus size (VERDICT r15 #2);
    *   E:     segment every distinct word by Viterbi under current piece
    *          scores ([[graft.plans.UnigramSegment]], one per-row
    *          kernel call, model as plan literals — the BpeSegment
    *          posture), ties to the longer last piece;
    *   M:     piece usage = frequency-weighted Viterbi counts; new score
    *          = ln(max(1, floor(usage·1e12 / Σusage))) in EXACT integer
    *          micro-nats through the LnFp kernel. Unused multi-char
    *          pieces drop; characters persist at the probability floor.
    *   prune: after `rounds` EM rounds keep all characters plus the top
    *          (vocabSize − |chars|) multi-char pieces by (usage desc,
    *          piece asc).
    *
    * Deviations from the paper, chosen for bit-reproducibility and
    * documented as the contract the oracle replays: hard (Viterbi) counts
    * instead of forward–backward expected counts, a fixed round count
    * instead of convergence, and frequency pruning instead of
    * likelihood-loss pruning. Every arithmetic step is integer, so the
    * DuckDB oracle unrolls the identical DP (per word-length CTE, same
    * longer-last-piece tie-break) and the result hash-checks.
    *
    * Output: (rank, piece, usage, score_fp) — rank by (usage desc, piece
    * asc) over the pruned vocabulary, score_fp the final micro-nat
    * log-probability.
    *
    * Scale shape: the corpus collapses to the distinct-word frequency
    * table once (map-side combinable); each round is ONE kernel scan of
    * that table plus one piece-keyed count. The model (vocab pieces +
    * scores) is driver-resident between rounds — the t14/BPE "model fits
    * the driver" discipline; at 100 TB the word table is large but the
    * VOCAB is bounded by construction (minCount-pruned seeds), which is
    * exactly why SentencePiece scales the same way.
    */
  def unigramLmVocab(df: org.apache.spark.sql.DataFrame, textCol: String,
                     maxPieceLen: Int, rounds: Int, vocabSize: Int,
                     minCount: Long,
                     seedSize: Int = 1000000): org.apache.spark.sql.DataFrame = {
    require(maxPieceLen >= 1 && maxPieceLen <= 8,
      s"maxPieceLen must be in [1, 8], got $maxPieceLen")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    require(seedSize >= 1, s"seedSize must be >= 1, got $seedSize")
    val spark = df.sparkSession
    import spark.implicits._
    val Q = 1000000000000L
    val ln = graft.plans.LnFpFunctions.lnMicro _
    graft.core.Storage.freeingIntermediates(spark) {
      val wf = graft.core.Storage.cut(
        df.select(explode(words(col(textCol))).as("w"))
          .filter(length(col("w")) > 0)
          .groupBy(col("w")).agg(count(lit(1)).as("freq")),
        eager = true)
      val chars = graft.core.Storage.cut(
        wf.select(explode(split(col("w"), "")).as("piece"))
          .filter(length(col("piece")) > 0).distinct(),
        eager = true)
      val nChars = chars.count()
      // empty corpus: an empty LOCAL frame with the contract schema. No
      // `return` — a non-local return tunnels through freeingIntermediates
      // with out == null, so EVERY checkpoint created above is freed and a
      // result referencing one would read unpersisted blocks (r15 review);
      // the local relation references nothing, and if/else keeps the
      // wrapper's keep-set semantics intact for the trained branch.
      if (nChars == 0)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("rank",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("piece",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("usage",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("score_fp",
              org.apache.spark.sql.types.LongType))))
      else {
      require(vocabSize > nChars,
        s"vocabSize=$vocabSize must exceed the $nChars mandatory characters")
      // seed usage: frequency-weighted substring occurrence counts.
      // Characters are mandatory; multi-char candidates clear minCount AND
      // the top-seedSize cut (usage desc, piece asc) — the limit is what
      // bounds modelOf's driver collect at any corpus (every later round's
      // vocabulary is a subset of the seed, so one cap bounds them all).
      val subUsage = wf.select(col("freq"),
          explode(flatten(transform(sequence(lit(1), lit(maxPieceLen)), j =>
            transform(filter(sequence(lit(1), length(col("w"))),
              i => i <= length(col("w")) - j + 1),
              i => col("w").substr(i, j))))).as("piece"))
        .groupBy(col("piece")).agg(sum(col("freq")).as("usage"))
      val seed = subUsage.filter(length(col("piece")) === 1)
        .unionByName(subUsage
          .filter(length(col("piece")) > 1 && col("usage") >= minCount)
          .orderBy(col("usage").desc, col("piece")).limit(seedSize))
      // integer model: piece -> micro-nat ln(max(1, usage*1e12 div total)),
      // collected driver-side in deterministic order (plan-literal model)
      def modelOf(usage: org.apache.spark.sql.DataFrame): Seq[(String, Long)] = {
        val t = usage.agg(sum(col("usage"))).head().getLong(0)
        usage.select(col("piece"),
            ln(greatest(expr(s"CAST((CAST(usage AS DECIMAL(38,0)) * $Q) " +
              s"div CAST($t AS DECIMAL(38,0)) AS BIGINT)"), lit(1L)),
              lit(Q)).as("lnp"))
          .as[(String, Long)].collect().sortBy(_._1).toSeq
      }
      var model = modelOf(seed)
      var usage: org.apache.spark.sql.DataFrame = null
      var r = 0
      while (r < rounds) {
        val used = wf.select(col("freq"),
            explode(graft.plans.UnigramSegment.unigramSegment(col("w"), model))
              .as("piece"))
          .groupBy(col("piece")).agg(sum(col("freq")).as("usage"))
        val next = graft.core.Storage.cut(
          chars.join(used, Seq("piece"), "left")
            .select(col("piece"), coalesce(col("usage"), lit(0L)).as("usage"))
            .unionByName(used.filter(length(col("piece")) > 1)),
          eager = true)
        if (usage != null) graft.core.Storage.freeCheckpoint(usage)
        usage = next
        model = modelOf(usage)
        r += 1
      }
      val tFinal = usage.agg(sum(col("usage"))).head().getLong(0)
      val pruned = usage.filter(length(col("piece")) === 1)
        .unionByName(usage.filter(length(col("piece")) > 1)
          .orderBy(col("usage").desc, col("piece"))
          .limit((vocabSize - nChars).toInt))
      // vocab-bounded output: the rank window is a post-prune list of at
      // most vocabSize rows (the fts3 documented single-partition window)
      graft.core.Storage.cut(pruned.select(col("piece"), col("usage"),
          ln(greatest(expr(s"CAST((CAST(usage AS DECIMAL(38,0)) * $Q) " +
            s"div CAST($tFinal AS DECIMAL(38,0)) AS BIGINT)"), lit(1L)),
            lit(Q)).as("score_fp"))
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("usage").desc, col("piece"))).cast("long"))
        .select(col("rank"), col("piece"), col("usage"), col("score_fp")))
      }
    }
  }

  /** Hashing-trick unigram featurizer shared by train and serve: explodes
    * `textCol` into one (…, b) row per token OCCURRENCE (counts matter
    * downstream), b = 48-bit md5 of the token mod nBuckets. All other
    * columns of `base` ride along, so labels stay inline — no re-join.
    */
  private def featurize(base: org.apache.spark.sql.DataFrame,
                        textCol: String, nBuckets: Int)
      : org.apache.spark.sql.DataFrame =
    base.withColumn("feat", explode(words(col(textCol))))
      .filter(length(col("feat")) > 0)
      .withColumn("b", graft.operators.Dedup.hash48(col("feat")) % nBuckets)
      .drop(textCol, "feat")

  /** Good-Turing frequency re-estimation (Good 1953) over the corpus
    * word n-gram counts — the count-of-counts table behind every
    * discounted LM (the held-out mass KN/SB approximate analytically):
    * for each observed count r the adjusted count
    * r* = (r+1)·N_{r+1}/N_r, in exact integer micro-units (one floor
    * division per row — engine-identical). Rows where N_{r+1} = 0 report
    * gt_fp = 0, the raw estimator's honest hole (smoothing N_r is a
    * modeling choice left to the caller). The low-r head GT actually
    * re-estimates is only populated for sparse event spaces — n >= 2 in
    * practice (a unigram table over a small-vocabulary corpus has no
    * singletons at all).
    *
    * Scale shape: one map-side-combinable gram count (the lm1 shuffle),
    * then a count-of-counts rollup whose cardinality is max(r) — a
    * dimension-sized frame; the r→r+1 join is self-join on that tiny
    * frame. Output bounded by `maxR` rows.
    */
  def goodTuring(df: org.apache.spark.sql.DataFrame, idCol: String,
                 textCol: String, n: Int,
                 maxR: Long): org.apache.spark.sql.DataFrame = {
    require(maxR >= 1, s"maxR must be >= 1, got $maxR")
    require(n >= 1, s"n must be >= 1, got $n")
    // WordWindowsLong kernel — identical gram multiset to wordShinglesAll
    // (see bigramStats), one codegen pass per row
    val wc = df.select(
        explode(graft.plans.WordWindowsLong.wordWindows(col(textCol), n))
          .as("gram"))
      .groupBy(col("gram")).agg(count(lit(1)).as("r"))
    val coc = wc.groupBy(col("r")).agg(count(lit(1)).as("n_r"))
    val next = coc.select((col("r") - 1L).as("r"), col("n_r").as("n_next"))
    coc.join(next, Seq("r"), "left")
      .filter(col("r") >= 1L && col("r") <= maxR)
      .select(col("r"), col("n_r"),
        coalesce(col("n_next"), lit(0L)).as("n_next"))
      .withColumn("gt_fp",
        expr("((r + 1) * n_next * 1000000) div n_r"))
  }
}
