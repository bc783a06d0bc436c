package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication for training-data pipelines, exact through approximate.
  *
  * Scale design: every variant is expressed as explode -> hash-shuffle ->
  * aggregate, the same shape Spark uses for TPC-style aggregation, so the
  * 100 TB path is "more partitions", never "bigger driver". The LSH pipeline
  * (shingle -> minhash -> band -> bucket self-join -> verify) only ever
  * joins within band buckets, which is the standard way to keep candidate
  * generation subquadratic; the brute-force Jaccard join exists as the
  * correctness baseline for small inputs and for oracle checks.
  *
  * Hash discipline: the only string hash used is md5 (identical across
  * engines); hex prefixes are parsed to integers so every downstream minhash
  * permutation, band key, and simhash bit is exact integer arithmetic an SQL
  * oracle reproduces bit-for-bit. (Spark's murmur3 `hash()` would be faster
  * but engine-private; swap `hash32` for it when oracle parity isn't needed.)
  */
object Dedup {

  /** First 8 md5 hex chars as an unsigned 32-bit value in a long.
    * Native digest-prefix expression — equal to
    * `conv(substring(md5(c), 1, 8), 16, 10)` but with no per-row hex/string
    * round-trip (see graft.plans.Md5PrefixLong).
    */
  def hash32(c: Column): Column = graft.plans.Md5PrefixLong.md5PrefixLong(c, 4)

  /** First 12 md5 hex chars — 48 bits, stays positive in a long. */
  def hash48(c: Column): Column = graft.plans.Md5PrefixLong.md5PrefixLong(c, 6)

  // ---- exact ---------------------------------------------------------------

  /** Exact dedup: one row per distinct text with the minimum id as keeper.
    * Map-side partial min/count keeps the shuffle tiny at scale; grouping by
    * md5(text) (not text) keeps shuffle keys 16 bytes instead of documents.
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("text_md5"))
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("n_copies"))

  /** Near-exact dedup on the normalized fingerprint (TextOps.fingerprint). */
  def byFingerprint(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(TextOps.fingerprint(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("n_copies"))

  /** Soft dedup: instead of DROPPING duplicates, every row keeps its
    * fingerprint cluster size and the 1/n down-weight a loss-reweighted
    * trainer consumes (the SlimPajama/D4 alternative to hard removal —
    * duplicated text still trains, but its gradient mass sums to one copy).
    *
    * Cluster sizes come from a groupBy + sort-merge join back on `fp`
    * rather than a `count() over (partition by fp)` window: the aggregate
    * is map-side combinable and the join streams, so a pathological hot
    * fingerprint (boilerplate pages — the empty-string cluster can be
    * billions of rows at 100 TB) lands on AQE's skew-join split instead of
    * materializing one window partition in a single task's memory.
    * weight = 1.0/n_copies is one IEEE division of an exact integer —
    * engine-reproducible.
    */
  def softDedupWeights(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val withFp = df.select(col(idCol), TextOps.fingerprint(col(textCol)).as("fp"))
    val sizes = withFp.groupBy(col("fp")).agg(count(lit(1)).as("n_copies"))
    withFp.join(sizes, Seq("fp"))
      .select(col(idCol), col("fp"), col("n_copies"),
        (lit(1.0) / col("n_copies")).as("weight"))
  }

  // ---- shingling -----------------------------------------------------------

  /** Distinct word n-gram shingles, one row per (id, shingle).
    * `array_distinct` before the explode dedups locally — no extra shuffle.
    */
  def wordShingles(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    val w = split(col(textCol), " ")
    val grams = when(size(w) >= n,
      array_distinct(transform(sequence(lit(1), size(w) - (n - 1)),
        i => array_join(slice(w, i, lit(n)), " "))))
      .otherwise(array().cast("array<string>"))
    df.select(col(idCol).as("sid"), explode(grams).as("gram"))
  }

  /** (sid, g) with g = [[hash48]] of each DISTINCT word n-gram — the fused
    * form of `wordShingles(...).select(sid, hash48(gram))`, which is what
    * every corpus-side consumer actually wants (gram strings never leave
    * the row). One codegen'd zero-copy pass (plans.ShingleHashesLong);
    * the composed form paid an interpreted HOF walk + a String per gram
    * (round 19 — profiled as g2's dominant frame). `wordShingles` itself
    * stays for the spec twins and any consumer that needs gram TEXT.
    */
  def wordShingleHashes(df: DataFrame, idCol: String, textCol: String,
                        n: Int): DataFrame =
    df.select(col(idCol).as("sid"),
      explode(graft.plans.ShingleHashesLong.shingleHashes(
        col(textCol), n, 6)).as("g"))

  /** (sid, g) with MULTIPLICITY — the fused form of
    * `wordShinglesAll(...).select(sid, hash48(gram))` (same kernel, dedup
    * table skipped). For the decontamination/bloom paths that hash every
    * gram occurrence before a corpus-side semi-join.
    */
  def wordShingleHashesAll(df: DataFrame, idCol: String, textCol: String,
                           n: Int): DataFrame =
    df.select(col(idCol).as("sid"),
      explode(graft.plans.ShingleHashesLong.shingleHashesAll(
        col(textCol), n, 6)).as("g"))

  /** Word n-gram shingles WITH multiplicity — explode+slice only, no
    * higher-order functions (those evaluate interpreted and allocate per
    * row). MinHash minima are multiset-invariant, so the signature path can
    * skip dedup entirely and stay fully codegen'd.
    */
  def wordShinglesAll(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    val withW = df.select(col(idCol).as("sid"), split(col(textCol), " ").as("w"))
    withW
      .select(col("sid"), col("w"),
        explode(when(size(col("w")) >= n, sequence(lit(1), size(col("w")) - (n - 1))))
          .as("i"))
      .select(col("sid"), array_join(slice(col("w"), col("i"), lit(n)), " ").as("gram"))
  }

  /** Shingle-set sizes per document. */
  private def shingleSizes(sh: DataFrame): DataFrame =
    sh.groupBy(col("sid")).agg(count(lit(1)).as("nsh"))

  // ---- brute-force n-gram Jaccard (correctness baseline) -------------------

  /** All pairs with Jaccard(word-ngram sets) >= threshold, via a
    * shared-shingle self-join. Exact but O(sum_g df(g)^2) — the baseline and
    * verify stage, not the scale path (use `minhashCandidates` first).
    * Jaccard is an integer ratio, so it's engine-exact.
    *
    * The self-join keys on the 48-bit gram HASH, not the gram string: the
    * exchange carries 8-byte longs instead of text, and long equality beats
    * string compare in the probe. The oracle hashes identically, so the
    * (astronomically unlikely) collision behaves the same on both sides.
    */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
                   n: Int, threshold: Double): DataFrame =
    graft.core.Storage.freeingIntermediates(df.sparkSession) {
      val sh = graft.core.Storage.cut(wordShingleHashes(df, idCol, textCol, n), eager = false)
      val sizes = shingleSizes(sh)
      val inter = sh.as("a")
        .join(sh.as("b"),
          col("a.g") === col("b.g") && col("a.sid") < col("b.sid"))
        .groupBy(col("a.sid").as("ida"), col("b.sid").as("idb"))
        .agg(count(lit(1)).as("n_inter"))
      inter
        .join(sizes.as("sa"), col("ida") === col("sa.sid"))
        .join(sizes.as("sb"), col("idb") === col("sb.sid"))
        .select(col("ida"), col("idb"),
          (col("n_inter").cast("double") /
            (col("sa.nsh") + col("sb.nsh") - col("n_inter"))).as("jaccard"))
        // materialize the (small) verified-pair result so the shingle
        // checkpoint above can be freed at operator exit instead of leaking
        // into session storage (Storage.scala's contract); Storage.cut so a
        // cluster run with a checkpoint dir gets a RELIABLE result leaf, not
        // one copy in non-replicated executor storage
        .filter(col("jaccard") >= threshold)
        .transform(graft.core.Storage.cut(_))
    }

  /** EXACT Jaccard-threshold pairs via PREFIX FILTERING (AllPairs /
    * PPJoin, Bayardo et al. WWW'07; Xiao et al. WWW'08) — the subquadratic
    * exact path the brute-force [[jaccardPairs]] baselines. Same output as
    * the brute force (every pair with Jaccard >= threshold, exact integer
    * ratio), but the self-join runs on each document's PREFIX — its
    * rarest-first p = n - floor(t*n) + 1 shingles under a global
    * (document-frequency, hash) token order — instead of all n shingles.
    * Any pair at Jaccard >= t MUST share a prefix token (the overlap bound
    * o >= ceil(t*max(|a|,|b|)) leaves fewer than p skippable tokens per
    * side), so candidate recall is total; a size filter
    * (min >= t*max, since J <= min/max) prunes before the verify join,
    * and the exact intersection is computed only for candidates, on
    * shingle sets semi-join-restricted to candidate docs.
    *
    * Scale shape: document frequency is one (g)-keyed count; the prefix
    * rank is a window PARTITIONED BY sid — per-document state, never a
    * corpus-wide sort; the candidate join fans out per prefix token as
    * df_prefix(g)^2 where the global rare-first order biases prefixes
    * toward low-df tokens (a token's prefix-df is bounded by its corpus
    * df, and high-df tokens sort to the ends of prefixes first). The
    * verify stage is [[containmentPairs]]'s candidate-confined shape: text
    * never shuffles, all joins carry 8-byte hashed grams.
    */
  def prefixFilterPairs(df: DataFrame, idCol: String, textCol: String,
                        n: Int, threshold: Double): DataFrame =
    graft.core.Storage.freeingIntermediates(df.sparkSession) {
      prefixFilterPipeline(df, idCol, textCol, n, threshold, checkpoint = true)
    }

  /** [[prefixFilterPairs]] body. `checkpoint = false` keeps the full lineage
    * visible so DedupSpec can assert the plan shape (localCheckpoint —
    * eager or lazy — replaces the plan with an RDD scan, which would blind
    * the guard); production calls always checkpoint.
    */
  private[graft] def prefixFilterPipeline(
      df: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double, checkpoint: Boolean): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      require(threshold > 0 && threshold <= 1,
        s"threshold must be in (0, 1]: got $threshold")
      val cutLazy: DataFrame => DataFrame =
        if (checkpoint) graft.core.Storage.cut(_, eager = false) else identity
      val sh = cutLazy(wordShingleHashes(df, idCol, textCol, n))
      val sizes = shingleSizes(sh)
      val dfreq = sh.groupBy(col("g")).agg(count(lit(1)).as("gdf"))
      // rarest-first rank within each doc; prefix length is floor-based
      // (>= the tight n - ceil(t*n) + 1), so float fuzz can only widen
      // the prefix — the exact verify below decides membership either way
      val w = Window.partitionBy(col("sid")).orderBy(col("gdf"), col("g"))
      val prefix = sh.join(dfreq, Seq("g"))
        .withColumn("rn", row_number().over(w))
        .join(sizes, Seq("sid"))
        .filter(col("rn") <= col("nsh") - floor(lit(threshold) * col("nsh")) + 1)
        .select(col("sid"), col("g"), col("nsh"), col("rn"))
      // PPJoin POSITIONAL filter (Xiao et al. WWW'08 §3.2, round 20): a
      // token matching at ranks (rn_a, rn_b) within the two ordered sets
      // bounds the achievable overlap by 1 + min(nsh_a − rn_a, nsh_b −
      // rn_b) — tokens before the match in one set cannot pair with tokens
      // after it in the other under one global order — while Jaccard >= t
      // REQUIRES overlap >= t/(1+t)·(nsh_a + nsh_b). Completeness: a true
      // pair's FIRST shared token in the global order sits inside both
      // prefixes (the prefix-filter theorem) and every other shared token
      // orders after it in BOTH sets, so that match's bound >= the true
      // overlap >= the requirement — the pair always survives via its
      // first shared token; matches pruned here are redundant generators
      // the `distinct()` would have collapsed anyway, and the exact
      // verify below is unchanged. The 1e-6 slack absorbs float fuzz
      // (double error ~1e-11 at these magnitudes) so borderline-equal
      // bounds can only be KEPT, never dropped.
      val cands = prefix.as("a")
        .join(prefix.as("b"),
          col("a.g") === col("b.g") && col("a.sid") < col("b.sid") &&
            least(col("a.nsh"), col("b.nsh")) >=
              lit(threshold) * greatest(col("a.nsh"), col("b.nsh")) &&
            (lit(1L) + least(col("a.nsh") - col("a.rn"),
              col("b.nsh") - col("b.rn"))) * lit(1.0 + threshold) >=
              lit(threshold) * (col("a.nsh") + col("b.nsh")) - lit(1e-6))
        .select(col("a.sid").as("ida"), col("b.sid").as("idb")).distinct()
      val candIds = cands.select(col("ida").as("cand_sid"))
        .union(cands.select(col("idb").as("cand_sid"))).distinct()
      val shc = sh.join(broadcast(candIds), col("sid") === col("cand_sid"),
        "left_semi")
      cands
        .join(shc.as("sa"), col("ida") === col("sa.sid"))
        .join(shc.as("sb"),
          col("idb") === col("sb.sid") && col("sa.g") === col("sb.g"))
        .groupBy(col("ida"), col("idb"))
        .agg(count(lit(1)).as("n_inter"))
        .join(sizes.as("za").withColumnRenamed("nsh", "nsh_a"),
          col("ida") === col("za.sid"))
        .join(sizes.as("zb").withColumnRenamed("nsh", "nsh_b"),
          col("idb") === col("zb.sid"))
        .select(col("ida"), col("idb"),
          (col("n_inter").cast("double") /
            (col("nsh_a") + col("nsh_b") - col("n_inter"))).as("jaccard"))
        .filter(col("jaccard") >= threshold)
        .transform(d => if (checkpoint) graft.core.Storage.cut(d) else d)
  }

  // ---- MinHash + LSH (the scale path) --------------------------------------

  val MinhashPrime = 2147483647L // 2^31 - 1
  val NumHashes = 32
  val NumBands = 8
  val RowsPerBand: Int = NumHashes / NumBands

  def hashA(i: Int): Long = 2L * i + 1
  def hashB(i: Int): Long = 12345L * i + 67

  /** LSH S-CURVE CALIBRATION — measures the banding config against its own
    * theory (MMDS ch.3): with b bands of r rows, theory says
    * P(candidate | jaccard s) = 1 − (1 − s^r)^b; this report buckets the
    * GROUND-TRUTH overlapping pairs (brute-force jaccard — the d5
    * baseline) into 10 jaccard bins and compares the OBSERVED candidate
    * rate of [[minhashCandidates]] against the theoretical curve per bin —
    * the one-page answer to "is (b=8, r=4) actually the s-curve we think
    * we configured", including whatever gap the 2-universal affine hashes
    * open against the theory's independent-permutation assumption.
    *
    * Exactness: jaccard and the polynomial ride doubles through ONE fixed
    * association (j⁴ = (j·j)·(j·j), y⁸ = (y²·y²)·(y²·y²)) so both engines
    * compute identical IEEE values; per-pair predictions round ONCE into
    * integer micro-units so the per-bin sums are order-free; the two
    * output rates are single rounded divisions.
    *
    * Scale posture: quadratic BY DESIGN over a CALLER-BOUNDED sample (the
    * d5 baseline economics — pass a few hundred docs, calibration needs no
    * more); the join back to candidates is (ida, idb)-keyed.
    */
  def lshCalibration(df: DataFrame, idCol: String, textCol: String,
                     n: Int): DataFrame = {
    // the multiplication tree below hardcodes r=4 (j⁴) and b=8 (y⁸) for
    // engine-exact IEEE association; if the banding config is ever retuned
    // this report — whose whole job is catching misconfiguration — must
    // fail loudly rather than compare against the wrong curve (ADVICE r18)
    require(NumBands == 8 && RowsPerBand == 4,
      s"lshCalibration's fixed 1-(1-s^4)^8 tree assumes (b=8, r=4); " +
        s"config is (b=$NumBands, r=$RowsPerBand) — rebuild the power chain")
    val truth = jaccardPairs(df, idCol, textCol, n, 0.0)
    val cand = minhashCandidates(df, idCol, textCol, n)
      .withColumn("__c", lit(1L))
    val j = col("jaccard")
    val j2 = j * j
    val j4 = j2 * j2
    val y = lit(1.0) - j4
    val y2 = y * y
    val y4 = y2 * y2
    val y8 = y4 * y4
    truth.join(cand, Seq("ida", "idb"), "left")
      .select(least(floor(j * 10).cast("long"), lit(9L)).as("bin"),
        coalesce(col("__c"), lit(0L)).as("__isc"),
        round((lit(1.0) - y8) * 1000000, 0).cast("long").as("__pm"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("__isc")).as("n_candidates"),
        sum(col("__pm")).as("__pms"))
      .select(col("bin"), col("n_pairs"), col("n_candidates"),
        round(col("n_candidates").cast("double") /
          col("n_pairs").cast("double"), 6).as("observed_rate"),
        round(col("__pms").cast("double") /
          col("n_pairs").cast("double") / 1000000.0, 6).as("predicted_rate"))
  }

  /** 32-wide minhash signature per document: min over shingles of
    * (a_i * h + b_i) mod p. ONE per-row native expression
    * (graft.plans.MinhashSigLong) — no shingle explode, no 32-column min
    * aggregate, no shuffle; docs with < n words have no shingles and drop
    * out, exactly as they dropped out of the groupBy in the relational form
    * (which shuffled ~1M shingle rows at sf0.1 on this hot path).
    */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    val sig = df.select(col(idCol).as("sid"),
      graft.plans.MinhashSigLong.minhashSig(col(textCol), n).as("sig"))
      .filter(col("sig").isNotNull)
    sig.select(col("sid") +: (0 until NumHashes).map(i => col("sig")(i).as(s"m$i")): _*)
  }

  /** LSH banding: (band, key) per document, key = the band's minhash slice. */
  def lshBands(sig: DataFrame): DataFrame = {
    val bandKeys = (0 until NumBands).map { b =>
      val cols = (0 until RowsPerBand).map(r => col(s"m${b * RowsPerBand + r}"))
      concat_ws("_", cols: _*)
    }
    sig.select(col("sid"),
      posexplode(array(bandKeys: _*)).as(Seq("band", "bkey")))
  }

  /** Candidate pairs: documents sharing any band bucket. The self-join is
    * per (band, bkey) — bucket sizes stay tiny for non-duplicate data, so
    * this is subquadratic, unlike `jaccardPairs`.
    */
  def minhashCandidates(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    val bands = lshBands(minhashSignatures(df, idCol, textCol, n))
    bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.sid") < col("b.sid"))
      .select(col("a.sid").as("ida"), col("b.sid").as("idb"))
      .distinct()
  }

  /** Full LSH dedup: candidates from banding, verified with exact Jaccard —
    * the production near-dup pipeline (candidates << all-pairs).
    */
  def minhashVerifiedPairs(df: DataFrame, idCol: String, textCol: String,
                           n: Int, threshold: Double): DataFrame =
    verifyCandidates(minhashCandidates(df, idCol, textCol, n),
      df, idCol, textCol, n, threshold)

  /** Exact-Jaccard verification of candidate (ida, idb) pairs against the
    * documents in `docs` (which must contain every id the pairs mention).
    *
    * EAGER: the verified pairs (tiny — that is the point of LSH) are
    * materialized before returning and the internal candidate/shingle
    * checkpoints freed, so a session running many dedup queries doesn't
    * accumulate their blocks in executor storage (Storage.scala).
    */
  private def verifyCandidates(candidates: DataFrame, docs: DataFrame,
                               idCol: String, textCol: String,
                               n: Int, threshold: Double): DataFrame =
   graft.core.Storage.freeingIntermediates(docs.sparkSession) {
    // checkpoint (not cache): the candidate DAG is referenced three times
    // below; a cache would re-ANALYZE the big logical subtree per reference
    // (driver-side Catalyst cost), a checkpoint truncates the plan to a
    // leaf. Storage.cut = localCheckpoint locally, reliable checkpoint when
    // the session has a checkpoint dir (cluster fault tolerance).
    val cands = graft.core.Storage.cut(candidates, eager = false)
    // Candidates are a tiny fraction of the corpus (that's the point of
    // LSH) — semi-join-filter the shingle table to candidate documents
    // BEFORE the gram join, so the verify stage never shuffles the full
    // corpus's shingles.
    val candIds = cands.select(col("ida").as("cand_sid"))
      .union(cands.select(col("idb").as("cand_sid"))).distinct()
    // gram hashes, not gram strings, through the intersection joins — same
    // 8-byte-key discipline as jaccardPairs, mirrored by the oracle
    val sh = graft.core.Storage.cut(wordShingleHashes(docs, idCol, textCol, n)
      .join(broadcast(candIds), col("sid") === col("cand_sid"), "left_semi"), eager = false)
    val sizes = shingleSizes(sh)
    val inter = cands
      .join(sh.as("a"), col("ida") === col("a.sid"))
      .join(sh.as("b"), col("idb") === col("b.sid") && col("a.g") === col("b.g"))
      .groupBy(col("ida"), col("idb"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.as("sa"), col("ida") === col("sa.sid"))
      .join(sizes.as("sb"), col("idb") === col("sb.sid"))
      .select(col("ida"), col("idb"),
        (col("n_inter").cast("double") /
          (col("sa.nsh") + col("sb.nsh") - col("n_inter"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .transform(graft.core.Storage.cut(_))
   }

  /** Candidates verified by EDIT DISTANCE instead of Jaccard: keep pairs
    * with levenshtein <= (maxFracNum/maxFracDen) x the longer text — the
    * right verifier when near-dups are small in-place edits (templated
    * boilerplate, OCR noise) rather than shingle-set overlap. Levenshtein is
    * O(len_a x len_b) per pair, which is exactly why it only ever runs on
    * the banding candidates, never all pairs. The fraction is integer
    * cross-multiplied so the threshold is engine-exact.
    */
  def editDistanceVerifiedPairs(df: DataFrame, idCol: String, textCol: String,
                                n: Int, maxFracNum: Int,
                                maxFracDen: Int): DataFrame =
    graft.core.Storage.freeingIntermediates(df.sparkSession) {
      val cands =
        graft.core.Storage.cut(minhashCandidates(df, idCol, textCol, n), eager = false)
      val texts = df.select(col(idCol).as("tid"), col(textCol).as("t"))
      cands
        .join(texts.as("ta"), col("ida") === col("ta.tid"))
        .join(texts.as("tb"), col("idb") === col("tb.tid"))
        .select(col("ida"), col("idb"),
          levenshtein(col("ta.t"), col("tb.t")).cast("long").as("edit_dist"),
          greatest(length(col("ta.t")), length(col("tb.t"))).cast("long").as("max_len"))
        .filter(col("edit_dist") * maxFracDen <= lit(maxFracNum.toLong) * col("max_len"))
        .select(col("ida"), col("idb"), col("edit_dist"))
        .transform(graft.core.Storage.cut(_)) // verified pairs: tiny; frees cands at exit
    }

  /** The persisted LSH band index of a corpus: (sid, band, bkey). Build once
    * per corpus, store next to the data, and reuse across ingestion runs —
    * the contract incremental dedup depends on.
    */
  def bandIndex(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    lshBands(minhashSignatures(df, idCol, textCol, n))

  /** Persist the corpus band index as a BUCKETED table keyed by the
    * candidate join's equi-keys (band, bkey). This is the scale lever for
    * incremental dedup: the candidate join in [[incrementalNearDupPairs]]
    * keys on exactly these columns, so a bucketed corpus index makes the
    * 100 TB side of that join exchange-free — every batch shuffles only
    * ITSELF to the bucket layout, and the corpus bands are read aligned,
    * never re-shuffled. (An unbucketed parquet index re-shuffles the whole
    * corpus index every batch — the dominant cost at corpus scale.)
    */
  def writeBandIndex(df: DataFrame, idCol: String, textCol: String, n: Int,
                     table: String, nBuckets: Int): Unit =
    graft.sources.Bucketing.writeBucketedBy(
      bandIndex(df, idCol, textCol, n), table, Seq("band", "bkey"), nBuckets)

  /** Append a batch's bands to an existing [[writeBandIndex]] table — the
    * per-batch index growth step of a streaming ingest. Appended files
    * carry the same (band, bkey) bucket spec, so the corpus side of the
    * next batch's candidate join STAYS exchange-free as the index grows.
    */
  def appendBandIndex(df: DataFrame, idCol: String, textCol: String, n: Int,
                      table: String, nBuckets: Int): Unit =
    graft.sources.Bucketing.appendBucketedBy(
      bandIndex(df, idCol, textCol, n), table, Seq("band", "bkey"), nBuckets)

  /** [[writeBandIndex]] in the PARTITIONED-bucketed layout: the index is
    * additionally partitioned by `ingest_batch` (seed rows land under
    * `batch`, conventionally -1), so each ingestion batch's bands live in a
    * partition of their own that [[overwriteBandIndexBatch]] can replace on
    * retry — exactly-once index maintenance WITHOUT giving up the
    * exchange-free corpus join: the bucket spec is table-level, so a
    * committed-prefix read (`ingest_batch < N`) still scans bucket-aligned.
    */
  def writeBandIndexPartitioned(df: DataFrame, idCol: String, textCol: String,
                                n: Int, table: String, nBuckets: Int,
                                batch: Long = -1L): Unit =
    graft.sources.Bucketing.writeBucketedPartitionedBy(
      bandIndex(df, idCol, textCol, n)
        .withColumn("ingest_batch", lit(batch)),
      table, "ingest_batch", Seq("band", "bkey"), nBuckets)

  /** Idempotently write ONE batch's bands into a
    * [[writeBandIndexPartitioned]] table — a retry of the same `batch`
    * replaces its own partition (drop + bucketed append), never appends
    * duplicates, and the table's exchange-free join property is preserved.
    */
  def overwriteBandIndexBatch(df: DataFrame, idCol: String, textCol: String,
                              n: Int, table: String, nBuckets: Int,
                              batch: Long): Unit =
    graft.sources.Bucketing.overwriteBucketedPartition(
      bandIndex(df, idCol, textCol, n), table, "ingest_batch", batch,
      Seq("band", "bkey"), nBuckets)

  /** Compact an [[appendBandIndex]]-grown band index to one file per
    * non-empty bucket — the ds1 maintenance op. Candidate pairs and the
    * exchange-free corpus read are unchanged (rows only move between files
    * of the same bucket); only the per-bucket file count drops. Run it on
    * the cadence where appended-file count, not data size, starts to
    * dominate the candidate join's open cost. Returns
    * (files_before, files_after).
    */
  def compactBandIndex(spark: org.apache.spark.sql.SparkSession,
                       table: String, nBuckets: Int): (Int, Int) =
    graft.sources.Bucketing.compactBucketedTable(
      spark, table, Seq("band", "bkey"), nBuckets)

  /** Compact ONE ingestion batch's partition of a
    * [[writeBandIndexPartitioned]] table (the ds2 exactly-once layout) —
    * same drop-plus-bucketed-append idempotence as the ingest path, so
    * re-running after a crash repairs it. Returns
    * (files_before, files_after).
    */
  def compactBandIndexBatch(spark: org.apache.spark.sql.SparkSession,
                            table: String, nBuckets: Int,
                            batch: Long): (Int, Int) =
    graft.sources.Bucketing.compactBucketedPartition(
      spark, table, "ingest_batch", batch, Seq("band", "bkey"), nBuckets)

  /** TAKEDOWN: physically remove documents' bands from a persisted
    * [[writeBandIndex]] table — the compliance operation of an ingestion
    * pipeline (a removed document must stop acting as a dedup witness:
    * future batches can no longer candidate-match against it, exactly as
    * if it had never been indexed). The rewrite keeps the (band, bkey)
    * bucket spec — the exchange-free corpus join survives — and publishes
    * via the rename-aside swap: every crash window leaves a queryable
    * table under SOME name (live, or staging + __old); a crash before the
    * first rename repairs by re-running, a crash mid-swap recovers with
    * one manual rename (the compactBucketedTable contract). The removal
    * id set broadcasts (takedown batches are small by nature).
    *
    * Single-layout tables only; a partitioned
    * ([[writeBandIndexPartitioned]]) index rewrites the affected batch
    * partitions with [[overwriteBandIndexBatch]] from re-filtered source.
    */
  def removeFromBandIndex(spark: org.apache.spark.sql.SparkSession,
                          table: String, ids: DataFrame, idCol: String,
                          nBuckets: Int): Unit = {
    require(!spark.table(table).columns.contains("ingest_batch"),
      "removeFromBandIndex rewrites the single-layout index; partitioned " +
        "indexes rewrite affected batch partitions")
    graft.sources.Bucketing.requireBucketCount(spark, table, nBuckets)
    val staging = table + "__compacting"
    val retired = table + "__old"
    graft.sources.Bucketing.ensureCleanTable(spark, staging)
    graft.sources.Bucketing.writeBucketedBy(
      spark.table(table).join(
        broadcast(ids.select(col(idCol).cast("long").as("__rid")).distinct()),
        col("sid") === col("__rid"), "left_anti"),
      staging, Seq("band", "bkey"), nBuckets)
    spark.sql(s"ALTER TABLE $table RENAME TO $retired")
    spark.sql(s"ALTER TABLE $staging RENAME TO $table")
    spark.sql(s"DROP TABLE $retired")
  }

  /** Batch-vs-corpus candidate pairs: batch bands joined to the corpus band
    * index on exactly (band, bkey). A seam for plan tests: when
    * `corpusBands` is a [[writeBandIndex]] bucketed table, this join must
    * plan with NO Exchange above the corpus-side scan.
    */
  private[operators] def crossBandCandidates(nb: DataFrame,
                                             corpusBands: DataFrame): DataFrame =
    nb.as("a")
      .join(corpusBands.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.sid") =!= col("b.sid"))
      .select(least(col("a.sid"), col("b.sid")).as("ida"),
        greatest(col("a.sid"), col("b.sid")).as("idb"))

  /** Incremental near-dup detection: verified pairs that TOUCH a new batch —
    * new-vs-new plus new-vs-corpus — WITHOUT re-banding the corpus. At
    * ingestion scale this is the whole game: the corpus index
    * (`corpusBands`, from [[bandIndex]], persisted) is reused, so per-batch
    * work scales with |batch| x bucket occupancy, not |corpus|. A doc's
    * band keys don't depend on other docs, so the result equals running the
    * full pipeline over (corpus UNION batch) and keeping pairs that mention
    * a batch id — which is exactly what the oracle checks.
    *
    * `corpusDocs` is still read during VERIFICATION, but only the matched
    * candidates' shingles are computed (semi-join pushdown in
    * verifyCandidates) — a tiny id-filtered scan, not a corpus pass.
    */
  def incrementalNearDupPairs(newDf: DataFrame, corpusDocs: DataFrame,
                              corpusBands: DataFrame, idCol: String,
                              textCol: String, n: Int,
                              threshold: Double): DataFrame =
   graft.core.Storage.freeingIntermediates(newDf.sparkSession) {
    val nb = graft.core.Storage.cut(bandIndex(newDf, idCol, textCol, n), eager = false)
    val newNew = nb.as("a")
      .join(nb.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.sid") < col("b.sid"))
      .select(col("a.sid").as("ida"), col("b.sid").as("idb"))
    val newOld = crossBandCandidates(nb, corpusBands)
    // A re-ingested id present in BOTH sides would otherwise appear twice in
    // the verification doc set (old text + new text), inflating its shingle
    // counts and corrupting jaccard — anti-join the corpus side so such a
    // doc verifies against its NEW text only. The anti-join's build side is
    // the batch's ids (small by the incremental contract), so this is a
    // broadcast filter, not a corpus shuffle.
    val newIds = newDf.select(col(idCol).as("new_id")).distinct()
    val docs = newDf.select(col(idCol), col(textCol))
      .unionByName(corpusDocs
        .join(broadcast(newIds), col(idCol) === col("new_id"), "left_anti")
        .select(col(idCol), col(textCol)))
    // verifyCandidates returns an eager leaf, so the band-index checkpoint
    // `nb` above is computed by the time this frame exits and can be freed
    verifyCandidates(newNew.union(newOld).distinct(), docs, idCol, textCol,
      n, threshold)
   }

  /** One-call corpus dedup: drop every document that is an exact duplicate
    * (non-minimal id for its text) or near-duplicate (member of a verified
    * near-dup component with a smaller-id canonical). Returns the kept rows
    * of `df` unchanged — the "give me the deduplicated corpus" API.
    */
  def dedupCorpus(df: DataFrame, idCol: String, textCol: String,
                  n: Int = 3, threshold: Double = 0.5): DataFrame =
   graft.core.Storage.freeingIntermediates(df.sparkSession) {
    // nested wrappers: minhashVerifiedPairs and connectedComponents each
    // clean up after themselves and return one materialized leaf; this
    // outer wrapper then frees the verified-pairs leaf too (the result
    // plan only references the component labels leaf, which it keeps)
    val components = connectedComponents(
      minhashVerifiedPairs(df, idCol, textCol, n, threshold))
    val nearLosers = components.filter(col("component") < col("sid"))
      .select(col("sid").as("loser_id"))
    // the shingle pipeline skips docs with < n words, so exact duplicates of
    // very short texts must be caught by the exact path explicitly
    val exactLosers = df
      .join(exact(df, idCol, textCol), md5(col(textCol)) === col("text_md5"))
      .filter(col(idCol) =!= col("keeper_id"))
      .select(col(idCol).as("loser_id"))
    df.join(broadcast(nearLosers.union(exactLosers).distinct()),
      col(idCol) === col("loser_id"), "left_anti")
   }

  /** Benchmark decontamination: corpus documents sharing ANY word n-gram
    * with an evaluation/benchmark set, with the count of distinct
    * overlapping grams — the standard guard against test-set leakage into
    * training data. Returns (sid, n_overlap) for contaminated corpus docs
    * only; anti-join the corpus against it to drop them.
    *
    * Scale shape: both sides reduce to distinct 48-bit gram hashes BEFORE
    * the join, so the shuffle carries 8-byte keys (never text), and the
    * benchmark side — eval sets are tiny relative to a corpus — typically
    * broadcasts. Work scales with corpus token count, not corpus x benchmark.
    */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame, idCol: String,
                    textCol: String, n: Int): DataFrame =
    decontaminateAgainst(corpus,
      benchmarkGrams(benchmark, idCol, textCol, n), idCol, textCol, n)

  /** The benchmark side of [[decontaminate]]: one distinct 48-bit hash
    * per benchmark word n-gram. */
  private def benchmarkGrams(benchmark: DataFrame, idCol: String,
                             textCol: String, n: Int): DataFrame =
    wordShingleHashesAll(benchmark, idCol, textCol, n)
      .select(col("g")).distinct()

  /** The corpus side of [[decontaminate]], against ANY gram-hash frame —
    * shared VERBATIM by the from-scratch and the served
    * ([[decontaminateServed]]) paths, so through-storage results
    * hash-equal from-scratch ones by construction.
    */
  private def decontaminateAgainst(corpus: DataFrame, bg: DataFrame,
                                   idCol: String, textCol: String,
                                   n: Int): DataFrame =
    // FILTER before any corpus-side shuffle: the broadcast semi-join drops
    // every non-overlapping gram map-side, so the distinct (needed because
    // grams carry multiplicity and the contract counts DISTINCT overlaps)
    // shuffles only matched grams — contamination-sized, not corpus-sized.
    // (The previous shape distinct-shuffled EVERY corpus gram first: at
    // 100 TB that exchange dwarfs the actual overlap work.)
    wordShingleHashesAll(corpus, idCol, textCol, n)
      .join(broadcast(bg), Seq("g"), "left_semi")
      .distinct()
      .groupBy(col("sid")).agg(count(lit(1)).as("n_overlap"))

  /** CONTAMINATION MATRIX across many eval suites in ONE pass — the
    * multi-benchmark lift of [[decontaminate]] (production tracks a whole
    * eval-suite battery; |suites| separate runs would re-shingle the
    * corpus |suites| times): per suite, how many corpus docs share at
    * least `minShared` distinct word n-grams with it, and the total
    * (doc, shared-gram) hit count — the release-gate dashboard behind
    * "which suites does this corpus leak". The [[crossSourceOverlap]]
    * economics: both sides reduce to distinct 48-bit gram hashes before
    * the join; the suite side — eval suites are tiny — broadcasts; gram
    * fan-out is bounded by |suites holding the gram|, never corpus²; the
    * rollups are (doc, suite)- then suite-keyed, both map-side
    * combinable; text never shuffles.
    */
  def contaminationMatrix(corpus: DataFrame, benchmarks: DataFrame,
                          idCol: String, textCol: String, suiteCol: String,
                          n: Int, minShared: Long = 1L): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    val bg = wordShingleHashesAll(benchmarks, suiteCol, textCol, n)
      .select(col("sid").as("suite"), col("g")).distinct()
    // JOIN before distinct (the decontaminateAgainst economics): the
    // broadcast join drops every non-overlapping gram map-side, so the
    // distinct shuffles only matched (sid, suite, g) rows —
    // contamination-sized, not corpus-sized
    wordShingleHashesAll(corpus, idCol, textCol, n)
      .join(broadcast(bg), Seq("g"))
      .select(col("sid"), col("suite"), col("g")).distinct()
      .groupBy(col("sid"), col("suite")).agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
      .groupBy(col("suite"))
      .agg(count(lit(1)).as("n_docs"), sum(col("shared")).as("n_gram_hits"))
  }

  /** Catalog table holding a persisted benchmark gram set. */
  def benchmarkGramsTable(name: String): String = s"${name}_bench_grams"

  /** PERSIST the benchmark's distinct gram-hash set as a g-bucketed
    * catalog table — build once per eval-suite release, then
    * decontaminate every later corpus snapshot/batch against storage
    * without touching the benchmark text again (the lm5
    * train-once/serve-many contract applied to decontamination; eval
    * suites change on release cadence, corpora change per ingest).
    */
  def writeBenchmarkGrams(benchmark: DataFrame, idCol: String,
                          textCol: String, n: Int, name: String,
                          nBuckets: Int): Unit =
    graft.sources.Bucketing.writeBucketed(
      benchmarkGrams(benchmark, idCol, textCol, n),
      benchmarkGramsTable(name), "g", nBuckets)

  /** [[decontaminate]] served from a [[writeBenchmarkGrams]] table: the
    * SAME join/distinct/count tail (shared code, not similar code), so a
    * through-storage run hash-equals the from-scratch one.
    */
  def decontaminateServed(spark: org.apache.spark.sql.SparkSession,
                          corpus: DataFrame, name: String, idCol: String,
                          textCol: String, n: Int): DataFrame =
    decontaminateAgainst(corpus, spark.table(benchmarkGramsTable(name)),
      idCol, textCol, n)

  /** Decontamination behind a Bloom-filter prefilter — the layout for
    * benchmark sets too large to broadcast as a join hash relation.
    *
    * The benchmark's distinct gram hashes are folded into an m-bit Bloom
    * bitmap (k = 3 probes carved as disjoint 16-bit slices of the 48-bit
    * md5 gram hash), shipped to every task as a CONSTANT-size array literal
    * (8 KiB at the default log2m = 16), and tested IN-SCAN against every
    * corpus gram: only grams whose three probe bits are all set survive to
    * the distinct + exact-verify stages. `decontaminate` broadcasts a hash
    * relation proportional to the benchmark's gram count; the bitmap here
    * stays constant no matter how many benchmarks are stacked, at the cost
    * of false-positive candidates that the exact verify then rejects — the
    * standard scan-side prefilter for semi-joins whose build side outgrows
    * broadcast budgets.
    *
    * Output (sid, n_bloom, n_exact) makes the false-positive overhead
    * observable: n_bloom counts distinct candidate grams that passed the
    * filter, n_exact the subset actually present in the benchmark (equal to
    * `decontaminate`'s n_overlap — asserted in DedupSpec).
    *
    * Scale: the corpus side never shuffles unfiltered grams — the bitmap
    * test runs inside the scan, and only candidates (contamination-sized +
    * fp-rate-sized) reach an exchange. Driver-side state is the distinct
    * probe-position set, bounded by m (<= 65536 ints), never by data.
    * Determinism: probes are bit-slices of the md5-derived gram hash, so an
    * SQL oracle rebuilds the bitmap and candidate set bit-for-bit.
    *
    * The exact-verify join broadcasts the benchmark's 8-byte gram HASHES
    * (~25x smaller than the grams `decontaminate` would ship) only while
    * their count stays under `verifyBroadcastMaxGrams` (default 2^23 ~ 8M
    * hashes ~ 64 MB payload); past that the verify falls back to a shuffled
    * join — the candidate side is contamination-sized by then, so the
    * shuffle carries survivors, not the corpus.
    */
  def bloomDecontaminate(corpus: DataFrame, benchmark: DataFrame,
                         idCol: String, textCol: String, n: Int,
                         log2m: Int = 16,
                         verifyBroadcastMaxGrams: Long = 1L << 23): DataFrame = {
    // three disjoint 16-bit slices of the 48-bit hash; log2m <= 16 keeps
    // each probe a sub-slice (independence across probes), >= 6 one word
    require(log2m >= 6 && log2m <= 16, s"log2m must be in [6,16], got $log2m")
    val m = 1 << log2m
    val mask = (m - 1).toLong
    val probeShifts = Seq(0, 16, 32)
    def probe(g: Column, s: Int): Column =
      call_function("shiftright", g, lit(s)).bitwiseAND(lit(mask))

    val bg = wordShingleHashesAll(benchmark, idCol, textCol, n)
      .select(col("g")).distinct()
    // Distinct probe positions: at most m of them regardless of benchmark
    // size, so this collect is bitmap-bounded, not data-bounded.
    val positions = bg
      .select(explode(array(probeShifts.map(s => probe(col("g"), s)): _*)).as("pos"))
      .distinct().collect().map(_.getLong(0))
    val bitmap = new Array[Long](m >> 6)
    positions.foreach(p => bitmap(p.toInt >> 6) |= (1L << (p.toInt & 63)))
    val bm = typedLit(bitmap.toSeq)
    def testBit(pos: Column): Column = {
      val word = call_function("element_at", bm,
        call_function("shiftright", pos, lit(6)).cast("int") + 1)
      call_function("shiftright", word, pos.bitwiseAND(lit(63L)).cast("int"))
        .bitwiseAND(lit(1L)) === lit(1L)
    }
    // filter BEFORE the candidate distinct, same discipline as decontaminate:
    // the only corpus-side exchange carries bloom survivors
    val cand = wordShingleHashesAll(corpus, idCol, textCol, n)
      .filter(probeShifts.map(s => testBit(probe(col("g"), s))).reduce(_ && _))
      .distinct()
    // verify side: broadcast the 8-byte hash set while it fits the budget;
    // a benchmark stack past the threshold shuffles instead (both sides are
    // already candidate/benchmark-sized — the corpus never reaches here)
    val hits = bg.withColumn("hit", lit(1L))
    val verify =
      if (bg.count() <= verifyBroadcastMaxGrams) broadcast(hits) else hits
    cand.join(verify, Seq("g"), "left")
      .groupBy(col("sid"))
      .agg(count(lit(1)).as("n_bloom"),
        sum(coalesce(col("hit"), lit(0L))).as("n_exact"))
  }

  /** C4-style duplicate-SPAN removal: chunk every document into fixed
    * non-overlapping character spans, keep exactly ONE copy of each
    * distinct span corpus-wide (first occurrence in (doc, position) order),
    * and rebuild each document from its surviving spans. This is the
    * span-granular rung between exact whole-document dedup (d1) and
    * near-dup clustering: templated runs, syndicated passages and licensing
    * blurbs disappear from every copy but the first, while the rest of the
    * document survives. Documents whose every span is a repeat vanish
    * entirely (their content exists verbatim earlier in the corpus).
    *
    * Returns (sid, n_spans, text_md5): surviving span count and the md5 of
    * the rebuilt text — callers wanting the text itself swap the final md5
    * for the joined string.
    *
    * Scale shape: chunking is map-side explode (fuses into the scan); the
    * keep-first window shuffles each span ONCE keyed by its md5 (uniform by
    * construction — spans are the shuffled payload AND the output, unlike
    * the never-shuffle-text dedup detectors); the rebuild is a second
    * map-side-combinable aggregate keyed by doc. Both shuffles are linear
    * in corpus size; no self-join anywhere.
    */
  def dedupSpans(df: DataFrame, idCol: String, textCol: String,
                 spanLen: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val chunks = graft.operators.TextOps
      .chunkDocs(df, idCol, textCol, spanLen, 0)
      .select(col(idCol).as("sid"), col("chunk_start"), col("chunk_text"))
    val w = Window.partitionBy(md5(col("chunk_text")))
      .orderBy(col("sid"), col("chunk_start"))
    chunks.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .groupBy(col("sid"))
      .agg(count(lit(1)).as("n_spans"),
        md5(array_join(transform(
          array_sort(collect_list(struct(col("chunk_start"), col("chunk_text")))),
          e => e("chunk_text")), "")).as("text_md5"))
  }

  /** EXACT-SUBSTRING duplicate spans (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better", arXiv:2107.06499 §4.1
    * ExactSubstr): per document, the MAXIMAL token spans lying inside at
    * least one substring of length >= `minTokens` tokens that occurs at
    * >= 2 positions corpus-wide (within-document repeats count, as in the
    * paper) — the spans ExactSubstr removes, without the suffix array.
    * The relational identity doing the work: the union of all duplicated
    * substrings of length >= k EQUALS the union of the k-token extents of
    * duplicated k-grams (a duplicated substring of length >= k is a union
    * of its duplicated k-grams; a duplicated k-gram is itself a duplicated
    * substring of length k). So covered positions are exactly those whose
    * k-gram occurs >= 2 times, and the maximal spans are runs of covered
    * positions merged while consecutive k-extents overlap or touch.
    *
    * Output: (sid, span_start, span_end, span_tokens), 1-based INCLUSIVE
    * token indices, one row per maximal span.
    *
    * Scale shape — why not the paper's suffix array, and why no
    * seed-and-extend: a distributed suffix array globally sorts the corpus
    * twice; CDC-anchor seed-and-extend generates candidate PAIRS that grow
    * df^2 on hot anchors. This shape generates NO pairs: one (g)-keyed
    * map-side-combinable count, one semi-join back on the same 8-byte
    * key, one per-DOCUMENT window (doc-bounded — the fts6 discipline).
    * Token text never shuffles: grams are hashed in-scan to the 48-bit
    * fingerprint convention the whole d-family (and the DuckDB oracle)
    * shares.
    */
  def exactDupSpans(df: DataFrame, idCol: String, textCol: String,
                    minTokens: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(minTokens >= 2, s"minTokens must be >= 2, got $minTokens")
    val k = minTokens
    // per-position k-gram hash with POSITION kept (the wordShinglesAll
    // explode+slice idiom — no interpreted higher-order lambdas)
    val pos = df
      .select(col(idCol).as("sid"), split(col(textCol), " ").as("w"))
      .select(col("sid"), col("w"),
        explode(when(size(col("w")) >= k,
          sequence(lit(1), size(col("w")) - (k - 1)))).as("pos"))
      .select(col("sid"), col("pos"),
        hash48(array_join(slice(col("w"), col("pos"), lit(k)), " ")).as("g"))
    val dup = pos.groupBy(col("g")).agg(count(lit(1)).as("__n"))
      .filter(col("__n") >= 2)
    val cov = pos.join(dup.select(col("g")), Seq("g"), "left_semi")
      .select(col("sid"), col("pos"))
    // gaps-and-islands over the k-length extents: every extent has the
    // same length, so the union stays contiguous exactly while each next
    // start is <= previous start + k (touching merges — coverage is
    // gapless when extent n+1 begins the token after extent n ends)
    val wDoc = Window.partitionBy(col("sid")).orderBy(col("pos"))
    cov
      .withColumn("__brk",
        when(col("pos") - lag(col("pos"), 1).over(wDoc) > k, 1L)
          .otherwise(0L))
      .withColumn("__isl", sum(col("__brk")).over(
        wDoc.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("sid"), col("__isl"))
      .agg(min(col("pos")).cast("long").as("span_start"),
        (max(col("pos")) + (k - 1)).cast("long").as("span_end"))
      .select(col("sid"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1L).as("span_tokens"))
  }

  /** ExactSubstr REMOVAL — the apply half of [[exactDupSpans]] (Lee et al.
    * 2022 cut every duplicated-substring occurrence from the training
    * corpus): rebuild each document with all covered tokens removed and
    * report (sid, n_tokens, n_kept, text_md5-of-kept-tokens). Documents
    * with no duplicated span pass through (n_kept = n_tokens); a fully-
    * duplicated document keeps zero tokens (md5 of the empty string) — the
    * paper's acknowledged behavior, deliberately NOT keep-one-copy (that
    * needs a global occurrence order; d1/d17 cover keep-first semantics).
    *
    * Scale shape: spans collapse to ONE array row per affected doc (spans
    * are disjoint and doc-bounded), then a single sid-keyed left join puts
    * them next to the text and the rebuild is per-row array algebra (the
    * only corpus shuffle; with sparse duplication the span side is small
    * and AQE broadcasts it, making the rebuild shuffle-free).
    */
  def exactSubstrDedup(df: DataFrame, idCol: String, textCol: String,
                       minTokens: Int): DataFrame = {
    val spans = exactDupSpans(df, idCol, textCol, minTokens)
      .groupBy(col("sid"))
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("__sp"))
    df.select(col(idCol).as("sid"), split(col(textCol), " ").as("w"))
      .join(spans, Seq("sid"), "left")
      .withColumn("__kept",
        when(col("__sp").isNull, col("w")).otherwise(expr(
          "transform(filter(transform(w, (t, i) -> struct(t AS t, i+1 AS p))," +
            " s -> !exists(__sp, sp -> s.p >= sp.span_start" +
            " AND s.p <= sp.span_end)), s -> s.t)")))
      .select(col("sid"), size(col("w")).cast("long").as("n_tokens"),
        size(col("__kept")).cast("long").as("n_kept"),
        md5(array_join(col("__kept"), " ")).as("text_md5"))
  }

  /** Corpus-level boilerplate detection: the fraction of a document's
    * distinct word n-grams that are "boilerplate" — appearing in at least
    * `minDf` distinct documents corpus-wide (headers, footers, templated
    * spans, licensing blurbs). Returns one row per document:
    * (sid, n_grams, n_boiler, boiler_frac); filter on the fraction to drop
    * template-heavy docs, or feed it into a quality blend.
    *
    * This is the document-frequency dual of [[decontaminate]] (self-overlap
    * instead of eval-set overlap) and shares its scale shape: documents
    * reduce to distinct 48-bit gram hashes up front, the df count is a
    * map-side-combinable groupBy on 8-byte keys, and the boiler-gram set
    * re-joins per-doc grams on the same hash — no text ever shuffles. Docs
    * shorter than n words have zero grams and report frac 0.
    */
  def boilerplateStats(df: DataFrame, idCol: String, textCol: String,
                       n: Int, minDf: Long): DataFrame = {
    val sh = wordShingleHashes(df, idCol, textCol, n)
    val boiler = sh.groupBy(col("g")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf).select(col("g"))
    val per = sh.groupBy(col("sid")).agg(count(lit(1)).as("n_grams"))
    val nb = sh.join(boiler, Seq("g"), "left_semi")
      .groupBy(col("sid")).agg(count(lit(1)).as("n_boiler"))
    df.select(col(idCol).as("sid"))
      .join(per, Seq("sid"), "left")
      .join(nb, Seq("sid"), "left")
      .select(col("sid"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_boiler"), lit(0L)).as("n_boiler"),
        round(coalesce(col("n_boiler").cast("double") / col("n_grams"), lit(0.0)), 6)
          .as("boiler_frac"))
  }

  /** Corpus-order n-gram NOVELTY: the fraction of a document's distinct
    * word n-grams whose FIRST corpus occurrence (minimum doc id) is this
    * document — the scoring dual of [[dedupSpans]] (which rewrites) and the
    * ordering dual of [[boilerplateStats]] (df-based, order-free). Low
    * novelty means the document is mostly re-stating earlier corpus content
    * — the signal behind dedup-priority ordering, memorization-risk
    * auditing, and "keep the first, score the rest" curation. Ids define
    * corpus order; ties (same gram, same doc) are impossible after the
    * per-doc distinct.
    *
    * Returns (sid, n_grams, n_novel, novelty): exact integer counts and one
    * final division (novelty is NULL for docs with no grams — shorter than
    * n words — not a fake 0/1). `mostly_seen` callers threshold novelty.
    *
    * Scale shape: documents reduce to distinct 48-bit gram hashes in-scan;
    * the first-occurrence reduce is a map-side-combinable min over 8-byte
    * keys; novel credits re-aggregate doc-keyed. Three linear shuffles on
    * hashed keys — the corpus-gram relation never self-joins and text never
    * shuffles (the d14/d15 discipline).
    */
  def ngramNovelty(df: DataFrame, idCol: String, textCol: String,
                   n: Int): DataFrame = {
    val sh = wordShingleHashes(df, idCol, textCol, n)
    val per = sh.groupBy(col("sid")).agg(count(lit(1)).as("n_grams"))
    // each distinct gram credits exactly one document: its first holder
    val novel = sh.groupBy(col("g")).agg(min(col("sid")).as("sid"))
      .groupBy(col("sid")).agg(count(lit(1)).as("n_novel"))
    val ng = coalesce(col("n_grams"), lit(0L))
    val nn = coalesce(col("n_novel"), lit(0L))
    df.select(col(idCol).as("sid"))
      .join(per, Seq("sid"), "left")
      .join(novel, Seq("sid"), "left")
      .select(col("sid"), ng.as("n_grams"), nn.as("n_novel"),
        when(ng > 0L, nn.cast("double") / ng).as("novelty"))
  }

  /** ASYMMETRIC CONTAINMENT pairs — the quote/near-superset detector
    * Jaccard structurally misses: a 50-word benchmark item quoted verbatim
    * inside a 5000-word document has Jaccard ~ 0.01 (never passes a
    * near-dup threshold) but containment ~ 1.0 on the smaller side. This
    * is the MOSS discipline (Schleimer et al., SIGMOD 2003) as a corpus
    * operator: WINNOW fingerprints propose candidate pairs — the winnowing
    * guarantee makes recall structural, any shared run of >= w + k - 1
    * characters shares a fingerprint — and exact word-n-gram containment
    * verifies them. C(A,B) = |grams(A) ∩ grams(B)| / min(|A|, |B|): the
    * smaller document's coverage, direction-free.
    *
    * Returns (ida, idb, n_inter, nsh_a, nsh_b, containment) for pairs at or
    * above `threshold`. Integer counts + one division (the d5/jaccard
    * float discipline — the oracle divides the same exact integers).
    *
    * Scale shape: candidates join on winnowed fingerprints — ~2/(w+1) the
    * density of the raw k-gram relation, 8-byte keys, never text; the
    * verify stage semi-join-filters shingles to candidate docs BEFORE the
    * gram join (the minhash-verify economics). Shared-key pair generation
    * is O(sum_fp df(fp)^2), so HOT fingerprints (common 8-char substrings
    * — " the and"-grade boilerplate shared by thousands of docs) are
    * suppressed before pairing: fingerprints with document frequency >
    * `maxDf` are anti-joined out (a broadcast of the few heavy hitters),
    * bounding the join at maxDf x |fingerprints| — without the cap the
    * hot keys alone made the sf0.1 fixture 30x slower. The winnowing
    * recall guarantee weakens accordingly, and honestly: a shared run is
    * proposed iff it contributes >= minShared fingerprints that fewer
    * than maxDf documents contain — runs made ENTIRELY of corpus-wide
    * boilerplate stop being candidates, which is the curation intent
    * (strip [[boilerplateStats]]-flagged spans first for stricter recall).
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       n: Int, k: Int, w: Int, minShared: Long,
                       threshold: Double, maxDf: Long = 64L): DataFrame =
    graft.core.Storage.freeingIntermediates(df.sparkSession) {
      require(minShared >= 1, s"minShared must be >= 1, got $minShared")
      require(maxDf >= 2, s"maxDf must be >= 2 (pairs need df 2), got $maxDf")
      val fpsAll = graft.core.Storage.cut(
        graft.operators.TextOps.winnowFingerprints(df, idCol, textCol, k, w),
        eager = false)
      // no broadcast hint on the hot set: its size is bounded only by
      // |fingerprint instances| / maxDf — tiny on most corpora (AQE will
      // broadcast it), but a boilerplate-saturated 100 TB corpus can push
      // it past any driver budget, and then the anti-join must be allowed
      // to plan as a shuffle (fp-keyed, 8-byte rows — same cost class as
      // the pair join it protects)
      val hot = fpsAll.groupBy(col("fp")).agg(count(lit(1)).as("fdf"))
        .filter(col("fdf") > maxDf).select(col("fp"))
      val fps = graft.core.Storage.cut(
        fpsAll.join(hot, Seq("fp"), "left_anti"), eager = false)
      val cands = fps.as("a")
        .join(fps.as("b"),
          col("a.fp") === col("b.fp") && col("a.sid") < col("b.sid"))
        .groupBy(col("a.sid").as("ida"), col("b.sid").as("idb"))
        .agg(count(lit(1)).as("n_fp"))
        .filter(col("n_fp") >= minShared)
        .select(col("ida"), col("idb"))
      val candIds = cands.select(col("ida").as("cand_sid"))
        .union(cands.select(col("idb").as("cand_sid"))).distinct()
      val sh = graft.core.Storage.cut(wordShingleHashes(df, idCol, textCol, n)
        .join(broadcast(candIds), col("sid") === col("cand_sid"), "left_semi"), eager = false)
      val sizes = shingleSizes(sh)
      cands
        .join(sh.as("sa"), col("ida") === col("sa.sid"))
        .join(sh.as("sb"), col("idb") === col("sb.sid") && col("sa.g") === col("sb.g"))
        .groupBy(col("ida"), col("idb"))
        .agg(count(lit(1)).as("n_inter"))
        .join(sizes.as("za").withColumnRenamed("nsh", "nsh_a"),
          col("ida") === col("za.sid"))
        .join(sizes.as("zb").withColumnRenamed("nsh", "nsh_b"),
          col("idb") === col("zb.sid"))
        .select(col("ida"), col("idb"), col("n_inter"), col("nsh_a"), col("nsh_b"),
          (col("n_inter").cast("double") / least(col("nsh_a"), col("nsh_b")))
            .as("containment"))
        .filter(col("containment") >= threshold)
        .transform(graft.core.Storage.cut(_))
    }

  /** CROSS-SOURCE leakage matrix: for every ordered source pair
    * (src, other), how many of src's documents share at least `minShared`
    * distinct word n-grams with other's gram set, and how many
    * (doc, shared-gram) hits there are in total — the curation dashboard
    * behind "how much of corpus A is already inside corpus B" decisions
    * (mixing weights, source dedup order, licensing exposure). This is
    * [[decontaminate]] lifted from one benchmark to the full source x
    * source grid in ONE pass — not |sources|^2 pairwise runs.
    *
    * Scale shape: per-doc distinct grams join the (source, gram) DISTINCT
    * relation on the 48-bit hash; fan-out per gram row is bounded by the
    * number of SOURCES holding that gram (never df^2 — the containment
    * hot-key problem doesn't arise because the build side is
    * source-collapsed). Aggregates are (doc, other)-keyed then
    * (src, other)-keyed, both map-side combinable; text never shuffles.
    */
  def crossSourceOverlap(df: DataFrame, idCol: String, textCol: String,
                         sourceCol: String, n: Int,
                         minShared: Long): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    // source rides the shingle scan (no join back to the doc table — that
    // would shuffle the corpus-gram relation by doc id just to attach it);
    // grams ride the native distinct-shingle-hash kernel (round 19 — this
    // site had inlined the interpreted array_distinct(transform(...)) +
    // hash48(gram) pair the §3b pass replaced elsewhere; profiled as d24's
    // dominant CPU frames: StringSplit/ArrayJoin interpreted eval per row)
    val grams = df
      .select(col(idCol).as("sid"), col(sourceCol).as("src"),
        explode(graft.plans.ShingleHashesLong
          .shingleHashes(col(textCol), n, 6)).as("g"))
    val sourceGrams = grams.select(col("src").as("other"), col("g")).distinct()
    grams.join(sourceGrams, Seq("g"))
      .filter(col("src") =!= col("other"))
      .groupBy(col("sid"), col("src"), col("other"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
      .groupBy(col("src"), col("other"))
      .agg(count(lit(1)).as("n_docs"), sum(col("shared")).as("n_gram_hits"))
  }

  /** Persist the corpus' FIRST-HOLDER gram index: one (g, first_sid) row
    * per distinct 48-bit gram hash, BUCKETED on `g` — the incremental form
    * of [[ngramNovelty]] and the third instance of the persisted-index
    * discipline ([[writeBandIndex]] for dedup, AnnIndex for ANN): build
    * once, then score every ingestion batch against it without re-reading
    * the corpus. Bucketing on the serve join's equi-key keeps the 100 TB
    * side exchange-free at serve time.
    */
  def writeNoveltyIndex(df: DataFrame, idCol: String, textCol: String,
                        n: Int, table: String, nBuckets: Int): Unit =
    graft.sources.Bucketing.writeBucketedBy(
      wordShingleHashes(df, idCol, textCol, n)
        .select(col("g"), col("sid"))
        .groupBy(col("g")).agg(min(col("sid")).as("first_sid")),
      table, Seq("g"), nBuckets)

  /** Grow the first-holder index by one batch: the batch's per-gram min ids
    * APPEND under the same bucket spec — no rewrite, no read-modify-write.
    * The index is an append-only log of first-holder candidates; serve-time
    * reads min-merge per gram ([[batchNovelty]]'s `min(first_sid)`), which
    * is exchange-free on the bucketed layout, so duplicate gram rows across
    * appends cost a bucketed-local reduce, never a shuffle. Compact with
    * Bucketing.compactBucketedTable when append count warrants.
    */
  def appendNoveltyIndex(batch: DataFrame, idCol: String, textCol: String,
                         n: Int, table: String, nBuckets: Int): Unit =
    graft.sources.Bucketing.appendBucketedBy(
      wordShingleHashes(batch, idCol, textCol, n)
        .select(col("g"), col("sid"))
        .groupBy(col("g")).agg(min(col("sid")).as("first_sid")),
      table, Seq("g"), nBuckets)

  /** Score ONE ingestion batch's novelty against the persisted first-holder
    * index — equal BY CONSTRUCTION to [[ngramNovelty]] over
    * (corpus UNION batch) restricted to batch ids (ids unique corpus-wide
    * is the contract): a batch gram is novel iff its batch-minimum id beats
    * every id the index has seen for that gram. This is the per-batch
    * curation gate: score, threshold, ingest survivors, then
    * [[appendNoveltyIndex]] the batch so the next batch sees it.
    *
    * Scale shape: the index side min-merges WITHOUT an exchange (bucketed
    * on `g`); only the batch's gram hashes shuffle — per-batch cost scales
    * with |batch|, never |corpus| (the incrementalNearDupPairs economics).
    */
  def batchNovelty(spark: org.apache.spark.sql.SparkSession, batch: DataFrame,
                   idCol: String, textCol: String, n: Int,
                   table: String): DataFrame = {
    val bg = wordShingleHashes(batch, idCol, textCol, n)
    val per = bg.groupBy(col("sid")).agg(count(lit(1)).as("n_grams"))
    val bmin = bg.groupBy(col("g")).agg(min(col("sid")).as("b_sid"))
    val imin = spark.table(table)
      .groupBy(col("g")).agg(min(col("first_sid")).as("idx_sid"))
    // <= not <: with corpus-unique ids equality can only mean the index
    // already holds THIS batch's own grams (a replayed append), so <= makes
    // scoring idempotent under re-ingest — score-then-append retries return
    // the first run's numbers instead of zeroing the batch's credit
    val novel = bmin.join(imin, Seq("g"), "left")
      .filter(col("idx_sid").isNull || col("b_sid") <= col("idx_sid"))
      .groupBy(col("b_sid").as("sid")).agg(count(lit(1)).as("n_novel"))
    val ng = coalesce(col("n_grams"), lit(0L))
    val nn = coalesce(col("n_novel"), lit(0L))
    batch.select(col(idCol).as("sid"))
      .join(per, Seq("sid"), "left")
      .join(novel, Seq("sid"), "left")
      .select(col("sid"), ng.as("n_grams"), nn.as("n_novel"),
        when(ng > 0L, nn.cast("double") / ng).as("novelty"))
  }

  /** Cluster-size HISTOGRAM of the verified near-dup graph — the one-page
    * artifact a dedup POLICY review reads (how much corpus mass sits in
    * big clusters decides keep-first vs down-weight vs drop — the d34
    * soft-dedup decision): (cluster_size, n_clusters, n_docs). Docs absent
    * from the pair graph count as their own SINGLETON clusters — a
    * histogram without them overstates duplication. Two component-keyed
    * counts on top of [[connectedComponents]]' labels plus one anti join
    * for singletons — output is size-distribution-sized, never
    * corpus-sized.
    */
  def clusterSizeHistogram(components: DataFrame, universe: DataFrame,
                           idCol: String): DataFrame = {
    val singles = universe.select(col(idCol).as("sid"))
      .join(components.select(col("sid")), Seq("sid"), "left_anti")
      .withColumn("component", col("sid"))
    components.select(col("sid"), col("component")).unionByName(singles)
      .groupBy(col("component")).agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))
      .withColumn("n_docs", col("cluster_size") * col("n_clusters"))
  }

  // ---- transitive grouping -------------------------------------------------

  /** Connected components over near-dup pairs: every document in a component
    * gets the component's minimum id as its label — the step that turns
    * pairwise matches into dedup clusters ("keep one per cluster").
    *
    * Min-label propagation WITH pointer jumping: each round takes the min
    * over neighbor labels, then replaces every label by its label's label
    * (path halving). Convergence is O(log diameter) rounds instead of
    * O(diameter) — a 30-long chain converges in ~5 rounds, and each round's
    * fixed multi-job overhead dominates wall-clock at cluster scale, so
    * round count is the metric that matters. Per round: two keyed shuffles,
    * cached + lineage-cut, one convergence count on the driver.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 25): DataFrame =
   graft.core.Storage.freeingIntermediates(pairs.sparkSession) {
    // Storage.cut everywhere (localCheckpoint locally; RELIABLE checkpoint
    // when the session sets a checkpoint dir, so a cluster run survives
    // executor loss mid-loop): an iterative self-joining loop otherwise
    // re-analyzes an exponentially duplicated logical plan each round —
    // measured as tens of seconds of DRIVER time on a 500-node graph.
    // Checkpointing truncates each round's plan to a leaf; caching alone
    // does not (it only short-circuits execution, not analysis).
    // Cut pairs BEFORE the bidirectional union: the union references
    // the pairs subtree twice in one plan, and when that subtree is a full
    // LSH verification pipeline, exchange reuse is not guaranteed to dedup
    // it (AQE re-plans per-branch) — one materialization guarantees one
    // evaluation. The freeingIntermediates wrapper frees p/edges and the
    // final loop round on exit, keeping only the returned labels leaf.
    val cut = graft.core.Storage.cut(_: DataFrame, _: Boolean)
    val p = cut(pairs, false)
    val edges = cut(p.select(col("ida").as("src"), col("idb").as("dst"))
      .union(p.select(col("idb").as("src"), col("ida").as("dst"))), true)
    var labels = cut(edges.select(col("src").as("sid")).distinct()
      .withColumn("component", col("sid")), true)
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      val viaNeighbors = edges
        .join(labels.select(col("sid"), col("component")), edges("dst") === col("sid"))
        .groupBy(col("src")).agg(min(col("component")).as("ncomp"))
      // `prev` (the previous round's label) rides through both steps so the
      // convergence test is a shuffle-free scan of the checkpointed result,
      // not an extra join against the previous round's labels.
      val stepped = labels
        .join(viaNeighbors, labels("sid") === viaNeighbors("src"), "left")
        .select(labels("sid"), labels("component").as("prev"),
          least(labels("component"), coalesce(col("ncomp"), labels("component")))
            .as("component"))
      // pointer jump: component <- label(component); halves chain depth so
      // convergence is O(log diameter) rounds, not O(diameter). `stepped`
      // appears twice in ONE plan (probe + lookup side); its shuffle is
      // planned once and reused (ReusedExchange), so the round is a single
      // checkpointed job — not a stepped-checkpoint job plus a jump job.
      // Plan growth stays bounded because `next` IS checkpointed per round.
      //
      // The jump is CONDITIONAL: near-dup graphs are overwhelmingly shallow
      // (star-shaped duplicate clusters), where min-label propagation alone
      // converges in 2-3 rounds and the jump's extra join is pure overhead —
      // measured 1.5x wall-clock on d9 at sf0.1. Rounds 0-1 therefore run
      // plain propagation; the jump kicks in from round 2, which only deep
      // chains ever reach, preserving the O(log diameter) bound exactly
      // where it pays.
      val next = (if (iter < 2) stepped
        else {
          val lookup =
            stepped.select(col("sid").as("l_sid"), col("component").as("l_comp"))
          stepped
            .join(lookup, stepped("component") === lookup("l_sid"), "left")
            .select(stepped("sid"), stepped("prev"),
              least(stepped("component"), coalesce(col("l_comp"), stepped("component")))
                .as("component"))
        }).transform(cut(_, true))
      val changed = next.filter(col("component") =!= col("prev")).count()
      // free the superseded round's blocks AT THE RDD LAYER — a long loop
      // would otherwise accumulate every round's label RDD in executor
      // storage (Dataset.unpersist would be a silent no-op here: checkpoint
      // blocks never enter the CacheManager — Storage.scala)
      graft.core.Storage.freeCheckpoint(labels)
      labels = next
      converged = changed == 0
      iter += 1
    }
    labels.select(col("sid"), col("component"))
   }

  /** INCREMENTAL connected components: fold a batch of NEW near-dup pairs
    * into an existing [[connectedComponents]] labeling without recomputing
    * the corpus — the cluster-maintenance step of streaming dedup (ds1/ds2
    * find the new pairs; this keeps the CLUSTER labels current so
    * canonical-selection/leakage-safe-split stay correct as dups arrive).
    *
    * Clusters untouched by any new-pair endpoint pass through UNCHANGED;
    * touched clusters are reduced to their star edges (member — label) and
    * re-solved together with the new pairs. Labels are min-member-ids on
    * both paths, so the merged output is IDENTICAL to a from-scratch run
    * over the union of all pairs (d26's oracle states exactly that) —
    * incremental is an optimization, never a semantic.
    *
    * Scale shape: cost ∝ touched clusters + new pairs — batch-sized, never
    * corpus-sized (the d22/s19 incremental discipline). The touched-
    * component set is batch-bounded and broadcasts into both the keep and
    * recompute splits.
    */
  def mergeComponents(labels: DataFrame, newPairs: DataFrame): DataFrame = {
    val pairs = newPairs.select(col("ida"), col("idb"))
    val ends = pairs.select(col("ida").as("sid"))
      .unionByName(pairs.select(col("idb").as("sid"))).distinct()
    val touched = labels.join(ends, Seq("sid"), "left_semi")
      .select(col("component")).distinct()
    val keep = labels.join(broadcast(touched), Seq("component"), "left_anti")
      .select(col("sid"), col("component"))
    val starEdges = labels.join(broadcast(touched), Seq("component"), "left_semi")
      .filter(col("sid") =!= col("component"))
      .select(col("sid").as("ida"), col("component").as("idb"))
    keep.unionByName(
      connectedComponents(starEdges.unionByName(pairs)))
  }

  /** Persisted-labels form of [[mergeComponents]]: fold a batch of pairs
    * into the `table` of (sid, component) labels and overwrite it — the
    * state-maintenance step a streaming dedup pipeline runs per
    * micro-batch (ds7). REPLAY-IDEMPOTENT by the merge's semantics:
    * re-merging pairs whose endpoints are already unified re-solves the
    * touched clusters to the same min-member-id labels, so a retried
    * batch rewrites identical content — no partition machinery needed for
    * this (cluster-membership-sized, not corpus-sized) table. The merge
    * result is checkpoint-cut before the overwrite so the write never
    * reads the table it replaces.
    */
  def mergeComponentsTable(spark: org.apache.spark.sql.SparkSession,
                           table: String, newPairs: DataFrame): Unit = {
    // the wrapper frees the merge's INNER components leaf (the eager outer
    // cut no longer references it) — a per-micro-batch caller must not
    // accumulate one labels RDD per batch in executor storage
    val merged = graft.core.Storage.freeingIntermediates(spark) {
      graft.core.Storage.cut(
        mergeComponents(spark.table(table), newPairs), true)
    }
    merged.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .format("parquet").saveAsTable(table)
    graft.core.Storage.freeCheckpoint(merged)
  }

  /** Near-VERSION dedup via content-defined chunks: document pairs sharing
    * at least `minShared` distinct CDC chunk hashes
    * ([[graft.operators.TextOps.cdcChunks]]) — the edit-robust dedup
    * family member. Minhash Jaccard (d4) dilutes when one version gains a
    * large insertion; CDC boundaries re-synchronize after the edit, so
    * the unchanged regions still hash to IDENTICAL chunks and the pair
    * count survives — versioned/forked documents stay detectable.
    *
    * Scale shape: chunks shuffle as 8-byte hashes (expected one per
    * `divisor` tokens — ~divisor× FEWER keys than a gram-level join);
    * hashes with document frequency above `maxDf` are anti-joined out
    * before pairing (the d23 hot-key discipline — a boilerplate chunk
    * would otherwise contribute O(df²) pairs), bounding the join fan-out
    * at maxDf per hash.
    */
  def cdcOverlapPairs(df: DataFrame, idCol: String, textCol: String,
                      n: Int = 3, divisor: Int = 64, minShared: Long = 2L,
                      maxDf: Long = 1000L): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    require(maxDf >= 2, s"maxDf must be >= 2, got $maxDf")
    // ch feeds the hot-hash filter AND both self-join sides: checkpoint-cut
    // it so the chunking scan runs once, not once per plan branch
    val ch = graft.core.Storage.cut(
      cdcChunkHashes(df, idCol, textCol, n, divisor), eager = false)
    val hot = ch.groupBy(col("h")).agg(count(lit(1)).as("hdf"))
      .filter(col("hdf") > maxDf).select(col("h"))
    val cold = ch.join(broadcast(hot), Seq("h"), "left_anti")
    cold.as("a").join(cold.as("b"),
        col("a.h") === col("b.h") && col("a.sid") < col("b.sid"))
      .groupBy(col("a.sid").as("ida"), col("b.sid").as("idb"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** (sid, h) distinct CDC chunk-hash postings — the index shape shared by
    * [[cdcOverlapPairs]] and the persisted [[writeCdcIndex]] path.
    */
  private def cdcChunkHashes(df: DataFrame, idCol: String, textCol: String,
                             n: Int, divisor: Int): DataFrame =
    graft.operators.TextOps.cdcChunks(df, idCol, textCol, n, divisor)
      .select(col("did").as("sid"), col("chunk_hash").as("h")).distinct()

  /** Persist the CDC chunk-hash postings as a table bucketed on the
    * candidate join key — [[writeBandIndex]]'s discipline for the
    * edit-stable chunk family, so incremental near-version dedup joins
    * the corpus side exchange-free.
    */
  def writeCdcIndex(df: DataFrame, idCol: String, textCol: String, n: Int,
                    divisor: Int, table: String, nBuckets: Int): Unit =
    graft.sources.Bucketing.writeBucketedBy(
      cdcChunkHashes(df, idCol, textCol, n, divisor),
      table, Seq("h"), nBuckets)

  /** Incremental near-version dedup: a batch against the persisted CDC
    * chunk index (+ within itself) — equals the full [[cdcOverlapPairs]]
    * run restricted to batch-touching pairs. The hot-hash suppression
    * recomputes document frequency over the COMBINED (fresh corpus +
    * batch) postings — one bucket-local aggregate over the index — so the
    * suppressed set matches the from-scratch run's exactly; re-ingested
    * ids verify against their new chunks only (stale index rows
    * anti-joined out, the m8/incrementalNearDupPairs discipline).
    */
  def incrementalCdcPairs(newDf: DataFrame, corpusIdx: DataFrame,
                          idCol: String, textCol: String, n: Int,
                          divisor: Int, minShared: Long,
                          maxDf: Long = 1000L): DataFrame =
   graft.core.Storage.freeingIntermediates(newDf.sparkSession) {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    val nb = graft.core.Storage.cut(
      cdcChunkHashes(newDf, idCol, textCol, n, divisor), eager = false)
    val newIds = newDf.select(col(idCol).as("new_sid")).distinct()
    val fresh = corpusIdx.select(col("sid"), col("h"))
      .join(broadcast(newIds), col("sid") === col("new_sid"), "left_anti")
    val all = fresh.unionByName(nb)
    val hot = all.groupBy(col("h")).agg(count(lit(1)).as("hdf"))
      .filter(col("hdf") > maxDf).select(col("h"))
    val coldN = nb.join(broadcast(hot), Seq("h"), "left_anti")
    val coldC = fresh.join(broadcast(hot), Seq("h"), "left_anti")
    def pairs(b: DataFrame, lt: Boolean): DataFrame =
      coldN.as("a").join(b.as("b"), col("a.h") === col("b.h") &&
          (if (lt) col("a.sid") < col("b.sid")
           else col("a.sid") =!= col("b.sid")))
        .select(least(col("a.sid"), col("b.sid")).as("ida"),
          greatest(col("a.sid"), col("b.sid")).as("idb"), col("a.h").as("h"))
    graft.core.Storage.cut(
      pairs(coldN, lt = true).unionByName(pairs(coldC, lt = false))
        .distinct()
        .groupBy(col("ida"), col("idb"))
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= minShared), eager = true)
   }

  // ---- SimHash -------------------------------------------------------------

  val SimhashBits = 48

  /** 48-bit simhash over whitespace tokens (with multiplicity): bit b is set
    * when the signed sum of token-hash bit b is positive. ONE per-row native
    * expression (graft.plans.SimhashLong) — no token explode, no 48-column
    * aggregate, no shuffle; the signature is a map-side scan. (The previous
    * relational form shuffled |tokens| rows into a 48-aggregate hash map per
    * document — same values, measured ~3x the wall-clock at sf0.1.)
    */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("sid"),
      graft.plans.SimhashLong.simhashLong(col(textCol)).as("simhash"))

  /** Near-dup pairs by simhash chunk banding: the 48-bit signature is split
    * into `numChunks` equal-width chunks and documents sharing any exact
    * chunk become candidates, verified with bit_count and kept at distance
    * <= maxHamming.
    *
    * Recall contract (pigeonhole): a pair at hamming distance d shares an
    * exact chunk WHENEVER d < numChunks — so recall is guaranteed for
    * d <= numChunks - 1 and probabilistic above. Occupancy contract: each
    * chunk key space has 2^(48/numChunks) buckets, and the within-bucket
    * self-join degrades quadratically once corpus size rivals the key
    * space. The default 4 x 12-bit banding guarantees maxHamming <= 3 with
    * n/4096 expected occupancy; a 100x corpus should move to 3 x 16-bit
    * (n/65536 occupancy, recall guaranteed to d = 2) or keep 4 chunks and
    * accept the larger buckets — the tradeoff is explicit, not hard-coded.
    */
  def simhashPairs(sim: DataFrame, maxHamming: Int, numChunks: Int = 4): DataFrame =
    hammingBandPairs(sim, "simhash", SimhashBits, maxHamming, numChunks)

  /** Hamming-banded near-dup pairs over ANY packed bit signature column
    * (simhash over text, dHash over images, ...): the `totalBits`-wide
    * signature splits into `numChunks` equal chunks, rows sharing any exact
    * chunk become candidates, verified with bit_count at distance <=
    * maxHamming. Same pigeonhole recall contract and per-(chunk, ckey)
    * subquadratic join shape as [[simhashPairs]] — which is this function at
    * 48 bits.
    */
  def hammingBandPairs(sig: DataFrame, hashCol: String, totalBits: Int,
                       maxHamming: Int, numChunks: Int): DataFrame = {
    val chunks = hammingChunks(sig, hashCol, totalBits, numChunks)
    chunks.as("a")
      .join(chunks.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.ckey") === col("b.ckey") &&
          col("a.sid") < col("b.sid"))
      .select(col("a.sid").as("ida"), col("b.sid").as("idb"),
        expr("bit_count(a.__h ^ b.__h)").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** (sid, __h, chunk, ckey) chunk postings of a hamming signature — the
    * band-index shape for perceptual hashes, shared by the in-memory
    * [[hammingBandPairs]] and the persisted [[writeHammingIndex]] path.
    */
  private def hammingChunks(sig: DataFrame, hashCol: String, totalBits: Int,
                            numChunks: Int): DataFrame = {
    require(numChunks > 0 && totalBits % numChunks == 0,
      s"numChunks must divide $totalBits bits, got $numChunks")
    val width = totalBits / numChunks
    val mask = (1L << width) - 1
    sig.select(col("sid"), col(hashCol).as("__h"),
      posexplode(array((0 until numChunks).map(c =>
        shiftright(col(hashCol), width * c).bitwiseAND(mask)): _*))
        .as(Seq("chunk", "ckey")))
  }

  /** Persist a perceptual-hash chunk index as a bucketed table keyed by
    * the candidate join's equi-keys (chunk, ckey) — [[writeBandIndex]]'s
    * discipline applied to hamming signatures (image dHash, audio energy
    * hash, video temporal hash all share this shape), so incremental
    * media dedup joins the corpus side EXCHANGE-FREE.
    */
  def writeHammingIndex(sig: DataFrame, hashCol: String, totalBits: Int,
                        numChunks: Int, table: String, nBuckets: Int): Unit =
    graft.sources.Bucketing.writeBucketedBy(
      hammingChunks(sig, hashCol, totalBits, numChunks),
      table, Seq("chunk", "ckey"), nBuckets)

  /** Incremental media near-dup: a batch of new signatures against the
    * persisted chunk index (+ within-batch pairs) — the media analogue of
    * [[incrementalNearDupPairs]]: per-batch cost follows the batch, the
    * index side of the candidate join is exchange-free on its bucketed
    * (chunk, ckey) layout, and the result equals the full
    * [[hammingBandPairs]] run restricted to pairs touching the batch.
    * The exact hamming verify needs no document reassembly — the 64-bit
    * signatures travel with the chunk rows.
    */
  def incrementalHammingPairs(newSig: DataFrame, corpusChunks: DataFrame,
                              hashCol: String, totalBits: Int,
                              maxHamming: Int, numChunks: Int): DataFrame =
   graft.core.Storage.freeingIntermediates(newSig.sparkSession) {
    val nb = graft.core.Storage.cut(
      hammingChunks(newSig, hashCol, totalBits, numChunks), eager = false)
    // a RE-INGESTED id (new signature for a doc already in the index) must
    // verify against its NEW hash only — anti-join its stale index rows
    // out, the incrementalNearDupPairs re-ingest discipline. Broadcast
    // filter (batch-sized ids), not a corpus shuffle.
    val newIds = newSig.select(col("sid").as("new_sid")).distinct()
    val fresh = corpusChunks
      .join(broadcast(newIds), col("sid") === col("new_sid"), "left_anti")
    def pairsOf(b: DataFrame, lt: Boolean): DataFrame = {
      val cond = col("a.chunk") === col("b.chunk") &&
        col("a.ckey") === col("b.ckey") &&
        (if (lt) col("a.sid") < col("b.sid") else col("a.sid") =!= col("b.sid"))
      nb.as("a").join(b.as("b"), cond)
        .select(least(col("a.sid"), col("b.sid")).as("ida"),
          greatest(col("a.sid"), col("b.sid")).as("idb"),
          expr("bit_count(a.__h ^ b.__h)").as("hamming"))
    }
    graft.core.Storage.cut(
      pairsOf(nb, lt = true)
        .unionByName(pairsOf(fresh, lt = false))
        .distinct()
        .filter(col("hamming") <= maxHamming), eager = true)
   }

  // ---- corpus-wide line-level dedup (the CCNet/RefinedWeb stage) -----------

  /** Line occurrences of a corpus: (sid, pos 0-based, h = md5(line)) for
    * every line of at least `minLineChars` chars. Shorter lines (empty
    * lines, stray separators) never participate in dedup — they are
    * document structure, not content, and a corpus-global keep-first over
    * "" would strip every blank line but one.
    */
  private def lineOccurrences(df: DataFrame, idCol: String, textCol: String,
                              sep: String, minLineChars: Int): DataFrame =
    df.select(col(idCol).as("sid"),
        posexplode(split(col(textCol),
          java.util.regex.Pattern.quote(sep), -1)).as(Seq("pos", "line")))
      .filter(length(col("line")) >= minLineChars)
      .select(col("sid"), col("pos"), md5(col("line")).as("h"))

  /** A line-occurrence relation reduced to its per-hash FIRST holder —
    * min(struct(sid, pos)): the d21 first-holder reduce pointed at lines.
    */
  private def lineWinners(occ: DataFrame): DataFrame =
    occ.groupBy(col("h"))
      .agg(min(struct(col("sid"), col("pos"))).as("w"))
      .select(col("h"), col("w.sid").as("w_sid"), col("w.pos").as("w_pos"))

  /** CORPUS-WIDE line-level dedup (VERDICT r17 ask #3 — the CCNet
    * paradigm): every duplicated line survives only at its corpus-global
    * FIRST occurrence (min (doc_id, pos)), killing the boilerplate
    * nav/footer lines that doc-level MinHash can't see; documents are then
    * rebuilt with their dropped positions cut (the d31 rebuild posture).
    * Returns (sid, text_dedup, n_lines, n_kept) for EVERY input doc.
    *
    * Scale shape: dedup shuffles carry only (md5, sid, pos) — the FULL md5
    * rather than the 48-bit gram prefix because a collision here DELETES
    * text, not just a score (the d1 `exact` discipline; 16-byte keys,
    * collision-free in practice).
    * The winner join fans out by h (bounded by line duplication), the
    * drop-list aggregate is doc-keyed and map-side combinable, and full
    * text rides exactly ONE doc_id-keyed join (corpus-sized but
    * exchange-minimal); the rebuild itself is a map-side index-filtered
    * re-split — text never enters the dedup shuffles.
    */
  def lineDedup(df: DataFrame, idCol: String, textCol: String, sep: String,
                minLineChars: Int = 1): DataFrame = {
    val occ = lineOccurrences(df, idCol, textCol, sep, minLineChars)
    val drops = occ.join(lineWinners(occ), Seq("h"))
      .filter(col("sid") =!= col("w_sid") || col("pos") =!= col("w_pos"))
      .groupBy(col("sid")).agg(collect_list(col("pos")).as("__drop"))
    rebuildWithoutPositions(df, idCol, textCol, sep, drops)
  }

  /** Map-side doc rebuild: re-split the original text and cut the positions
    * listed in `drops` (sid -> array of 0-based positions; docs absent keep
    * everything). Shared by the from-scratch and incremental paths.
    */
  private def rebuildWithoutPositions(df: DataFrame, idCol: String,
                                      textCol: String, sep: String,
                                      drops: DataFrame): DataFrame =
    df.select(col(idCol).as("sid"),
        split(col(textCol), java.util.regex.Pattern.quote(sep), -1).as("__ls"))
      .join(drops, Seq("sid"), "left")
      .withColumn("__dropset",
        coalesce(col("__drop"), array().cast("array<int>")))
      .select(col("sid"),
        array_join(filter(col("__ls"),
          (_, i) => !array_contains(col("__dropset"), i)), sep).as("text_dedup"),
        size(col("__ls")).cast("long").as("n_lines"),
        (size(col("__ls")) - size(col("__dropset"))).cast("long").as("n_kept"))

  /** Persist the corpus' line first-holder index, BUCKETED on the line
    * hash — the d22 persisted-index discipline applied to lines: build
    * once, then dedup every ingestion batch against it without re-reading
    * the corpus. Append-only log of first-holder candidates; serve-time
    * min-merges per hash, exchange-free on the bucketed layout.
    */
  def writeLineIndex(df: DataFrame, idCol: String, textCol: String,
                     sep: String, minLineChars: Int, table: String,
                     nBuckets: Int): Unit =
    graft.sources.Bucketing.writeBucketedBy(
      lineWinners(lineOccurrences(df, idCol, textCol, sep, minLineChars)),
      table, Seq("h"), nBuckets)

  /** Grow the line index by one batch (same bucket spec, append-only). */
  def appendLineIndex(batch: DataFrame, idCol: String, textCol: String,
                      sep: String, minLineChars: Int, table: String,
                      nBuckets: Int): Unit =
    graft.sources.Bucketing.appendBucketedBy(
      lineWinners(lineOccurrences(batch, idCol, textCol, sep, minLineChars)),
      table, Seq("h"), nBuckets)

  /** EXACTLY-ONCE streaming line-dedup ingestion (the ds-series contract
    * on [[lineDedup]]): each micro-batch dedups against the committed
    * first-holder index, LANDS its rebuilt docs by partition-replace on
    * `ingest_batch`, then appends its own winners to the index. A retried
    * batch rewrites identical rows and appends redundant winner rows the
    * serve-time min-merge collapses — replay changes nothing.
    *
    * ORDERING CONTRACT (what makes replay deterministic AND the composite
    * equal to the from-scratch [[lineDedup]]): batches must arrive in
    * ascending id-range order (batch b's ids all below batch b+1's — the
    * monotone doc-id assignment every crawl ingest has). Then the global
    * min-(sid, pos) winner of any line lives in its earliest-arriving
    * batch, so arrival order and id order agree: a replayed batch's
    * occurrences compare `<=` against later batches' winners exactly as
    * they did originally, and the union of landed batches is bit-equal to
    * one whole-corpus run. Out-of-order id ranges would make the landed
    * result arrival-order-dependent — refused territory, not handled.
    */
  def lineDedupIngestBatch(spark: org.apache.spark.sql.SparkSession,
                           batch: DataFrame, batchId: Long, statePath: String,
                           idCol: String, textCol: String, sep: String,
                           minLineChars: Int, table: String,
                           nBuckets: Int): Unit = {
    val exists = spark.catalog.tableExists(table)
    val deduped =
      if (!exists) lineDedup(batch, idCol, textCol, sep, minLineChars)
      else lineDedupIncremental(spark, batch, idCol, textCol, sep,
        minLineChars, table)
    graft.sources.Sinks.overwriteRunPartition(
      deduped.withColumn("ingest_batch", lit(batchId)),
      statePath, "ingest_batch")
    if (!exists)
      writeLineIndex(batch, idCol, textCol, sep, minLineChars, table, nBuckets)
    else
      appendLineIndex(batch, idCol, textCol, sep, minLineChars, table, nBuckets)
  }

  /** The committed line-deduped corpus: the union of landed batches. */
  def servedLineDedup(spark: org.apache.spark.sql.SparkSession,
                      statePath: String): DataFrame =
    spark.read.parquet(statePath)

  /** Dedup ONE ingestion batch's lines against the persisted index — equal
    * BY CONSTRUCTION to [[lineDedup]] over (corpus UNION batch) restricted
    * to batch docs: a batch line occurrence survives iff it is the minimum
    * (sid, pos) across the index's first holders AND the batch itself
    * (min over a union decomposes). `<=` instead of `<` on the merged
    * winner makes the dedup idempotent under append-then-retry (the
    * batchNovelty replay discipline): a batch whose own rows already
    * landed in the index still keeps its first occurrences.
    *
    * Scale shape: the index side min-merges without an exchange (bucketed
    * on h); only the batch's line hashes shuffle — per-batch cost scales
    * with |batch|, never |corpus|.
    */
  def lineDedupIncremental(spark: org.apache.spark.sql.SparkSession,
                           batch: DataFrame, idCol: String, textCol: String,
                           sep: String, minLineChars: Int,
                           table: String): DataFrame = {
    val occ = lineOccurrences(batch, idCol, textCol, sep, minLineChars)
    val merged = lineWinners(occ)
      .unionByName(spark.table(table)
        .select(col("h"), col("w_sid"), col("w_pos")))
      .groupBy(col("h"))
      .agg(min(struct(col("w_sid").as("sid"), col("w_pos").as("pos"))).as("w"))
      .select(col("h"), col("w.sid").as("w_sid"), col("w.pos").as("w_pos"))
    val drops = occ.join(merged, Seq("h"))
      .filter(struct(col("sid"), col("pos")) >
        struct(col("w_sid"), col("w_pos")))
      .groupBy(col("sid")).agg(collect_list(col("pos")).as("__drop"))
    rebuildWithoutPositions(batch, idCol, textCol, sep, drops)
  }
}
