package graft.operators

import graft.plans.GraftFunctions.dotLong
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Exactness strategy: embeddings are quantized to integers
  * (round(x * 1000)) before any arithmetic. Integer dot products are exact
  * under ANY accumulation order (every partial sum is an integer-valued
  * double << 2^53), so Spark and a SQL oracle agree bit-for-bit — floats
  * would differ in the last ulp depending on fold order.
  *
  * Performance strategy: the dot product is one native kernel call inside
  * whole-stage codegen (graft.plans.DotProductLong — measured ~50x over
  * `aggregate(zip_with(...))` interpreted lambdas), and per-vector norms are
  * computed once before any pairwise join, so per-pair work is one dot and
  * one division.
  *
  * Scale strategy: brute-force top-k broadcasts the (small) query set and
  * streams the candidate table once — no shuffle of the big side. The LSH
  * variant buckets vectors by random-hyperplane sign bits over multiple
  * tables so candidate generation joins only within (table, bucket);
  * hyperplanes are md5-derived constants, identical on every node (and in
  * tests) with no coordination.
  */
object Similarity {

  val QuantScale = 1000

  /** array<float|double> -> array<long>, exact integer quantization —
    * one codegen'd kernel (round 19): the transform form paid an
    * interpreted lambda + boxed ROUND per element, over every corpus
    * vector on every similarity query (it sits inside [[prepared]]).
    * Identical ROUND-HALF-UP digits (QuantizeLong doc, property-pinned).
    */
  def quantize(v: Column): Column =
    graft.plans.QuantizeLong.quantize(v, QuantScale)

  /** Exact integer dot product of two quantized vectors (native kernel). */
  def idot(a: Column, b: Column): Column = dotLong(a, b)

  /** (id, qv, nrm) projection: quantized vector + its L2 norm, computed once
    * per vector — never per pair.
    */
  private[operators] def prepared(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol).as("sid"), quantize(col(vecCol)).as("qv"))
      .withColumn("nrm", sqrt(dotLong(col("qv"), col("qv")).cast("double")))

  /** Cosine from a pairwise dot and two precomputed norms. `nullif` guards
    * zero-norm vectors (all components quantize to 0): cosine is undefined
    * there, and under ANSI mode a bare division would abort the job — NULL
    * drops them from thresholds and sorts last in rankings instead.
    */
  private def pairCosine(av: Column, bv: Column, an: Column, bn: Column): Column =
    dotLong(av, bv).cast("double") / nullif(an * bn, lit(0.0))

  /** Cosine of two quantized vectors (self-contained form, for callers
    * without precomputed norms).
    */
  def cosineQ(a: Column, b: Column): Column =
    dotLong(a, b).cast("double") / nullif(
      sqrt(dotLong(a, a).cast("double")) * sqrt(dotLong(b, b).cast("double")),
      lit(0.0))

  /** Brute-force top-k cosine neighbors of each query vector.
    * `queries` must be small (it is broadcast); `candidates` can be any size.
    */
  def bruteForceTopK(queries: DataFrame, candidates: DataFrame, idCol: String,
                     vecCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = prepared(queries, idCol, vecCol)
      .select(col("sid").as("qid"), col("qv").as("qqv"), col("nrm").as("qnrm"))
    val c = prepared(candidates, idCol, vecCol)
      .select(col("sid").as("nid"), col("qv").as("nqv"), col("nrm").as("nnrm"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        pairCosine(col("qqv"), col("nqv"), col("qnrm"), col("nnrm")).as("cosine"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cosine").desc, col("nid").asc)
    scored.withColumn("rank", row_number().over(w).cast("long")).filter(col("rank") <= k)
  }

  /** BINARY (sign-bit) quantized ANN: one bit per dimension packed into a
    * single 64-bit word, Hamming-distance shortlist, exact quantized-cosine
    * rerank — the public FAISS binary-index pattern (IndexBinaryFlat +
    * rerank), the cheapest rung under SQ8/PQ on the ANN ladder: the
    * candidate scan moves 8 BYTES per vector (32x less than SQ8, 256x less
    * than floats) and each distance is one xor + popcount (codegen'd
    * builtins), with quality recovered by reranking the k*rerank shortlist
    * through the full quantized cosine.
    *
    * Determinism: bit j set iff quantized component j > 0 (exact zeros ->
    * 0, same rule in the oracle); shortlist by (hamming asc, nid asc)
    * row_number <= k*rerank — a per-query WindowGroupLimit, never a global
    * sort; final rank by (cosine desc, nid asc).
    *
    * Scale shape: signatures compute in-scan (no shuffle), queries
    * broadcast, the shortlist caps map-side, and only candidate IDs
    * shuffle to meet their full vectors for the rerank join.
    */
  def binarySignTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
                     vecCol: String, dim: Int, k: Int,
                     rerank: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(dim >= 1 && dim <= 64, s"dim must be in [1, 64], got $dim")
    require(k >= 1 && rerank >= 1, s"k and rerank must be >= 1, got $k, $rerank")
    // fail LOUD on a ragged vector at the signature stage, with the
    // length in the message — the family contract (dotLong aborts on
    // mismatched dims) would otherwise fire only for the data-dependent
    // subset of ragged vectors that reach the rerank join, and an ANSI
    // element_at abort would name an array index, not the actual bug
    def sigOf(qv: String): Column = expr(
      s"IF(size($qv) = $dim, " +
        s"aggregate(sequence(0, ${dim - 1}), 0L, (acc, j) -> acc | " +
        s"IF(element_at($qv, j + 1) > 0L, shiftleft(1L, j), 0L)), " +
        // coalesce keeps the diagnostic printable when the vector is NULL
        // (size(NULL) is NULL under ANSI — a bare concat would raise with
        // a null message)
        s"raise_error(concat('binarySignTopK: vector length ', " +
        s"coalesce(CAST(size($qv) AS STRING), 'NULL'), ' != dim $dim')))")
    val q1 = prepared(queries, idCol, vecCol)
      .select(col("sid").as("qid"), sigOf("qv").as("qsig"))
    val c1 = prepared(corpus, idCol, vecCol)
      .select(col("sid").as("nid"), sigOf("qv").as("nsig"))
    val wH = Window.partitionBy(col("qid"))
      .orderBy(col("hamming").asc, col("nid").asc)
    val shortlist = c1.crossJoin(broadcast(q1))
      .filter(col("qid") =!= col("nid"))
      .withColumn("hamming",
        bit_count(col("nsig").bitwiseXOR(col("qsig"))).cast("long"))
      .withColumn("__r", row_number().over(wH))
      .filter(col("__r") <= k * rerank)
      .select(col("qid"), col("nid"), col("hamming"))
    val qv = prepared(queries, idCol, vecCol)
      .select(col("sid").as("qid"), col("qv").as("qqv"), col("nrm").as("qnrm"))
    val cv = prepared(corpus, idCol, vecCol)
      .select(col("sid").as("nid"), col("qv").as("nqv"), col("nrm").as("nnrm"))
    val wC = Window.partitionBy(col("qid"))
      .orderBy(col("cosine").desc, col("nid").asc)
    shortlist.join(cv, Seq("nid")).join(broadcast(qv), Seq("qid"))
      .select(col("qid"), col("nid"), col("hamming"),
        pairCosine(col("qqv"), col("nqv"), col("qnrm"), col("nnrm")).as("cosine"))
      .withColumn("rank", row_number().over(wC).cast("long"))
      .filter(col("rank") <= k)
  }

  /** MATRYOSHKA truncation-quality eval (Kusupati et al. 2022, "Matryoshka
    * Representation Learning", NeurIPS — arXiv:2205.13147): recall of
    * PREFIX-truncated embeddings against the full-dimension exact top-k,
    * the measurement that decides how many dimensions the ANN index
    * actually needs (MRL-trained models keep most recall at 1/4 the
    * dims — 4x less index memory and bandwidth). Per (query, dim):
    * n_hits = |top-k by dims-prefix cosine ∩ top-k by full cosine| —
    * exact integers, k bounds every row.
    *
    * Scale shape: one [[bruteForceTopK]] per dim over the SAME broadcast
    * query batch (the s1/s16 recall-harness posture — query batches are
    * small by contract; the corpus streams once per arm and never
    * shuffles); the intersection is a (qid, nid) equi-join of k-row
    * frames.
    */
  def matryoshkaRecall(queries: DataFrame, corpus: DataFrame, idCol: String,
                       vecCol: String, dims: Seq[Int], k: Int): DataFrame = {
    require(dims.nonEmpty && dims.forall(_ >= 1), s"bad dims: $dims")
    def top(dim: Int, q: String, n: String): DataFrame = {
      def trunc(df: DataFrame) =
        df.select(col(idCol), slice(col(vecCol), 1, dim).as(vecCol))
      bruteForceTopK(trunc(queries), trunc(corpus), idCol, vecCol, k)
        .select(col("qid").as(q), col("nid").as(n))
    }
    val full = bruteForceTopK(queries, corpus, idCol, vecCol, k)
      .select(col("qid").as("__fq"), col("nid").as("__fn"))
    dims.map { dim =>
      // LEFT join so a zero-overlap query still reports n_hits = 0 (its k
      // candidate rows all survive the join with NULL match markers)
      top(dim, "qid", "nid")
        .join(full, col("qid") === col("__fq") && col("nid") === col("__fn"),
          "left")
        .groupBy(col("qid"))
        .agg(count(col("__fn")).as("n_hits"))
        .select(col("qid"), lit(dim.toLong).as("dim"), col("n_hits"))
    }.reduce(_ unionByName _)
  }

  /** HARD-NEGATIVE mining for contrastive retrieval training: per query
    * vector, the k most-similar corpus vectors with a DIFFERENT label —
    * the highest-cosine wrong-label neighbors are the negatives that
    * actually move a dual encoder (random negatives are too easy; the
    * standard in-batch-negatives upgrade). Same quantized-integer cosine
    * and (cosine desc, nid) determinism as [[bruteForceTopK]]; this is the
    * exact baseline (corpus scan × broadcast queries). At scale, mine from
    * the persisted ANN shortlist instead: [[AnnIndex.searchIvfPqRefine]]
    * with an over-fetched shortlist, then this same label filter — or
    * [[AnnIndex.searchIvfPq]]'s memberFilter when one label policy covers
    * the whole serve (the s24 pattern). Output: (qid, nid, nlabel,
    * cosine, rank ≤ k).
    */
  def hardNegatives(queries: DataFrame, corpus: DataFrame, idCol: String,
                    vecCol: String, labelCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = prepared(queries, idCol, vecCol)
      .join(queries.select(col(idCol).as("sid"),
        col(labelCol).cast("long").as("qlabel")), Seq("sid"))
      .select(col("sid").as("qid"), col("qv").as("qqv"),
        col("nrm").as("qnrm"), col("qlabel"))
    val c = prepared(corpus, idCol, vecCol)
      .join(corpus.select(col(idCol).as("sid"),
        col(labelCol).cast("long").as("nlabel")), Seq("sid"))
      .select(col("sid").as("nid"), col("qv").as("nqv"),
        col("nrm").as("nnrm"), col("nlabel"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("qid") =!= col("nid") && col("nlabel") =!= col("qlabel"))
      .select(col("qid"), col("nid"), col("nlabel"),
        pairCosine(col("qqv"), col("nqv"), col("qnrm"), col("nnrm")).as("cosine"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cosine").desc, col("nid").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** SEMANTIC decontamination: per corpus vector, its highest cosine over
    * a benchmark/eval embedding set and the benchmark id that achieves it
    * — the embedding companion to [[Dedup.decontaminate]]'s n-gram
    * overlap (a paraphrased eval question shares no 8-gram with its
    * source but cosines near it; GPT-3's and Llama's decontamination
    * reports both flag this gap). Output one row per corpus vector:
    * (sid, bench_id, max_cosine, contaminated = max_cosine >= minCosine).
    *
    * Determinism: argmax ties break to the SMALLEST benchmark id via a
    * unique (cosine, -bid) max_by ordering — the oracle's
    * (cosine DESC, bid ASC) row_number. Zero-norm pairs have undefined
    * cosine (NULL, the [[bruteForceTopK]] contract) and are dropped
    * before the argmax; a corpus vector with NO defined pair surfaces
    * with NULL bench_id/max_cosine and contaminated = false.
    *
    * Scale shape: the benchmark is an eval suite (10^3..10^5 rows) —
    * broadcast once; the corpus scans once with per-row |benchmark| dots,
    * and the argmax is a partial-aggregating groupBy (each corpus row's
    * |B| candidates collapse map-side before the exchange), so the only
    * shuffle is one ~|corpus|-row hash aggregate. No window over the
    * cross product.
    */
  def semanticDecontaminate(corpus: DataFrame, benchmark: DataFrame,
                            idCol: String, vecCol: String,
                            minCosine: Double): DataFrame = {
    val c = prepared(corpus, idCol, vecCol)
    val b = prepared(benchmark, idCol, vecCol)
      .select(col("sid").as("bid"), col("qv").as("bqv"),
        col("nrm").as("bnrm"))
    val best = c.crossJoin(broadcast(b))
      .select(col("sid"), col("bid"),
        pairCosine(col("qv"), col("bqv"), col("nrm"), col("bnrm")).as("cosine"))
      .filter(col("cosine").isNotNull)
      .groupBy(col("sid"))
      .agg(max_by(struct(col("bid"), col("cosine")),
        struct(col("cosine"), negate(col("bid")))).as("best"))
      .select(col("sid"), col("best.bid").as("bench_id"),
        col("best.cosine").as("max_cosine"))
    corpus.select(col(idCol).as("sid")).join(best, Seq("sid"), "left")
      .select(col("sid"), col("bench_id"), col("max_cosine"),
        coalesce(col("max_cosine") >= minCosine, lit(false)).as("contaminated"))
  }

  /** Recall@k of one or more ANN result sets against exact ground truth —
    * the accuracy CONTRACT the ANN ladder was missing: s2–s15 are
    * hash-verified for determinism, this measures whether the approximate
    * answers are any good, per method, as an oracle-checkable row
    * (`method, hits, n, recall, recall_ok`). Integer hits / integer n make
    * the recall division bit-reproducible across engines (the ApproxOps
    * discipline: exact numbers + a boolean the oracle asserts).
    *
    * `exact` and each method frame carry (qid, nid) rows of their top-k
    * (dupes impossible by construction); `n` is k x |queries| from the
    * GROUND TRUTH, so a method returning fewer rows (over-pruned cells) is
    * penalized, not excused. Scale shape: one semi-join + count per method
    * — each is a broadcast of the query-set-sized ground truth, no
    * corpus-sized shuffle.
    */
  def annRecall(methods: Seq[(String, DataFrame)], exact: DataFrame, k: Int,
                minRecall: Double): DataFrame = {
    require(methods.nonEmpty, "at least one ANN method frame required")
    val gt = exact.select(col("qid"), col("nid"))
    val nRow = gt.agg(countDistinct(col("qid")).cast("long").as("n_q"))
    methods.map { case (name, ann) =>
      ann.select(col("qid"), col("nid"))
        .join(broadcast(gt), Seq("qid", "nid"), "left_semi")
        .agg(count(lit(1)).cast("long").as("hits"))
        .crossJoin(broadcast(nRow))
        .select(lit(name).as("method"), col("hits"),
          (lit(k.toLong) * col("n_q")).as("n"))
    }.reduce(_.unionByName(_))
      .withColumn("recall", col("hits").cast("double") / col("n"))
      .withColumn("recall_ok", col("recall") >= minRecall)
  }

  /** Per-query rank-quality metrics of an ANN method against exact ground
    * truth — the standard retrieval-eval triple beyond [[annRecall]]'s
    * set-overlap: hit count, MRR (reciprocal rank at which the TRUE
    * nearest neighbor surfaces) and binary-relevance DCG@k, with
    * relevance = membership in the exact top-k. Both inputs are
    * (qid, nid, rank) frames (the [[bruteForceTopK]]/[[lshTopK]] shape).
    *
    * Everything is integer fixed point, so the metrics hash-check across
    * engines: mrr_fp = 10^6 ÷ first-hit-rank (floor), and the DCG
    * discount is dg_fp(r) = 10^12 ÷ lnMicro(r+1) via [[graft.plans.LnFp]]
    * — ln instead of log2 rescales DCG and IDCG by the same constant, so
    * the derivable ratio ndcg = dcg_fp / idcg_fp is the textbook value
    * while every REPORTED column stays an exact integer (the sm9
    * discipline: no float ln, no float division in the contract).
    * idcg_fp (the all-hits discount sum, k terms) is a driver-side
    * constant from the same integer kernel — reported so consumers
    * normalize without recomputing the table.
    *
    * Scale shape: one skinny (qid, nid) equi-join between two k-rows-per-
    * query frames, then a per-qid aggregate — metric cost is O(queries·k),
    * independent of corpus size; the expensive parts (the ANN method and
    * the ground truth) are the caller's inputs, computed once and reused
    * across method comparisons.
    */
  def retrievalMetrics(approx: DataFrame, exact: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val idcgFp = (1 to k).map(r =>
      1000000000000L / graft.plans.LnFp.lnMicro(r + 1L, 1L)).sum
    val ex = exact.filter(col("rank") <= k)
      .select(col("qid"), col("nid"), col("rank").as("erank"))
    val ap = approx.filter(col("rank") <= k)
      .select(col("qid"), col("nid"), col("rank").as("arank"))
    val hits = ap.join(ex, Seq("qid", "nid"))
      .withColumn("lnm",
        graft.plans.LnFpFunctions.lnMicro(col("arank") + lit(1L), lit(1L)))
      .withColumn("dg_fp", expr("1000000000000 DIV lnm"))
    val perQ = hits.groupBy(col("qid")).agg(
      count(lit(1)).as("n_hits"),
      sum(col("dg_fp")).as("dcg_fp"),
      min(when(col("erank") === 1, col("arank"))).as("fr"))
    ex.select(col("qid")).distinct()
      .join(perQ, Seq("qid"), "left")
      .select(col("qid"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        coalesce(expr("1000000 DIV fr"), lit(0L)).as("mrr_fp"),
        coalesce(col("dcg_fp"), lit(0L)).as("dcg_fp"),
        lit(idcgFp).as("idcg_fp"))
  }

  /** Exact cosine re-rank of an ANN candidate shortlist — the refine stage
    * of a production ANN serve path (FAISS's IndexRefineFlat composition):
    * the compressed index (PQ/IVF-PQ) proposes `|shortlist|` candidates per
    * query cheaply, then only those rows are scored against FULL vectors
    * and the exact top-k wins. Recall becomes bounded by shortlist
    * membership (did the true neighbor survive ADC pruning into the top-R?)
    * instead of by code-space ranking — measured on the fixtures this lifts
    * IVF-PQ recall@5 from 0.43–0.65 (raw ADC at m=16, k=256) to 0.83–0.95
    * at R=25, and it is what keeps recall stable as the corpus grows while
    * index parameters stay fixed.
    *
    * Scale shape: `cands` is a SKINNY (qid, nid) frame — R rows per query,
    * no vectors — so the two vector-attach joins ship each full vector only
    * to the pairs that need it (the lshTopK candidate-verification
    * discipline), and the per-query window sorts R rows, not a corpus
    * partition. Re-rank cost is R exact dots per query: at 100 TB the ADC
    * scan still does the heavy pruning over m-byte codes; refine touches
    * R full vectors per query, independent of corpus size.
    */
  def exactRerank(cands: DataFrame, df: DataFrame, idCol: String,
                  vecCol: String, topK: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val v = prepared(df, idCol, vecCol)
    val scored = cands.select(col("qid"), col("nid"))
      .join(v.select(col("sid"), col("qv").as("qqv"), col("nrm").as("qnrm")),
        col("qid") === col("sid")).drop("sid")
      .join(v.select(col("sid"), col("qv").as("nqv"), col("nrm").as("nnrm")),
        col("nid") === col("sid")).drop("sid")
      .select(col("qid"), col("nid"),
        pairCosine(col("qqv"), col("nqv"), col("qnrm"), col("nnrm")).as("cosine"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("nid").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
  }

  /** IVF-PQ with exact refine: ADC proposes the top-`shortlistK` per query,
    * [[exactRerank]] returns the exact-cosine top-`topK` among them — the
    * recommended serve configuration of the PQ family (see [[exactRerank]]
    * for the recall math and scale shape).
    */
  def ivfPqRefineTopK(df: DataFrame, idCol: String, vecCol: String, dim: Int,
                      nCells: Int, nProbe: Int, m: Int, k: Int,
                      shortlistK: Int, topK: Int,
                      probeFilter: Column = lit(true)): DataFrame =
    exactRerank(
      ivfPqTopK(df, idCol, vecCol, dim, nCells, nProbe, m, k,
        topK = shortlistK, probeFilter = probeFilter),
      df, idCol, vecCol, topK)

  /** Residual IVF-PQ over Lloyd-trained cells with exact refine — the full
    * production ladder top: trained coarse quantizer, residual codes, ADC
    * shortlist, exact re-rank.
    */
  def ivfPqResidualRefineTopKTrained(df: DataFrame, idCol: String,
                                     vecCol: String, dim: Int, nCells: Int,
                                     updates: Int, nProbe: Int, m: Int,
                                     k: Int, shortlistK: Int, topK: Int,
                                     probeFilter: Column = lit(true)): DataFrame =
    exactRerank(
      ivfPqResidualTopKTrained(df, idCol, vecCol, dim, nCells, updates,
        nProbe, m, k, topK = shortlistK, probeFilter = probeFilter),
      df, idCol, vecCol, topK)

  /** All pairs with cosine >= threshold — brute-force O(n^2) baseline for
    * embedding near-dup detection (use `lshTopK`'s bucketing at scale).
    */
  def nearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                   threshold: Double): DataFrame = {
    val v = prepared(df, idCol, vecCol)
    v.as("a").join(v.as("b"), col("a.sid") < col("b.sid"))
      .select(col("a.sid").as("ida"), col("b.sid").as("idb"),
        pairCosine(col("a.qv"), col("b.qv"), col("a.nrm"), col("b.nrm")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** PAIRED cross-modal cosine gate (the LAION/CLIP-filter shape, Schuhmann
    * et al. 2021): two embedding tables sharing a pair id — image vs its
    * caption, audio vs its transcript — joined on the id, one cosine per
    * pair, keep iff cosine ≥ `minCosine` (LAION ships 0.28 for CLIP B/32).
    * The multimodal curation gate that made web-scale image-text corpora
    * usable: a low cosine means the caption does not describe the image.
    *
    * Zero-norm pairs get NULL cosine and keep=false (the d32 convention —
    * under ANSI a bare division would abort the job). Scale shape: one
    * equi-join on the pair id (both sides shuffle 8-byte keys + quantized
    * vectors once; no broadcast needed, no pairwise fan-out), cosine is
    * the exact-integer-dot / precomputed-norm house kernel — embarrassingly
    * parallel at any corpus size.
    */
  def pairedCosineFilter(left: DataFrame, right: DataFrame, idCol: String,
                         vecCol: String, minCosine: Double): DataFrame = {
    val l = prepared(left, idCol, vecCol)
      .select(col("sid"), col("qv").as("__lv"), col("nrm").as("__ln"))
    val r = prepared(right, idCol, vecCol)
      .select(col("sid"), col("qv").as("__rv"), col("nrm").as("__rn"))
    l.join(r, Seq("sid"))
      .select(col("sid"),
        pairCosine(col("__lv"), col("__rv"), col("__ln"), col("__rn"))
          .as("cosine"))
      .withColumn("keep", coalesce(col("cosine") >= minCosine, lit(false)))
  }

  /** EMBEDDING-SPACE drift between two corpus snapshots, per label: the
    * cosine between the two snapshots' label centroids — the monitoring
    * gate for embedding pipelines (a model/preprocessing change or a
    * source-mix shift moves centroids; cosine near 1 = stable). Centroid
    * sums are exact integers ([[graft.plans.VectorSumLong]], the e1
    * contract); each sum is arithmetic-shifted (floor, >> 10) so the
    * cross-centroid dot stays in Long range at any corpus size, and the
    * cosine is then the house integer-ratio double (deterministic IEEE —
    * the sqlCosine discipline). A label present in only one snapshot has
    * NULL cosine and always drifts.
    *
    * Scale shape: one map-side-combinable vector-sum aggregate per
    * snapshot (label-count rows out), then a label-equi full-outer join —
    * no per-vector pairwise work anywhere.
    */
  def centroidDrift(dfA: DataFrame, dfB: DataFrame, vecCol: String,
                    labelCol: String, minCosine: Double): DataFrame = {
    def cent(df: DataFrame, n: String, c: String): DataFrame =
      df.select(col(labelCol).cast("long").as("label"),
          quantize(col(vecCol)).as("qv"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as(n),
          graft.plans.VectorSumLong.vectorSum(col("qv")).as("sv"))
        .select(col("label"), col(n),
          transform(col("sv"), x => shiftright(x, 10)).as(c))
    cent(dfA, "n_a", "cva")
      .join(cent(dfB, "n_b", "cvb"), Seq("label"), "full_outer")
      .select(col("label"),
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"),
        cosineQ(col("cva"), col("cvb")).as("cosine_shift"))
      .withColumn("drift",
        col("cosine_shift").isNull || col("cosine_shift") < minCosine)
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication", arXiv:2303.09540):
    * semantic dedup by clustering embeddings with k-means and pruning
    * within-cluster near-duplicates — the step that removes paraphrases
    * and templated rewrites exact/minhash dedup can't see. Per cluster:
    * pairs with cosine >= `threshold` form duplicate groups (connected
    * components of the within-cell >=τ graph — order-free, where the
    * paper's greedy scan depends on iteration order); each group KEEPS
    * the member with the LOWEST cosine to its centroid (the paper's
    * "low similarity to centroid" keep rule — retain the hardest,
    * least-prototypical example), ties to the lowest id.
    *
    * Output, one row per input vector: (sid, cid, cosine [to centroid],
    * component [= own sid for non-duplicates], keep). Downstream filters
    * `keep` for the pruned corpus; `component` keys the d16-style
    * canonical-metadata merge.
    *
    * Scale shape: the quadratic pairwise work is confined WITHIN cells —
    * one shuffle on cid, then per-cell self-joins: candidate pairs ~
    * C·(N/C)² = N²/C, so with the autoCells discipline (C ≈ 4√N) the
    * pair count is N^1.5/4, the same exponent the paper's per-cluster GPU
    * scan pays. A hot cell is an AQE skew-join case; cap it by raising
    * nCells. Components run on the DUP PAIRS only — contamination-sized,
    * not corpus-sized.
    */
  def semDedup(df: DataFrame, idCol: String, vecCol: String, nCells: Int,
               rounds: Int, threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // nCells <= 0 auto-sizes like the index writers (s18 discipline): a
    // fixed small cell count would make the within-cell joins quadratic
    val cells = if (nCells > 0) nCells else autoCells(df.count())
    val v = prepared(df, idCol, vecCol)
    val asg = kmeansAssign(df, idCol, vecCol, cells, rounds)
    val m = v.join(asg.select(col("sid"), col("cid")), Seq("sid"))
    val pairs = m.as("a").join(m.as("b"),
        col("a.cid") === col("b.cid") && col("a.sid") < col("b.sid"))
      .filter(pairCosine(col("a.qv"), col("b.qv"),
        col("a.nrm"), col("b.nrm")) >= threshold)
      .select(col("a.sid").as("ida"), col("b.sid").as("idb"))
    val comp = graft.operators.Dedup.connectedComponents(pairs)
    val win = Window.partitionBy(col("component"))
      .orderBy(col("cosine").asc_nulls_first, col("sid").asc)
    val ranked = asg.join(comp, Seq("sid"))
      .withColumn("rn", row_number().over(win))
      .select(col("sid"), col("component"), col("rn"))
    asg.join(ranked, Seq("sid"), "left")
      .select(col("sid"), col("cid"), col("cosine"),
        coalesce(col("component"), col("sid")).as("component"),
        (col("rn").isNull || col("rn") === 1).as("keep"))
  }

  // ---- persisted semantic-dedup index (streaming SemDeDup) -----------------

  def semMembersTable(name: String): String = s"graft_sem_${name}_members"
  def semCentroidsTable(name: String): String = s"graft_sem_${name}_centroids"
  def semLabelsTable(name: String): String = s"graft_sem_${name}_labels"

  /** Within-cell candidate pairs at cosine >= threshold between two
    * (cid, sid, qv, nrm) frames — the [[semDedup]] pair stage against
    * arbitrary sides (in-memory or persisted members).
    */
  private def semCellPairs(a: DataFrame, b: DataFrame, threshold: Double,
                           strict: Boolean): DataFrame =
    a.as("a").join(b.as("b"), col("a.cid") === col("b.cid") &&
        (if (strict) col("a.sid") < col("b.sid")
         else col("a.sid") =!= col("b.sid")))
      .filter(pairCosine(col("a.qv"), col("b.qv"),
        col("a.nrm"), col("b.nrm")) >= threshold)
      .select(least(col("a.sid"), col("b.sid")).as("ida"),
        greatest(col("a.sid"), col("b.sid")).as("idb"))

  private def semAssign(df: DataFrame, idCol: String, vecCol: String,
                        centroids: DataFrame): DataFrame =
    assignTop(prepared(df, idCol, vecCol), packCells(centroids))
      .select(col("cid"), col("sid"), col("qv"))
      .withColumn("nrm", sqrt(dotLong(col("qv"), col("qv")).cast("double")))

  /** STREAMING SemDeDup, write side: [[semDedup]] made train-once/serve-
    * many. Persists (1) the FROZEN k-means centroids (trained on the seed
    * corpus — the [[graft.operators.AnnIndex]] frozen-training
    * discipline), (2) members (cid, sid, qv, nrm) PARTITIONED by
    * ingest_batch AND bucketed by cid (the ds2/ds3 exactly-once layout —
    * cell joins are exchange-free on the index side and a retried batch
    * replaces its own partition), (3) the duplicate-group labels table
    * seeded from the corpus's within-cell pairs. [[ingestSemBatch]] then
    * folds each arriving micro-batch in.
    */
  def writeSemIndex(df: DataFrame, idCol: String, vecCol: String,
                    nCells: Int, rounds: Int, threshold: Double,
                    name: String, nBuckets: Int): Unit = {
    val spark = df.sparkSession
    Seq(semMembersTable(name), semCentroidsTable(name), semLabelsTable(name))
      .foreach(graft.sources.Bucketing.ensureCleanTable(spark, _))
    val v = prepared(df, idCol, vecCol)
    val cells = if (nCells > 0) nCells else autoCells(v.count())
    kmeansCentroidsFrom(v, cells, rounds - 1)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .format("parquet").saveAsTable(semCentroidsTable(name))
    // members assigned against the PERSISTED centroids — storage is
    // authoritative, write and ingest share one assignment path
    val asg = graft.core.Storage.cut(
      semAssign(df, idCol, vecCol, spark.table(semCentroidsTable(name))),
      eager = true)
    graft.sources.Bucketing.writeBucketedPartitionedBy(
      asg.withColumn("ingest_batch", lit(-1L)),
      semMembersTable(name), "ingest_batch", Seq("cid"), nBuckets)
    val labels = graft.operators.Dedup.connectedComponents(
      semCellPairs(asg, asg, threshold, strict = true))
    labels.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .format("parquet").saveAsTable(semLabelsTable(name))
    // a write-side entry point frees its own leaves — callers (streams,
    // pipelines) have no freeingIntermediates wrapper around them
    graft.core.Storage.freeCheckpoint(labels)
    graft.core.Storage.freeCheckpoint(asg)
  }

  /** STREAMING SemDeDup, ingest side: assign the batch against the frozen
    * centroids, find its within-cell pairs vs the OTHER committed batches
    * (partition-pruned — a replayed batch never pairs against its own
    * prior copy) and within itself, fold them into the labels table
    * ([[graft.operators.Dedup.mergeComponentsTable]] — replay-idempotent),
    * then partition-replace the batch's member rows. Per-batch cost
    * follows the batch and its touched cells, never the corpus.
    */
  def ingestSemBatch(batch: DataFrame, batchId: Long, idCol: String,
                     vecCol: String, threshold: Double, name: String,
                     nBuckets: Int): Unit = {
    val spark = batch.sparkSession
    graft.sources.Bucketing.requireBucketCount(
      spark, semMembersTable(name), nBuckets)
    val asg = graft.core.Storage.cut(
      semAssign(batch, idCol, vecCol, spark.table(semCentroidsTable(name))),
      eager = true)
    val others = spark.table(semMembersTable(name))
      .filter(col("ingest_batch") =!= batchId)
      .select(col("cid"), col("sid"), col("qv"), col("nrm"))
    val pairs = semCellPairs(asg, asg, threshold, strict = true)
      .unionByName(semCellPairs(asg, others, threshold, strict = false))
      .distinct()
    graft.operators.Dedup.mergeComponentsTable(
      spark, semLabelsTable(name), pairs)
    graft.sources.Bucketing.overwriteBucketedPartition(
      asg, semMembersTable(name), "ingest_batch", batchId, Seq("cid"),
      nBuckets)
    // per-micro-batch entry point: free the batch's assignment leaf, or a
    // long-running stream accumulates one per batch in executor storage
    graft.core.Storage.freeCheckpoint(asg)
  }

  // ---- SQ8 scalar quantization ---------------------------------------------

  /** SQ8 codebook: per-dimension [lo, hi] over the corpus, packed into ONE
    * broadcastable row of two arrays. This is the whole training state of
    * scalar quantization — 2 doubles per dimension — computed with a
    * posexplode + min/max aggregate and a dimension-sized collect (the same
    * dimension-sized-driver-data posture as IVF centroids). At 100 TB the
    * codebook costs one map-side-combinable pass and compresses float
    * vectors 4x (codes are 0..255), which is why SQ8 is the standard first
    * rung of ANN memory reduction.
    */
  def sq8Train(df: DataFrame, vecCol: String): DataFrame =
    df.select(posexplode(col(vecCol)).as(Seq("pos", "x")))
      .groupBy(col("pos"))
      .agg(min(col("x").cast("double")).as("lo"), max(col("x").cast("double")).as("hi"))
      .agg(sort_array(collect_list(struct(col("pos"), col("lo"), col("hi")))).as("d"))
      .select(transform(col("d"), e => e("lo")).as("lo"),
        transform(col("d"), e => e("hi")).as("hi"))

  /** Quantize a vector against the codebook arrays: code_i = round((x_i -
    * lo_i) * 255 / (hi_i - lo_i)), a constant dimension collapsing to code
    * 0. Codes are array<long> so the exact-integer native dot kernel
    * ([[idot]]) applies to them unchanged.
    */
  def sq8Codes(vec: Column, lo: Column, hi: Column): Column =
    // one codegen'd pass (round 19): the transform form evaluated its
    // lambda INTERPRETED per element with two boxed element_at codebook
    // lookups each, over every candidate vector in the encode scan —
    // graft.plans.Sq8CodesLong is the identical arithmetic (Spark ROUND
    // HALF_UP, constant-dimension and NULL elements to code 0, ANSI
    // out-of-bounds abort; PropertySpec pins kernel == transform)
    graft.plans.Sq8CodesLong.sq8Codes(vec, lo, hi)

  /** Brute-force top-k in SQ8 code space by exact integer squared L2
    * distance, via the dot identity ||a-b||^2 = a.a + b.b - 2a.b — three
    * native-kernel dots, the self-dots precomputed per vector. Same
    * broadcast-queries/stream-candidates shape as [[bruteForceTopK]]; the
    * candidate side reads 64 bytes of codes per vector instead of 256 bytes
    * of floats, which at 100 TB is the difference between an in-memory and
    * a spilling scan. Ranking quality vs float cosine degrades only as far
    * as the per-dimension range is abused by outliers.
    */
  def sq8TopK(queries: DataFrame, candidates: DataFrame, idCol: String,
              vecCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cb = sq8Train(candidates, vecCol)
    def coded(df: DataFrame, idAs: String, cAs: String, nAs: String): DataFrame =
      df.crossJoin(broadcast(cb))
        .select(col(idCol).as(idAs),
          sq8Codes(col(vecCol), col("lo"), col("hi")).as(cAs))
        .withColumn(nAs, idot(col(cAs), col(cAs)))
    val q = coded(queries, "qid", "qc", "qn")
    val c = coded(candidates, "nid", "nc", "nn")
    val scored = c.crossJoin(broadcast(q))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        (col("qn") + col("nn") - lit(2L) * idot(col("qc"), col("nc"))).as("d2"))
    val w = Window.partitionBy(col("qid")).orderBy(col("d2").asc, col("nid").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  // ---- PQ (product quantization) ------------------------------------------

  /** PQ codebook: split the dim-D quantized vector space into `m` subspaces
    * of D/m dims; per subspace the codebook is the `k` lowest-id vectors'
    * subvectors (training-free deterministic seeds, the same reproducible
    * posture as IVF's seedCentroids — swap in per-subspace k-means for real
    * workloads without touching the encode/search path). Packed into ONE
    * broadcastable row: `cb[m][k] = array<long>` subvector.
    *
    * Scale math: PQ codes are m bytes per vector (k <= 256) vs 4·D float
    * bytes — 32x compression at D=64/m=8, the rung above SQ8's 4x. At
    * 100 TB of embeddings that is the difference between an index that fits
    * in cluster memory and one that doesn't; the codebook itself is
    * m·k·(D/m) longs — KBs, broadcast-free to every task.
    */
  def pqTrain(df: DataFrame, idCol: String, vecCol: String, dim: Int, m: Int,
              k: Int): DataFrame = {
    require(m > 0 && dim % m == 0,
      s"m must divide dim: dim=$dim, m=$m (a remainder would silently drop the tail dims)")
    val v = prepared(df, idCol, vecCol)
    v.orderBy(col("sid")).limit(k)
      .agg(array_sort(collect_list(struct(col("sid"), col("qv")))).as("seeds"))
      .select(transform(sequence(lit(0), lit(m - 1)), mm =>
        transform(col("seeds"), s =>
          slice(s("qv"), mm * (dim / m) + 1, lit(dim / m)))).as("cb"))
  }

  /** Exact integer squared L2 between two quantized subvectors, via the dot
    * identity and the native codegen'd kernel (three dots, no explode).
    */
  private def subD2(a: Column, b: Column): Column =
    idot(a, a) + idot(b, b) - lit(2L) * idot(a, b)

  /** PQ codebook TRAINED by per-subspace Lloyd rounds — the k-means upgrade
    * the [[pqTrain]] Scaladoc promises, producing the same one-row cb frame
    * so [[pqTopKWith]] and the IVF-PQ composition consume it unchanged.
    *
    * Exactness through training: centroids are kept as INTEGER vectors —
    * each update computes the exact integer per-dimension sum and count
    * (map-side-combinable), then rounds sum/n back to an integer
    * (`round(exact_int / exact_int)` is one deterministic double division
    * both engines evaluate identically, and both round half away from
    * zero). Codes are POSITIONS in the current codebook array, so when a
    * cell empties out (standard Lloyd) the book densifies and the next
    * round's argmin re-ranks against the packed array — the oracle mirrors
    * the densification with a ROW_NUMBER.
    *
    * Scale shape per round: assignment is per-row array algebra against the
    * broadcast codebook (NO shuffle of the corpus); the update is one
    * (m, code)-keyed vector-sum aggregate — m x k groups, dimension-sized.
    * updates = 0 returns the seeded book.
    */
  def pqTrainKmeans(df: DataFrame, idCol: String, vecCol: String, dim: Int,
                    m: Int, k: Int, updates: Int): DataFrame = {
    require(m > 0 && dim % m == 0,
      s"m must divide dim: dim=$dim, m=$m (a remainder would silently drop the tail dims)")
    val sub = dim / m
    val v = prepared(df, idCol, vecCol)
    // (sid, mm, sv): every vector's m subvectors
    val subvecs = v.select(col("sid"),
      explode(transform(sequence(lit(0), lit(m - 1)), mm =>
        struct(mm.as("mm"), slice(col("qv"), mm * sub + 1, lit(sub)).as("sv"))))
        .as("e"))
      .select(col("sid"), col("e.mm").as("mm"), col("e.sv").as("sv"))
    var cb = pqTrain(df, idCol, vecCol, dim, m, k)
    for (_ <- 1 to updates) {
      // assign each subvector its argmin-d2 code position in the current book
      val assigned = subvecs.crossJoin(broadcast(cb))
        .select(col("mm"), col("sv"),
          array_min(transform(element_at(col("cb"), col("mm") + 1), (c, kk) =>
            struct(subD2(col("sv"), c).as("d2"), kk.cast("long").as("k"))))("k")
            .as("code"))
      // exact integer sums + counts per (subspace, code); empty codes drop
      val cents = assigned.groupBy(col("mm"), col("code"))
        .agg(graft.plans.VectorSumLong.vectorSum(col("sv")).as("ssum"),
          count(lit(1)).as("n"))
        .select(col("mm"), col("code"),
          transform(col("ssum"), x =>
            round(x.cast("double") / col("n")).cast("long")).as("cv"))
      // densify codes (drop gaps) and re-pack the one-row cb[m][k'] frame
      cb = cents
        .groupBy(col("mm"))
        .agg(array_sort(collect_list(struct(col("code"), col("cv")))).as("entries"))
        .agg(array_sort(collect_list(
          struct(col("mm"), transform(col("entries"), e => e("cv")).as("cvs")))).as("rows"))
        .select(transform(col("rows"), r => r("cvs")).as("cb"))
    }
    cb
  }

  /** PQ-encode a quantized vector against the codebook: per subspace the
    * argmin-d2 code (ties -> lowest code), as `array<long>` of length m.
    * Pure per-row array algebra against the broadcast codebook row — NO
    * shuffle. Encoding scans the whole codebook per row (m x k subvector
    * distances), so it runs as ONE native kernel call
    * (graft.plans.PqEncodeLong) — the interpreted `array_min(transform(...))`
    * argmin paid a lambda dispatch + slice + struct allocation per
    * (row, subspace, entry), ~8M of them at N=2000/m=16/k=256. Same exact
    * integers and lowest-code tie break, so oracles hash-match unchanged.
    */
  def pqCodes(vec: Column, cb: Column, dim: Int, m: Int): Column =
    graft.plans.GraftFunctions.pqEncode(vec, cb)

  /** Per-query ADC lookup table: `lut[mm][kk] = d2(query_sub_mm, cb[mm][kk])`
    * — m·k native-kernel dots, computed once per query row.
    *
    * LUT rows are m x k longs (32 KB at m=16, k=256): use this ONLY where
    * the query side is broadcast-small (the external-query serve shapes).
    * In the self-search plans every corpus row is a query, and carrying
    * LUTs through the per-cell shuffle join multiplied exchange bytes by
    * k/…— measured 10 MB -> 292 MB and 5.5 s -> 71 s at sf0.1 when k went
    * 16 -> 256 — so those plans score pairs DIRECTLY ([[adcDirect]]).
    */
  private[operators] def pqLut(vec: Column, cb: Column, dim: Int, m: Int): Column =
    // one codegen'd kernel per query row (round 19) — the former nested
    // transform pair evaluated interpreted per (query, subspace, entry)
    // with a fresh slice array each; same exact integers, same mismatch
    // throw (PqLutLong doc)
    graft.plans.PqLutLong.pqLut(vec, cb, dim, m)

  /** Per-PAIR ADC distance straight from the query vector, the candidate's
    * m codes, and the BROADCAST codebook — the self-search scoring form:
    * the probe side ships only its dim-long vector (512 B at dim=64)
    * through the per-cell shuffle instead of an m x k LUT, so exchange
    * bytes scale with dim, not with codebook size. Per pair it costs
    * dim multiply-adds inside ONE native kernel call
    * (graft.plans.PqAdcDirectLong) — the interpreted
    * `aggregate(zip_with(...))` + slice form paid a lambda dispatch and an
    * intermediate array per (pair, subspace), which at m=16/k=256 over ~1M
    * probe pairs was 30x the whole plan (round-10 bench). Identical exact
    * integers (the dot identity a.a + b.b - 2a.b IS sum (a-b)^2), so every
    * oracle hash-matches unchanged.
    */
  private def adcDirect(qv: Column, codes: Column, cb: Column, dim: Int,
                        m: Int): Column =
    graft.plans.GraftFunctions.pqAdcDirect(qv, codes, cb)

  /** PQ-ADC top-k: candidates are searched IN CODE SPACE (m bytes each),
    * queries stay unquantized on their side of the asymmetry. Per query a
    * distance lookup table `lut[m][k] = d2(query_sub_m, cb[m][k])` is
    * computed ONCE (m·k native-kernel dots, query set is small by
    * contract), then each candidate costs m table lookups — the classic
    * asymmetric-distance trick that makes PQ search memory-bound instead of
    * FLOP-bound. Same broadcast-queries / stream-candidates shape as
    * [[bruteForceTopK]]: the big side is read once, never shuffled, and
    * carries only its m-long code array into the scoring loop.
    *
    * All arithmetic is exact integers (quantized longs end-to-end), so a
    * SQL oracle reproduces every distance and rank bit-for-bit.
    */
  def pqTopK(queries: DataFrame, candidates: DataFrame, idCol: String,
             vecCol: String, dim: Int, m: Int, k: Int, topK: Int): DataFrame =
    pqTopKWith(pqTrain(candidates, idCol, vecCol, dim, m, k),
      queries, candidates, idCol, vecCol, dim, m, topK)

  /** PQ-ADC top-k against an already-trained codebook row — the production
    * shape: train once, persist the one-row codebook, search many. The
    * self-training [[pqTopK]] convenience re-derives the codebook subplan
    * under each side's broadcast, which re-scans the corpus at scale; a
    * persisted codebook makes the search path exactly two scans (candidates
    * once, queries once).
    */
  def pqTopKWith(cb: DataFrame, queries: DataFrame, candidates: DataFrame,
                 idCol: String, vecCol: String, dim: Int, m: Int,
                 topK: Int): DataFrame = {
    require(m > 0 && dim % m == 0,
      s"m must divide dim: dim=$dim, m=$m (a remainder would silently drop the tail dims)")
    import org.apache.spark.sql.expressions.Window
    val c = prepared(candidates, idCol, vecCol)
      .crossJoin(broadcast(cb))
      .select(col("sid").as("nid"), pqCodes(col("qv"), col("cb"), dim, m).as("codes"))
    val q = prepared(queries, idCol, vecCol)
      .crossJoin(broadcast(cb))
      .select(col("sid").as("qid"), pqLut(col("qv"), col("cb"), dim, m).as("lut"))
    // the per-pair distance is the native graft_pq_adc kernel: m primitive
    // lookups inside whole-stage codegen — the interpreted
    // aggregate(zip_with(...)) form costs a lambda dispatch and an
    // intermediate array per (query, candidate) pair
    val scored = c.crossJoin(broadcast(q))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        graft.plans.GraftFunctions.pqAdc(col("codes"), col("lut")).as("d2"))
    val w = Window.partitionBy(col("qid")).orderBy(col("d2").asc, col("nid").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
  }

  // ---- IVF (inverted-file) ANN --------------------------------------------

  /** FAISS-discipline index sizing: nCells ~ 4*sqrt(N), nProbe ~ nCells/16.
    *
    * The candidate math that makes this load-bearing: a query scans
    * N * nProbe / nCells candidates (uniform occupancy), so FIXED nCells is
    * a scale-killer — at nCells = 16, nProbe = 4 every query scans N/4 of
    * the corpus and self-search is O(N^2/4), an "index" that prunes almost
    * nothing at 100x the corpus. With nCells = 4*sqrt(N) the per-query scan
    * is nProbe*sqrt(N)/4 and self-search is O(nProbe * N^1.5 / 4) — the
    * assignment cost per row, O(nCells * dim), grows only as sqrt(N)
    * (SimilaritySpec's o(N^2) guard pins this). The oracle FIXTURES keep
    * small fixed cells (nCells = 16 at N = 500/2000) because the DuckDB
    * twin re-derives the index relationally; production call sites should
    * size from the corpus: `val (c, p) = Similarity.indexParams(df.count())`.
    *
    * Bounds: >= 16 cells so tiny corpora still bucket; <= 2^18 cells keeps
    * the broadcast centroid row (nCells * dim longs) under ~134 MB at
    * dim = 64 — past that, shard the coarse quantizer before raising the cap.
    * nProbe >= 4 keeps recall off the floor at small nCells.
    */
  def autoCells(n: Long): Int =
    math.max(16, math.min(1 << 18, math.round(4.0 * math.sqrt(n.toDouble)).toInt))

  def autoProbe(nCells: Int): Int = math.max(4, nCells / 16)

  /** (nCells, nProbe) for a corpus of `n` vectors — see [[autoCells]]. */
  def indexParams(n: Long): (Int, Int) = {
    val c = autoCells(n)
    (c, autoProbe(c))
  }

  /** Probe-join candidate volume of a seeded self-search at the given index
    * parameters: sum over cells of probes(cell) x occupancy(cell) — the
    * exact row count of the scoring join before top-k. Diagnostic for index
    * sizing (the o(N^2) guard in SimilaritySpec asserts autoCells keeps
    * this subquadratic); costs one pass over the corpus, no pair join.
    */
  private[operators] def selfSearchCandidateCount(df: DataFrame, idCol: String,
                                                  vecCol: String, nCells: Int,
                                                  nProbe: Int): Long = {
    val v = prepared(df, idCol, vecCol)
    val ranked = rankCells(v, seedCentroids(v, nCells))
    val occ = ranked.select(
        coalesce(element_at(col("cellrank"), 1)("cid"), lit(Long.MinValue)).as("cid"))
      .groupBy(col("cid")).agg(count(lit(1)).as("occ"))
    val probes = ranked.select(
        explode(transform(slice(col("cellrank"), 1, nProbe), c => c("cid"))).as("cid"))
      .groupBy(col("cid")).agg(count(lit(1)).as("np"))
    occ.join(probes, Seq("cid"))
      .agg(coalesce(sum(col("occ") * col("np")), lit(0L))).head().getLong(0)
  }

  /** Seed centroids: the `nCells` lowest-id vectors, packed into ONE row as
    * an array of (cid, cv, cnrm) structs for broadcasting.
    */
  private[operators] def seedCentroids(v: DataFrame, nCells: Int): DataFrame =
    v.orderBy(col("sid")).limit(nCells)
      .agg(collect_list(struct(col("sid").as("cid"), col("qv").as("cv"),
        col("nrm").as("cnrm"))).as("cells"))

  /** Pack an unpacked (cid, cv, cnrm) centroid frame into the one-row
    * broadcast form `rankCells` consumes.
    */
  private[operators] def packCells(centroids: DataFrame): DataFrame =
    centroids.agg(collect_list(struct(col("cid"), col("cv"), col("cnrm"))).as("cells"))

  /** (sid, qv, nrm, cellrank): every vector with its cells sorted by
    * (cosine desc, cid asc) — per-row array algebra against the single
    * broadcast centroid row, NO shuffle. NegativeInfinity stands in for NULL
    * cosine (zero-norm vectors): both sort after every real cosine (>= -1)
    * with ties broken by cid, exactly the window's NULLS LAST ordering the
    * oracle mirrors.
    */
  private[operators] def rankCells(v: DataFrame, centroidRow: DataFrame): DataFrame =
    // one codegen'd kernel per row (round 19) — the former
    // array_sort(transform(...), cmp) pair evaluated BOTH lambdas
    // interpreted on every (row, cell): this runs per corpus row in cell
    // assignment and per query in every probe, the ANN family's inner loop
    v.crossJoin(broadcast(centroidRow))
      .select(col("sid"), col("qv"), col("nrm"),
        graft.plans.RankCellsLong.rankCells(col("qv"), col("nrm"),
          col("cells")).as("cellrank"))

  /** IVF-flat ANN: partition vectors into `nCells` cells around centroid
    * vectors; a query probes its `nProbe` closest cells and ranks only their
    * members. Centroids here are deterministic data samples (the lowest ids)
    * rather than k-means output — the index-build trade is recall for a
    * training-free, reproducible build; swap in Lloyd iterations for real
    * workloads without touching the probe path.
    *
    * Scale shape: all centroids ride in ONE broadcast row as an array of
    * structs, so cell assignment is per-row array algebra — score every cell,
    * `array_sort` by (cosine desc, cid asc) — with NO shuffle. (The
    * relational alternative, cross-join + row_number window, exchanges and
    * sorts n x nCells rows just to rank each row's private cell list — at
    * corpus scale that shuffle dwarfs the one the candidate join actually
    * needs.) The candidate join is keyed by cell id, so work scales with
    * cell occupancy, not n^2. Assignment cost is O(nCells x dim) per row
    * either way — inherent to IVF probing.
    *
    * `probeFilter` restricts which corpus rows act as QUERIES (a predicate
    * over `qid`) without touching the index side — the answer for the kept
    * qids is bit-identical to filtering the full self-search afterwards
    * (the rank window partitions by qid), but the scoring join only carries
    * the kept probes. This is the self-search form of an external query
    * set: at 100 TB "re-rank these 1k docs against the corpus index" must
    * not pay a corpus x corpus probe join just to discard it afterwards.
    */
  def ivfTopK(df: DataFrame, idCol: String, vecCol: String, nCells: Int,
              nProbe: Int, k: Int, probeFilter: Column = lit(true)): DataFrame = {
    val v = prepared(df, idCol, vecCol)
    probeTopK(v, seedCentroids(v, nCells), nProbe, k, probeFilter)
  }

  /** IVF ANN over a TRAINED index: `updates` Lloyd rounds refine the seed
    * centroids (kmeansCentroids), then the same probe path answers queries —
    * the train -> index -> query composition of a production ANN build.
    * Better-centered cells raise recall at the same nProbe.
    */
  def ivfTopKTrained(df: DataFrame, idCol: String, vecCol: String, nCells: Int,
                     updates: Int, nProbe: Int, k: Int,
                     probeFilter: Column = lit(true)): DataFrame = {
    val v = prepared(df, idCol, vecCol)
    probeTopK(v, packCells(kmeansCentroidsFrom(v, nCells, updates)), nProbe, k,
      probeFilter)
  }

  /** IVF ANN for an EXTERNAL query set: index `candidates` once (cells from
    * its own lowest-id seeds, optionally Lloyd-refined), then answer top-k
    * for every row of `queries` — the production search shape, where the
    * query vectors are new data, not corpus members. Same scale posture:
    * assignment and probing are shuffle-free array algebra; the only keyed
    * join is per cell id. No self-exclusion filter — an external query is
    * never its own candidate.
    */
  def ivfSearch(queries: DataFrame, candidates: DataFrame, idCol: String,
                vecCol: String, nCells: Int, updates: Int, nProbe: Int,
                k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cv = prepared(candidates, idCol, vecCol)
    val qv = prepared(queries, idCol, vecCol)
    val centroidRow = packCells(kmeansCentroidsFrom(cv, nCells, updates))
    val members = rankCells(cv, centroidRow)
      .select(coalesce(element_at(col("cellrank"), 1)("cid"), lit(Long.MinValue)).as("cid"),
        col("sid").as("nid"), col("qv").as("nqv"), col("nrm").as("nnrm"))
    val probes = rankCells(qv, centroidRow)
      .select(col("sid").as("qid"), col("qv").as("qqv"), col("nrm").as("qnrm"),
        explode(transform(slice(col("cellrank"), 1, nProbe), c => c("cid"))).as("cid"))
    val scored = probes.join(members, Seq("cid"))
      .select(col("qid"), col("nid"),
        pairCosine(col("qqv"), col("nqv"), col("qnrm"), col("nnrm")).as("cosine"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("nid").asc)
    scored.withColumn("rank", row_number().over(w).cast("long")).filter(col("rank") <= k)
  }

  /** IVF RANGE search — FAISS `range_search` parity, the ANN API the top-k
    * ladder lacks: return EVERY candidate with cosine >= `minCosine` for
    * each query, not a fixed k. The serve shape for radius workloads
    * (duplicate sweeps at a similarity bar, "all docs at least this close"
    * retrieval) where k is unknowable a priori: result size is data-driven,
    * so a top-k would either truncate or over-fetch.
    *
    * Same index and probe path as [[ivfSearch]] (seeded or Lloyd-trained
    * cells, broadcast centroid row, per-cell keyed join) — but NO rank
    * window at all: the threshold filters the scoring join directly, so
    * the only post-join work is a codegen'd comparison, and the plan has
    * one exchange (the cell-keyed join), no per-query sort. Recall caveat
    * is IVF's: matches in unprobed cells are missed; raise nProbe to trade
    * cost for recall (the s16 discipline applies unchanged).
    *
    * Self-id pairs are excluded (the [[bruteForceTopK]] convention, so
    * corpus-subset query frames don't return themselves); pass disjoint id
    * spaces for true external queries.
    */
  def ivfRangeSearch(queries: DataFrame, candidates: DataFrame, idCol: String,
                     vecCol: String, nCells: Int, updates: Int, nProbe: Int,
                     minCosine: Double): DataFrame = {
    val cv = prepared(candidates, idCol, vecCol)
    val qv = prepared(queries, idCol, vecCol)
    val centroidRow =
      if (updates == 0) seedCentroids(cv, nCells)
      else packCells(kmeansCentroidsFrom(cv, nCells, updates))
    val members = rankCells(cv, centroidRow)
      .select(coalesce(element_at(col("cellrank"), 1)("cid"), lit(Long.MinValue)).as("cid"),
        col("sid").as("nid"), col("qv").as("nqv"), col("nrm").as("nnrm"))
    val probes = rankCells(qv, centroidRow)
      .select(col("sid").as("qid"), col("qv").as("qqv"), col("nrm").as("qnrm"),
        explode(transform(slice(col("cellrank"), 1, nProbe), c => c("cid"))).as("cid"))
    probes.join(members, Seq("cid"))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        pairCosine(col("qqv"), col("nqv"), col("qnrm"), col("nnrm")).as("cosine"))
      .filter(col("cosine") >= minCosine)
  }

  /** IVF-PQ ANN — the production composition at the top of the ladder:
    * the IVF coarse quantizer prunes the candidate set to `nProbe` cells,
    * and within cells candidates are ranked by PQ asymmetric distance over
    * their m-code arrays instead of full vectors. At 100 TB this is the
    * standard shape (FAISS's IVFPQ): the index holds m bytes + a cell id
    * per vector (32x+ compression), queries touch nProbe/nCells of it, and
    * the per-candidate cost is m table lookups (the native graft_pq_adc
    * kernel). Codes here are global-codebook (no per-cell residual
    * encoding) — residual PQ buys recall at the same cost but needs
    * per-cell codebooks; the probe/search path would not change.
    *
    * Scale shape: cell assignment and PQ encoding are per-row array algebra
    * against two broadcast one-row frames (NO shuffle of the corpus); the
    * only keyed join is per cell id, so work scales with probed-cell
    * occupancy. All arithmetic stays exact integers end-to-end.
    */
  def ivfPqTopK(df: DataFrame, idCol: String, vecCol: String, dim: Int,
                nCells: Int, nProbe: Int, m: Int, k: Int, topK: Int,
                probeFilter: Column = lit(true)): DataFrame =
    ivfPqTopKTrained(df, idCol, vecCol, dim, nCells, updates = 0, nProbe, m, k,
      topK, probeFilter)

  /** IVF-PQ with a TRAINED coarse quantizer: `updates` Lloyd rounds refine
    * the seed centroids before cell assignment (updates = 0 degrades to the
    * seeded build). On real clustered embeddings the trained cells are what
    * keep occupancy balanced — hash-seeded cells skew on clustered data,
    * making the per-cell candidate join a straggler and costing recall at a
    * fixed nProbe. Training cost is `updates` linear passes (the kmeans
    * machinery: broadcast assignment + one vector-sum aggregate per round);
    * the probe path is unchanged.
    */
  def ivfPqTopKTrained(df: DataFrame, idCol: String, vecCol: String, dim: Int,
                       nCells: Int, updates: Int, nProbe: Int, m: Int, k: Int,
                       topK: Int, probeFilter: Column = lit(true)): DataFrame =
    // Storage.cut pins the shared index state: `ranked` feeds BOTH the
    // member and the probe branch of the self-join, and without a
    // materialization each branch re-runs the scan + cell ranking
    // (self-join subplans are not exchange-reused); the codebook likewise
    // anchors two broadcast subtrees. The final top-k is tiny; cutting it
    // lets the wrapper free the corpus-sized intermediates on exit — the
    // dedup-operator pattern.
    graft.core.Storage.freeingIntermediates(df.sparkSession) {
      graft.core.Storage.cut(
        ivfPqPlan(df, idCol, vecCol, dim, nCells, updates, nProbe, m, k, topK,
          graft.core.Storage.cut(_), probeFilter))
    }

  /** The IVF-PQ plan with index pinning as a seam: production passes
    * Storage.cut; plan-shape tests pass identity to inspect the full lazy
    * join structure.
    */
  private[operators] def ivfPqPlan(df: DataFrame, idCol: String, vecCol: String,
                                   dim: Int, nCells: Int, updates: Int,
                                   nProbe: Int, m: Int, k: Int, topK: Int,
                                   pin: DataFrame => DataFrame,
                                   probeFilter: Column = lit(true)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val v = prepared(df, idCol, vecCol)
    val centroidRow =
      if (updates == 0) seedCentroids(v, nCells)
      else packCells(kmeansCentroidsFrom(v, nCells, updates))
    val ranked = pin(rankCells(v, centroidRow))
    val cb = pin(pqTrain(df, idCol, vecCol, dim, m, k))
    // repartition-by-cell is load-bearing twice over: (1) it is the
    // production index layout (codes co-located by coarse cell, so the
    // probe join is per-cell); (2) the exchange MATERIALIZES the encode
    // projection exactly once per member. Without a barrier, whole-stage
    // codegen defers non-join-key streamed columns into the hash-join match
    // loop, re-running the m x k argmin encode once per (probe, member)
    // PAIR — measured 94 s vs 3 s at sf0.1 when the planner streamed the
    // member side (it picks sides from size estimates, so the blowup was
    // config-dependent: appeared at a 64 MB broadcast threshold, not 10 MB).
    val members = ranked.crossJoin(broadcast(cb)).select(
      coalesce(element_at(col("cellrank"), 1)("cid"), lit(Long.MinValue)).as("cid"),
      col("sid").as("nid"), pqCodes(col("qv"), col("cb"), dim, m).as("codes"))
      .repartition(col("cid"))
    // self-search: every corpus row is a query, so probes carry the RAW
    // vector (dim longs) through the per-cell shuffle and pairs score via
    // the broadcast codebook — see adcDirect for why not a LUT here
    val probes = ranked.select(
      col("sid").as("qid"), col("qv").as("qqv"),
      explode(transform(slice(col("cellrank"), 1, nProbe), c => c("cid"))).as("cid"))
      .filter(probeFilter)
    val scored = probes.join(members, Seq("cid"))
      .filter(col("qid") =!= col("nid"))
      .crossJoin(broadcast(cb))
      .select(col("qid"), col("nid"),
        adcDirect(col("qqv"), col("codes"), col("cb"), dim, m).as("d2"))
    val w = Window.partitionBy(col("qid")).orderBy(col("d2").asc, col("nid").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
  }

  /** IVF-PQ for an EXTERNAL query set — the serve-time shape: index
    * `candidates` once (Lloyd-trained coarse cells + Lloyd-trained PQ
    * codebook when `updates` > 0), then answer top-k for new query vectors
    * that are not corpus members. Composes [[ivfSearch]]'s external-query
    * split with the PQ-ADC ranking: members carry m-byte codes, probes
    * carry per-query LUTs, the only keyed join is per cell id, and no
    * self-exclusion is needed. All arithmetic stays exact integers.
    */
  def ivfPqSearch(queries: DataFrame, candidates: DataFrame, idCol: String,
                  vecCol: String, dim: Int, nCells: Int, updates: Int,
                  nProbe: Int, m: Int, k: Int, topK: Int): DataFrame =
   graft.core.Storage.freeingIntermediates(queries.sparkSession) {
    import org.apache.spark.sql.expressions.Window
    val cut = graft.core.Storage.cut(_: DataFrame)
    val cv = prepared(candidates, idCol, vecCol)
    val qv = prepared(queries, idCol, vecCol)
    val centroidRow = cut(
      if (updates == 0) seedCentroids(cv, nCells)
      else packCells(kmeansCentroidsFrom(cv, nCells, updates)))
    val cb = cut(
      if (updates == 0) pqTrain(candidates, idCol, vecCol, dim, m, k)
      else pqTrainKmeans(candidates, idCol, vecCol, dim, m, k, updates))
    // repartition-by-cell: index layout + an exchange barrier that pins the
    // encode to once per member (see ivfPqPlan)
    val members = rankCells(cv, centroidRow).crossJoin(broadcast(cb)).select(
      coalesce(element_at(col("cellrank"), 1)("cid"), lit(Long.MinValue)).as("cid"),
      col("sid").as("nid"), pqCodes(col("qv"), col("cb"), dim, m).as("codes"))
      .repartition(col("cid"))
    val probes = rankCells(qv, centroidRow).crossJoin(broadcast(cb)).select(
      col("sid").as("qid"), pqLut(col("qv"), col("cb"), dim, m).as("lut"),
      explode(transform(slice(col("cellrank"), 1, nProbe), c => c("cid"))).as("cid"))
    val scored = probes.join(members, Seq("cid"))
      .select(col("qid"), col("nid"),
        graft.plans.GraftFunctions.pqAdc(col("codes"), col("lut")).as("d2"))
    val w = Window.partitionBy(col("qid")).orderBy(col("d2").asc, col("nid").asc)
    cut(scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK))
   }

  /** RESIDUAL IVF-PQ: PQ codes encode each vector's RESIDUAL to its
    * assigned cell centroid instead of the vector itself — the FAISS
    * `IVFPQ` encode_residual variant of [[ivfPqTopK]]'s global codes. The
    * ADC distance approximates ||q_res - n_res|| = ||q - n|| (the shared
    * centroid cancels), so when cells approximate CLUSTER CENTERS the
    * residuals are small and the same m-byte budget quantizes much finer —
    * measured in SimilaritySpec: on cluster-aligned cells residual recall
    * beats global, while on UNclustered data the residual can exceed the
    * vector itself and global codes win (measured 0.12 vs 0.06 on the
    * uniform fixture). Use this with trained/cluster-aligned cells; it is
    * not a free upgrade on arbitrary data.
    *
    * Cells are the seeded coarse quantizer, so every centroid IS a corpus
    * vector and the whole computation stays exact integers (a trained
    * variant needs rounded-mean integer centroids — the pqTrainKmeans
    * rounding discipline — without changing this search path). The query
    * side computes ONE residual per probed cell (its residual differs per
    * cell): nProbe dim-long residuals per query, the documented
    * residual-PQ serve cost.
    *
    * Scale shape: identical to [[ivfPqTopK]] — assignment and encoding are
    * broadcast array algebra, the only keyed join is per cell id.
    */
  def ivfPqResidualTopK(df: DataFrame, idCol: String, vecCol: String,
                        dim: Int, nCells: Int, nProbe: Int, m: Int, k: Int,
                        topK: Int, probeFilter: Column = lit(true)): DataFrame =
   graft.core.Storage.freeingIntermediates(df.sparkSession) {
    val v = prepared(df, idCol, vecCol)
    ivfPqResidualPlan(v, v, selfExclude = true, dim, nCells, nProbe, m, k, topK,
      probeFilter = probeFilter)
   }

  /** RESIDUAL IVF-PQ for an EXTERNAL query set — the serve-time production
    * shape (FAISS `IndexIVFPQ` with `encode_residual`, searched with new
    * vectors): the residual index — seeded cells, member residuals, the
    * residual-space codebook, m-byte codes — is built from `candidates`
    * only, then each query row probes its nProbe nearest cells and ranks
    * members by residual ADC. No self-exclusion (an external query is never
    * its own candidate). Composes [[ivfPqSearch]]'s query/candidate split
    * with [[ivfPqResidualTopK]]'s per-cell LUT decomposition; exact
    * integers end-to-end, so the DuckDB oracle hash-matches.
    */
  def ivfPqResidualSearch(queries: DataFrame, candidates: DataFrame,
                          idCol: String, vecCol: String, dim: Int,
                          nCells: Int, nProbe: Int, m: Int, k: Int,
                          topK: Int): DataFrame =
   graft.core.Storage.freeingIntermediates(queries.sparkSession) {
    ivfPqResidualPlan(prepared(candidates, idCol, vecCol),
      prepared(queries, idCol, vecCol), selfExclude = false,
      dim, nCells, nProbe, m, k, topK)
   }

  /** RESIDUAL IVF-PQ over LLOYD-TRAINED cells — the full production form:
    * `updates` rounds refine the coarse quantizer, residuals are taken to
    * the ROUNDED-MEAN integer centroid of each trained cell (the
    * pqTrainKmeans rounding discipline, so arithmetic stays exact and the
    * oracle hash-matches), and the s13 search path runs unchanged. This is
    * the regime where residual PQ actually pays: trained cells approximate
    * cluster centers, so residuals are noise-sized. Cell ASSIGNMENT ranks
    * against the exact integer SUM centroids (cosine is scale-invariant);
    * only the residual subtraction uses the rounded means.
    */
  def ivfPqResidualTopKTrained(df: DataFrame, idCol: String, vecCol: String,
                               dim: Int, nCells: Int, updates: Int,
                               nProbe: Int, m: Int, k: Int, topK: Int,
                               probeFilter: Column = lit(true)): DataFrame =
   graft.core.Storage.freeingIntermediates(df.sparkSession) {
    val v = prepared(df, idCol, vecCol)
    ivfPqResidualPlan(v, v, selfExclude = true, dim, nCells, nProbe, m, k,
      topK, trainedUpdates = updates, probeFilter = probeFilter)
   }

  /** Final-round centroids WITH member counts: the assignment uses
    * centroids after `updates - 1` Lloyd rounds, the returned frame carries
    * the last round's exact integer sums plus counts — what a rounded-mean
    * centroid needs.
    */
  private def kmeansSumCountCentroids(v: DataFrame, nCells: Int,
                                      updates: Int): DataFrame = {
    require(updates >= 1, s"updates must be >= 1, got $updates")
    val prev = kmeansCentroidsFrom(v, nCells, updates - 1)
    assignTop(v, packCells(prev))
      .groupBy(col("cid"))
      .agg(graft.plans.VectorSumLong.vectorSum(col("qv")).as("cv"),
        count(lit(1)).as("cnt"))
      .withColumn("cnrm", sqrt(dotLong(col("cv"), col("cv")).cast("double")))
  }

  /** Shared residual IVF-PQ plan: `cv` is the indexed corpus, `qvDf` the
    * probe set (pass the SAME instance for the self-search form — the
    * pinned cell ranking is then reused by both the member and probe
    * branches instead of re-ranking the corpus twice). `pin` is the index
    * materialization seam: production passes Storage.cut, plan-shape tests
    * pass identity to inspect the full lazy join structure.
    * `trainedUpdates` = 0 uses seeded cells (centroids ARE corpus vectors);
    * > 0 uses Lloyd-trained cells with rounded-mean residual anchors.
    */
  private[operators] def ivfPqResidualPlan(cv: DataFrame, qvDf: DataFrame,
                                selfExclude: Boolean, dim: Int, nCells: Int,
                                nProbe: Int, m: Int, k: Int, topK: Int,
                                pin: DataFrame => DataFrame =
                                  graft.core.Storage.cut(_),
                                trainedUpdates: Int = 0,
                                probeFilter: Column = lit(true)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(m > 0 && dim % m == 0,
      s"m must divide dim: dim=$dim, m=$m (a remainder would silently drop the tail dims)")
    val cut = pin
    val v = cv
    // centroidRow ranks (assignment/probing); cellVecs anchors residuals.
    // Seeded: both are the corpus seed vectors. Trained: ranking uses the
    // exact SUM centroids, residuals the rounded-mean integer centroids.
    val (centroidRow, cellVecs) =
      if (trainedUpdates == 0) {
        val cr = cut(seedCentroids(v, nCells))
        (cr, cr.select(explode(col("cells")).as("c"))
          .select(col("c")("cid").as("rcid"), col("c")("cv").as("rcv")))
      } else {
        val sc = cut(kmeansSumCountCentroids(v, nCells, trainedUpdates))
        val cr = cut(packCells(sc.select(col("cid"), col("cv"), col("cnrm"))))
        (cr, sc.select(col("cid").as("rcid"),
          transform(col("cv"), x =>
            round(x.cast("double") / col("cnt")).cast("long")).as("rcv")))
      }
    val ranked = cut(rankCells(v, centroidRow))
    def resid(qv: Column, cv: Column): Column = zip_with(qv, cv, (a, b) => a - b)
    // members: residual to the TOP-1 cell, then PQ-encode the residual
    val withRes = cut(ranked
      .select(coalesce(element_at(col("cellrank"), 1)("cid"), lit(Long.MinValue)).as("cid"),
        col("sid"), col("qv"))
      .join(broadcast(cellVecs), col("cid") === col("rcid"))
      .select(col("cid"), col("sid"), resid(col("qv"), col("rcv")).as("rv")))
    // seeded codebook over RESIDUALS: the k lowest-id members' residual
    // subvectors (the pqTrain posture, residual-space)
    val cbr = cut(withRes.orderBy(col("sid")).limit(k)
      .agg(array_sort(collect_list(struct(col("sid"), col("rv")))).as("seeds"))
      .select(transform(sequence(lit(0), lit(m - 1)), mm =>
        transform(col("seeds"), s =>
          slice(s("rv"), mm * (dim / m) + 1, lit(dim / m)))).as("cb")))
    // repartition-by-cell: index layout + an exchange barrier that pins the
    // encode to once per member (see ivfPqPlan — deferred streamed-column
    // evaluation would otherwise re-encode per joined pair)
    val members = withRes.crossJoin(broadcast(cbr))
      .select(col("cid"), col("sid").as("nid"),
        pqCodes(col("rv"), col("cb"), dim, m).as("codes"))
      .repartition(col("cid"))
    // probes: the query's residual differs per probed cell, so it is
    // computed ONCE per (query, cell) row — a zip_with against the
    // broadcast cell anchor — and rides the per-cell shuffle as dim longs
    // (512 B at dim=64). Pairs then score via adcDirect against the
    // broadcast residual codebook. (Round 9 used the FAISS
    // precomputed-tables LUT decomposition here; at k=256 a LUT row is
    // m x k longs and shuffling LUTs multiplied exchange bytes ~28x at
    // sf0.1 — see pqLut. Bit-identical integers either way, so the
    // oracle's direct-d2 arithmetic still hash-matches.)
    val rankedQ = if (qvDf eq cv) ranked else rankCells(qvDf, centroidRow)
    val probes = rankedQ
      .select(col("sid").as("qid"), col("qv"),
        explode(transform(slice(col("cellrank"), 1, nProbe), c => c("cid"))).as("cid"))
      .filter(probeFilter)
      .join(broadcast(cellVecs), col("cid") === col("rcid"))
      .select(col("qid"), col("cid"),
        zip_with(col("qv"), col("rcv"), (a, b) => a - b).as("qrv"))
    val joined = probes.join(members, Seq("cid"))
    val scored = (if (selfExclude) joined.filter(col("qid") =!= col("nid"))
                  else joined)
      .crossJoin(broadcast(cbr))
      .select(col("qid"), col("nid"),
        adcDirect(col("qrv"), col("codes"), col("cb"), dim, m).as("d2"))
    val w = Window.partitionBy(col("qid")).orderBy(col("d2").asc, col("nid").asc)
    cut(scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK))
  }

  /** The IVF probe path against any packed centroid row (seeded or trained). */
  private def probeTopK(v: DataFrame, centroidRow: DataFrame, nProbe: Int,
                        k: Int, probeFilter: Column = lit(true)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ranked = rankCells(v, centroidRow)

    // coalesce makes the join key non-nullable (element_at is nullable in
    // the type system even though cells is never empty) — otherwise Catalyst
    // inserts an isnotnull(key) filter that re-evaluates the whole
    // score-and-sort expression a second time per row
    val members = ranked.select(
      coalesce(element_at(col("cellrank"), 1)("cid"), lit(Long.MinValue)).as("cid"),
      col("sid").as("nid"), col("qv").as("nqv"), col("nrm").as("nnrm"))
    val probes = ranked.select(col("sid").as("qid"), col("qv").as("qqv"),
      col("nrm").as("qnrm"),
      explode(transform(slice(col("cellrank"), 1, nProbe), c => c("cid"))).as("cid"))
      .filter(probeFilter)

    // No dedup needed: each nid lives in exactly one cell, so a (qid, nid)
    // pair appears at most once. (A dropDuplicates here shuffled a million
    // array-carrying rows — project down to the cosine BEFORE any shuffle.)
    val scored = probes.join(members, Seq("cid"))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        pairCosine(col("qqv"), col("nqv"), col("qnrm"), col("nnrm")).as("cosine"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("nid").asc)
    scored.withColumn("rank", row_number().over(w).cast("long")).filter(col("rank") <= k)
  }

  // ---- spherical k-means (Lloyd) ------------------------------------------

  /** Spherical k-means: `rounds` assignment passes with a Lloyd centroid
    * update between each — the "real workloads" refinement the IVF Scaladoc
    * promises, for embedding clustering / a trained IVF index. Returns
    * (sid, cid, cosine): each vector's final cell and its cosine to that
    * cell's centroid.
    *
    * Exactness: cosine-to-the-MEAN equals cosine-to-the-SUM (the member
    * count scales numerator and denominator equally), so centroids are kept
    * as per-dimension SUMS of quantized vectors — exact integer arithmetic
    * under any accumulation order, bit-reproducible against a SQL oracle
    * across every iteration. No floats enter until the final cosine division.
    * (Magnitude bound: |sum| <= members x QuantScale per dim, so the
    * centroid self-dot stays under 2^63 up to ~3e8 members per cell at
    * dim 64 — repartition cells or rescale sums before that.)
    *
    * Scale shape per round: assignment is the same shuffle-free broadcast
    * array algebra as `ivfTopK`; the update is one posexplode ->
    * (cid, dim)-keyed partial-sum aggregation — the minhash-signature shape,
    * linear in corpus size. Empty cells drop out (standard Lloyd).
    */
  def kmeansAssign(df: DataFrame, idCol: String, vecCol: String, nCells: Int,
                   rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val v = prepared(df, idCol, vecCol)
    val assigned = assignTop(v, packCells(kmeansCentroidsFrom(v, nCells, rounds - 1)))
    // -Infinity was only an ordering stand-in for NULL (zero-norm vectors)
    assigned.select(col("sid"), col("cid"),
      nullif(col("ccos"), lit(Double.NegativeInfinity)).as("cosine"))
  }

  /** Centroids after `updates` Lloyd rounds, unpacked as (cid, cv, cnrm).
    * updates = 0 returns the seeds.
    */
  def kmeansCentroids(df: DataFrame, idCol: String, vecCol: String, nCells: Int,
                      updates: Int): DataFrame =
    kmeansCentroidsFrom(prepared(df, idCol, vecCol), nCells, updates)

  /** (sid, qv, cid, ccos): each vector's argmax-cosine cell (ties: min cid). */
  private def assignTop(v: DataFrame, centroidRow: DataFrame): DataFrame =
    rankCells(v, centroidRow)
      .select(col("sid"), col("qv"), element_at(col("cellrank"), 1).as("top"))
      .select(col("sid"), col("qv"), col("top")("cid").as("cid"),
        col("top")("ccos").as("ccos"))

  private def kmeansCentroidsFrom(v: DataFrame, nCells: Int,
                                  updates: Int): DataFrame = {
    var cents = v.orderBy(col("sid")).limit(nCells)
      .select(col("sid").as("cid"), col("qv").as("cv"), col("nrm").as("cnrm"))
    for (_ <- 1 to updates) {
      // one vector-sum aggregate per cell (graft.plans.VectorSumLong): the
      // buffer is a single dim-long array with map-side partial combine, so
      // the update shuffles nCells x partitions buffers — the previous
      // posexplode -> (cid, pos) groupBy -> collect_list form shuffled
      // n x dim rows and re-sorted every centroid back together
      cents = assignTop(v, packCells(cents))
        .groupBy(col("cid"))
        .agg(graft.plans.VectorSumLong.vectorSum(col("qv")).as("cv"))
        .withColumn("cnrm", sqrt(dotLong(col("cv"), col("cv")).cast("double")))
    }
    cents
  }

  // ---- random-hyperplane LSH ----------------------------------------------

  /** Deterministic pseudo-random hyperplane for (table, plane): components in
    * [-1000, 1000] derived from md5 on the DRIVER (same formula as
    * Dedup.hash32) and shipped as a literal — no randomness, no broadcast.
    */
  def plane(t: Int, m: Int, dim: Int): Array[Long] =
    Array.tabulate(dim) { j =>
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"plane_${t}_${m}_$j".getBytes("UTF-8"))
      val hex8 = md.take(4).map(b => f"$b%02x").mkString
      java.lang.Long.parseLong(hex8, 16) % 2001 - 1000
    }

  /** Sign-bucket id in table `t`: one codegen'd dot per plane. (Literal-
    * plane form — compact for a few planes; `planesTable` scales better.)
    */
  def lshBucket(v: Column, dim: Int, t: Int, nPlanes: Int): Column =
    (0 until nPlanes).map { m =>
      when(dotLong(v, typedLit(plane(t, m, dim).toSeq)) > 0, lit(1L << m))
        .otherwise(0L)
    }.reduce(_ + _)

  /** (sid, tbl, bucket): each vector's sign-bucket id in every LSH table —
    * the shared index-build step of `lshTopK` and `lshNearDupPairs`.
    *
    * Bucket ids come from ONE native kernel call
    * (graft.plans.LshBucketsLong) over a single flat plane literal, then
    * posexplode — NO shuffle, no vector columns in the output (candidate
    * generation is id-only; verification re-joins vectors later). The
    * interpreted higher-order form (`transform` + `aggregate` lambdas over a
    * broadcast planes row) cost 2.2x wall-clock at sf0.1 purely in per-row
    * lambda dispatch — same trap DotProductLong documents. Per-row work is
    * O(nTables x nPlanes x dim) multiply-adds in a tight primitive loop —
    * inherent to multi-table LSH, now at primitive-loop cost.
    */
  private def lshBuckets(df: DataFrame, idCol: String, vecCol: String,
                         dim: Int, nTables: Int, nPlanes: Int): DataFrame = {
    val flat: Seq[Long] = for {
      t <- 0 until nTables
      m <- 0 until nPlanes
      x <- plane(t, m, dim)
    } yield x
    prepared(df, idCol, vecCol)
      .select(col("sid"),
        posexplode(graft.plans.GraftFunctions.lshBuckets(
          col("qv"), typedLit(flat), nPlanes)).as(Seq("tbl", "bucket")))
  }

  /** Skinny candidate pairs from bucket collisions: ONLY ids travel through
    * the per-(table, bucket) self-join and the dedup shuffle. Carrying the
    * quantized vectors through candidate generation (the obvious join) ships
    * every 64-long array once per collision — measured ~6x slower at sf0.1,
    * and quadratically worse as bucket occupancy grows. Vectors are
    * re-attached AFTER dedup, when the pair set is small.
    */
  private def lshCandidates(buckets: DataFrame, anti: Boolean): DataFrame = {
    val b = buckets.select(col("sid"), col("tbl"), col("bucket"))
    val idCond = if (anti) col("a.sid") < col("b.sid") else col("a.sid") =!= col("b.sid")
    b.as("a")
      .join(b.as("b"),
        col("a.tbl") === col("b.tbl") && col("a.bucket") === col("b.bucket") && idCond)
      .select(col("a.sid").as("ida"), col("b.sid").as("idb"))
      .distinct()
  }

  /** Recommended LSH configurations — the two regimes a user picks between
    * (both ship in the oracle suite; s2 uses precision, s16's recall
    * contract uses recall):
    *
    *  - PRECISION ([[LshPrecisionTables]] x [[LshPrecisionPlanes]] = 8 x 10):
    *    10 sign bits per bucket -> small, pure buckets; candidates are few
    *    and mostly true neighbors. Use for top-k serving where the exact
    *    re-rank is the cost to protect. Misses more true neighbors (each
    *    must agree on all 10 bits in SOME table).
    *  - RECALL ([[LshRecallTables]] x [[LshRecallPlanes]] = 8 x 4): 4-bit
    *    buckets collide ~60x more -> candidate volume is the price,
    *    recall@5 ~0.8 on the fixtures (vs the floor the 8 x 10 config hits
    *    on uniform vectors). Use for near-dup mining / recall-contracted
    *    retrieval where missing a neighbor costs more than scoring extras.
    *
    * Scaling either: buckets-per-vector is nTables (linear cost knob);
    * bucket purity is 2^nPlanes (candidate-volume knob). Grow nPlanes with
    * log2(N) to hold bucket occupancy roughly constant as the corpus grows.
    *
    * THIRD OPTION — usually the best of both: keep the PRECISION index and
    * probe it multi-probe ([[lshTopKMultiProbe]], maxFlips = 2): measured
    * recall@5 0.825/0.875 on the fixtures — above the recall preset — at
    * ~10x fewer candidate pairs, with the index layout unchanged (a
    * persisted bucket table serves both probe modes). Prefer the recall
    * preset only when the QUERY side must stay single-probe cheap.
    */
  val LshPrecisionTables = 8
  val LshPrecisionPlanes = 10
  val LshRecallTables = 8
  val LshRecallPlanes = 4

  /** Multi-table LSH ANN: `nTables` independent hyperplane tables; candidate
    * pairs share a bucket in ANY table (union -> distinct), then exact
    * cosine ranks the union. More tables = higher recall at linear candidate
    * cost. Joins only happen within (table, bucket) — subquadratic at scale.
    * Config choice (precision 8 x 10 vs recall 8 x 4): see the preset
    * constants above.
    */
  def lshTopK(df: DataFrame, idCol: String, vecCol: String, dim: Int,
              nTables: Int = LshPrecisionTables,
              nPlanes: Int = LshPrecisionPlanes, k: Int = 5,
              probeFilter: Column = lit(true)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val v = prepared(df, idCol, vecCol)
    // probeFilter (a qid predicate) lands ABOVE the rename, and Catalyst
    // pushes it through to the `a` side of the bucket self-join — the
    // candidate join then only carries the kept queries' collisions
    val cands = lshCandidates(
      lshBuckets(df, idCol, vecCol, dim, nTables, nPlanes), anti = false)
      .withColumnRenamed("ida", "qid").withColumnRenamed("idb", "nid")
      .filter(probeFilter)
    val scored = cands
      .join(v.select(col("sid"), col("qv").as("qqv"), col("nrm").as("qnrm")),
        col("qid") === col("sid")).drop("sid")
      .join(v.select(col("sid"), col("qv").as("nqv"), col("nrm").as("nnrm")),
        col("nid") === col("sid")).drop("sid")
      .select(col("qid"), col("nid"),
        pairCosine(col("qqv"), col("nqv"), col("qnrm"), col("nnrm")).as("cosine"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("nid").asc)
    scored.withColumn("rank", row_number().over(w).cast("long")).filter(col("rank") <= k)
  }

  /** XOR masks for every bucket perturbation of at most `maxFlips` sign
    * bits: 1 + C(nPlanes, 1) + C(nPlanes, 2) masks at the cap.
    */
  private def flipMasks(nPlanes: Int, maxFlips: Int): Seq[Long] = {
    require(maxFlips >= 0 && maxFlips <= 2,
      s"maxFlips must be 0, 1, or 2 (probe count grows as C(nPlanes, f)), got $maxFlips")
    0L +:
      ((if (maxFlips >= 1) (0 until nPlanes).map(m => 1L << m) else Seq.empty) ++
       (if (maxFlips >= 2)
          for { a <- 0 until nPlanes; b <- a + 1 until nPlanes }
            yield (1L << a) | (1L << b)
        else Seq.empty))
  }

  /** MULTI-PROBE LSH ANN (Lv et al., VLDB'07): each query probes its own
    * bucket PLUS every bucket within `maxFlips` sign-bit flips, in every
    * table — recovering neighbors that disagree on one or two hyperplanes
    * without paying for more tables or coarser buckets. The recall knob the
    * plain table count can't reach: measured on the fixtures at the 8 x 10
    * precision config, recall@5 goes 0.025 -> 0.25 (1 flip) -> 0.825
    * (2 flips) at sf0.01 and 0.10 -> 0.45 -> 0.875 at sf0.1 — BEATING the
    * dedicated 8 x 4 recall preset (0.725-0.8) with ~10x fewer candidate
    * pairs, because probing perturbed 10-bit buckets is far more selective
    * than shrinking buckets to 4 bits corpus-wide.
    *
    * Cost shape: the INDEX side is untouched (one bucket row per (vector,
    * table) — the persisted layout stays valid); only the query side fans
    * out, by sum_{f<=maxFlips} C(nPlanes, f) probes per table (56 at 10
    * planes, 2 flips). Candidate generation stays a per-(table, bucket)
    * equi-join of skinny id rows; vectors attach only to the deduped pair
    * set (the lshTopK discipline). At 100 TB this is the serve-time recall
    * upgrade: re-index nothing, probe harder.
    */
  def lshTopKMultiProbe(df: DataFrame, idCol: String, vecCol: String,
                        dim: Int, nTables: Int, nPlanes: Int, maxFlips: Int,
                        k: Int, probeFilter: Column = lit(true)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val v = prepared(df, idCol, vecCol)
    val buckets = lshBuckets(df, idCol, vecCol, dim, nTables, nPlanes)
    val flips = flipMasks(nPlanes, maxFlips)
    val probes = buckets.withColumnRenamed("sid", "qid").filter(probeFilter)
      .select(col("qid"), col("tbl"),
        explode(transform(typedLit(flips), f => col("bucket").bitwiseXOR(f)))
          .as("bucket"))
    val cands = probes
      .join(buckets.withColumnRenamed("sid", "nid"), Seq("tbl", "bucket"))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid")).distinct()
    val scored = cands
      .join(v.select(col("sid"), col("qv").as("qqv"), col("nrm").as("qnrm")),
        col("qid") === col("sid")).drop("sid")
      .join(v.select(col("sid"), col("qv").as("nqv"), col("nrm").as("nnrm")),
        col("nid") === col("sid")).drop("sid")
      .select(col("qid"), col("nid"),
        pairCosine(col("qqv"), col("nqv"), col("qnrm"), col("nnrm")).as("cosine"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("nid").asc)
    scored.withColumn("rank", row_number().over(w).cast("long")).filter(col("rank") <= k)
  }

  /** LSH-bucketed near-dup pairs — the SCALE PATH for `nearDupPairs`: exact
    * cosine is computed only for pairs sharing a bucket in some table, so
    * work scales with bucket occupancy instead of corpus². Precision is 1 by
    * construction (every emitted pair passes the exact threshold); recall is
    * the LSH trade — raise `nTables` to buy recall at linear cost.
    */
  def lshNearDupPairs(df: DataFrame, idCol: String, vecCol: String, dim: Int,
                      nTables: Int, nPlanes: Int, threshold: Double): DataFrame = {
    val v = prepared(df, idCol, vecCol)
    lshCandidates(lshBuckets(df, idCol, vecCol, dim, nTables, nPlanes), anti = true)
      .join(v.select(col("sid"), col("qv").as("aqv"), col("nrm").as("anrm")),
        col("ida") === col("sid")).drop("sid")
      .join(v.select(col("sid"), col("qv").as("bqv"), col("nrm").as("bnrm")),
        col("idb") === col("sid")).drop("sid")
      .select(col("ida"), col("idb"),
        pairCosine(col("aqv"), col("bqv"), col("anrm"), col("bnrm")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** MULTI-PROBE near-dup mining — [[lshNearDupPairs]]'s recall upgrade on
    * the same index: a candidate pair needs its two bucket ids within
    * `maxFlips` sign bits in SOME table (one side probes its XOR-perturbed
    * buckets against the other's exact buckets — symmetric, since the flip
    * set is closed under XOR direction). Precision stays 1 by construction
    * (exact cosine verifies every pair); candidates grow by the perturbed
    * collisions only, far fewer than coarsening the whole index to shorter
    * buckets (the s22 measurement: ~10x fewer candidates than the 8 x 4
    * recall preset at better recall). Candidate generation remains a
    * per-(table, bucket) equi-join of skinny id rows.
    */
  def lshNearDupPairsMultiProbe(df: DataFrame, idCol: String, vecCol: String,
                                dim: Int, nTables: Int, nPlanes: Int,
                                maxFlips: Int, threshold: Double): DataFrame = {
    val v = prepared(df, idCol, vecCol)
    val buckets = lshBuckets(df, idCol, vecCol, dim, nTables, nPlanes)
    val probes = buckets.select(col("sid"), col("tbl"),
      explode(transform(typedLit(flipMasks(nPlanes, maxFlips)), f =>
        col("bucket").bitwiseXOR(f))).as("bucket"))
    probes.as("a")
      .join(buckets.as("b"),
        col("a.tbl") === col("b.tbl") && col("a.bucket") === col("b.bucket") &&
          col("a.sid") < col("b.sid"))
      .select(col("a.sid").as("ida"), col("b.sid").as("idb")).distinct()
      .join(v.select(col("sid"), col("qv").as("aqv"), col("nrm").as("anrm")),
        col("ida") === col("sid")).drop("sid")
      .join(v.select(col("sid"), col("qv").as("bqv"), col("nrm").as("bnrm")),
        col("idb") === col("sid")).drop("sid")
      .select(col("ida"), col("idb"),
        pairCosine(col("aqv"), col("bqv"), col("anrm"), col("bnrm")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }
}
