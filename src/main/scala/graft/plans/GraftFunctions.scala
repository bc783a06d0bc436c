package graft.plans

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, ExpressionInfo, Literal, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** A native kernel behind one `graft_*` SQL name. Analysis sees this node:
  * it type-checks `children` against `inputTypes` (a mismatch is a
  * DATATYPE_MISMATCH error naming the function) and prints as
  * `name(children)`, so auto-generated column names read like a built-in
  * call. The optimizer then swaps in `replacement`: ONE static call
  * `GraftFunctions.<name>(children ++ consts)`, which whole-stage codegen
  * emits inline and physical plans print as
  * `static_invoke(graft.plans.GraftFunctions.<name>(...))`.
  * `consts` are plan-time constants the builder took out of the SQL call
  * (checked literals, the element-type flag); the kernel receives them but
  * they are not children, so they never show in a column name. A NULL
  * child yields NULL without calling the kernel.
  */
case class KernelCall(name: String, override val dataType: DataType,
                      inputTypes: Seq[DataType], children: Seq[Expression],
                      consts: Seq[Any] = Nil, returnsNull: Boolean = false)
    extends RuntimeReplaceable with ExpectsInputTypes {

  override def prettyName: String = name
  override def stringArgs: Iterator[Any] = (children ++ consts).iterator
  // the replacement's nullability, known without building it during analysis
  override def nullable: Boolean = returnsNull || children.exists(_.nullable)

  override lazy val replacement: Expression =
    StaticInvoke(GraftFunctions.EntryPoints, dataType, name,
      children ++ consts.map(Literal(_)), returnNullable = returnsNull)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(children = newChildren)
}

/** THE registry of every `graft_*` SQL function: one table row per
  * function, walked by both registration routes — `GraftExtensions` (a
  * `spark.sql.extensions` session) and [[register]] (the lazy Column-API
  * helpers) — so the two can never drift.
  *
  * Adding a kernel is a compute function plus one [[kernel]] row here and
  * its one-line static entry point below, named after the SQL function:
  * the row's argument list drives the arity check, the type check and the
  * literal guards, and the builder returns a [[KernelCall]]. The other
  * rows keep their own expression classes: the TypedImperativeAggregate
  * sketches (an aggregation buffer is not a static call), the kernels with
  * hand-written codegen loops (DotProduct, LshBuckets, PqAdc, PqAdcDirect,
  * PqEncode), and the kernels whose matcher, trie or model is built once
  * per expression from literal arguments (AhoCorasick, Bpe, LangId,
  * SubwordCount, WordSetCount, UnigramSegment).
  */
object GraftFunctions {
  val DotLongName = "graft_dot_long"
  val MisraGriesName = "graft_misra_gries"
  val LshBucketsName = "graft_lsh_buckets"
  val PqAdcName = "graft_pq_adc"
  val PqAdcDirectName = "graft_pq_adc_direct"
  val PqEncodeName = "graft_pq_encode"

  /** One SQL function: its name, the class DESCRIBE FUNCTION shows, its
    * argument names (their count is the arity), and its builder, which
    * only ever sees the right number of arguments.
    */
  final case class Fn(name: String, owner: Class[_], params: Seq[String],
                      build: Seq[Expression] => Expression) {
    def info: ExpressionInfo = new ExpressionInfo(owner.getName, name)
    def builder: Seq[Expression] => Expression = children =>
      build(Builders.arity(name, params.mkString("(", ", ", ")"), params.length,
        children))
  }

  /** A kernel argument: a shown child of one of the types `ts` (the first
    * unless the child's type is another), or a literal int in [lo, hi] — a
    * child when `shown`, else a constant of the kernel call.
    */
  private sealed trait Arg
  private final case class Col(ts: DataType*) extends Arg
  private final case class IntLit(lo: Int, hi: Int = Int.MaxValue,
                                  shown: Boolean = true) extends Arg

  /** A [[KernelCall]] row; `more` derives further constants (and makes
    * cross-argument literal checks) from the shown children. The analyzer
    * calls a builder only once its arguments are resolved, so a row may
    * read their types.
    */
  private def kernel(name: String, out: DataType,
                     returnsNull: Boolean = false,
                     more: Seq[Expression] => Seq[Any] = _ => Nil)
                    (args: (String, Arg)*): Fn =
    Fn(name, classOf[KernelCall], args.map(_._1), children => {
      val typed = args.zip(children)
      val lits = typed.collect { case ((what, IntLit(lo, hi, isShown)), e) =>
        isShown -> Builders.litInt(name, what, e, lo, hi) }
      val shown = typed.collect {
        case ((_, Col(ts @ _*)), e) =>
          (ts.find(sameElements(_, e.dataType)).getOrElse(ts.head), e)
        case ((_, IntLit(_, _, true)), e) => (IntegerType, e)
      }
      KernelCall(name, out, shown.map(_._1), shown.map(_._2),
        lits.collect { case (false, v) => v } ++ more(shown.map(_._2)),
        returnsNull)
    })

  private val Str = Col(StringType)
  private val Longs = Col(ArrayType(LongType))
  private val FloatsOrDoubles = Col(ArrayType(FloatType), ArrayType(DoubleType))
  private val LongArray = ArrayType(LongType, containsNull = false)

  /** Same type up to array nullability (the alternatives a Col offers). */
  private def sameElements(t: DataType, actual: DataType): Boolean =
    (t, actual) match {
      case (ArrayType(a, _), ArrayType(b, _)) => sameElements(a, b)
      case _ => t == actual
    }

  private def isFloatArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  val all: Seq[Fn] = Seq(
    Fn(DotLongName, classOf[DotProductLong], Seq("vec_a", "vec_b"),
      c => DotProductLong(c(0), c(1))),
    Fn(MisraGriesName, classOf[MisraGriesSketch], Seq("column", "k"),
      MisraGriesSketch.fromChildren),
    Fn(KmvSketch.Name, classOf[KmvSketch], Seq("column", "k"),
      KmvSketch.fromChildren),
    Fn(CountMinSketch.Name, classOf[CountMinSketch], Seq("column", "w", "d"),
      CountMinSketch.fromChildren),
    Fn(VectorSumLong.Name, classOf[VectorSumLong], Seq("vec"),
      c => VectorSumLong(c(0))),
    Fn(LshBucketsName, classOf[LshBucketsLong], Seq("vec", "planes", "nBands"),
      c => LshBucketsLong(c(0), c(1), c(2))),
    Fn(PqAdcName, classOf[PqAdcLong], Seq("codes", "lut"),
      c => PqAdcLong(c(0), c(1))),
    Fn(PqAdcDirectName, classOf[PqAdcDirectLong],
      Seq("codes", "centroids", "query"),
      c => PqAdcDirectLong(c(0), c(1), c(2))),
    Fn(PqEncodeName, classOf[PqEncodeLong], Seq("vec", "centroids"),
      c => PqEncodeLong(c(0), c(1))),
    Fn(AhoCorasickCount.Name, classOf[AhoCorasickCount],
      Seq("text", "patterns array"), AhoCorasickCount.fromChildren),
    Fn(SubwordCount.Name, classOf[SubwordCount], Seq("text", "vocab array"),
      SubwordCount.fromChildren),
    Fn(BpeSegment.Name, classOf[BpeSegment], Seq("word", "merges array"),
      BpeSegment.fromChildren),
    Fn(UnigramSegment.Name, classOf[UnigramSegment],
      Seq("word", "pieces array", "scores array"), UnigramSegment.fromChildren),
    Fn(WordSetCountLong.Name, classOf[WordSetCountLong],
      Seq("text", "words array"), WordSetCountLong.fromChildren),
    Fn(LangIdLong.Name, classOf[LangIdLong],
      Seq("text", "labels array", "sets array<array>"), LangIdLong.fromChildren),

    kernel(LnFpFunctions.LnMicroName, LongType)(
      "p" -> Col(LongType), "q" -> Col(LongType)),
    kernel(LnFpFunctions.GumbelMicroName, LongType)("hash64" -> Col(LongType)),
    kernel(Md5PrefixLong.Name, LongType)(
      "text" -> Col(StringType, BinaryType),
      "n_bytes" -> IntLit(1, 7, shown = false)),
    kernel(SimhashLong.Name, LongType)("text" -> Str),
    kernel(MinhashSigLong.Name, LongArray, returnsNull = true)(
      "text" -> Str, "shingle_n" -> IntLit(1)),
    kernel(WinnowLong.Name, LongArray)("text" -> Str,
      "k" -> IntLit(1, shown = false), "w" -> IntLit(1, shown = false)),
    kernel(CdcBoundariesLong.Name, LongArray)("text" -> Str,
      "n" -> IntLit(2, shown = false), "divisor" -> IntLit(2, shown = false)),
    kernel(LcsTokensLong.Name, LongType)(
      "candidate_text" -> Str, "reference_text" -> Str),
    kernel(HtmlStrip.Name, StringType)("html" -> Str),
    kernel(UnicodeFix.Name, StringType)("text" -> Str),
    kernel(ChrfStatsLong.Name, ChrfStatsLong.OutType, returnsNull = true)(
      "candidate_text" -> Str, "reference_text" -> Str,
      "max_order" -> IntLit(1, 8)),
    kernel(WordGramStatsLong.Name, ChrfStatsLong.OutType, returnsNull = true)(
      "candidate_text" -> Str, "reference_text" -> Str,
      "max_order" -> IntLit(1, 8)),
    kernel(ShingleHashesLong.Name, LongArray, returnsNull = true)(
      "text" -> Str, "n" -> IntLit(1), "hash_bytes" -> IntLit(1, 7)),
    kernel(ShingleHashesLong.AllName, LongArray, returnsNull = true)(
      "text" -> Str, "n" -> IntLit(1), "hash_bytes" -> IntLit(1, 7)),
    kernel(NgramRowsLong.Name, NgramRowsLong.OutType, returnsNull = true)(
      "text" -> Str, "max_order" -> IntLit(1, 8)),
    kernel(WordWindowsLong.Name, WordWindowsLong.OutType, returnsNull = true)(
      "text" -> Str, "n" -> IntLit(1, 8)),
    kernel(RankCellsLong.Name, RankCellsLong.OutType, returnsNull = true)(
      "query_vec" -> Longs, "query_norm" -> Col(DoubleType),
      "packed_cells" -> Col(RankCellsLong.CellsType)),
    kernel(PqLutLong.Name, PqLutLong.OutType, returnsNull = true,
      more = PqLutLong.checkShape)(
      "query_vec" -> Longs,
      "codebook" -> Col(ArrayType(ArrayType(ArrayType(LongType)))),
      "dim" -> IntLit(1), "m" -> IntLit(1)),
    kernel(QuantizeLong.Name, ArrayType(LongType), returnsNull = true,
      more = c => Seq(isFloatArray(c(0))))(
      "vec" -> FloatsOrDoubles, "scale" -> IntLit(1)),
    kernel(Sq8CodesLong.Name, LongArray, returnsNull = true,
      more = c => Seq(isFloatArray(c(0))))(
      "vec" -> FloatsOrDoubles, "lo" -> Col(ArrayType(DoubleType)),
      "hi" -> Col(ArrayType(DoubleType))))

  // The static entry points of the kernel rows: one per row, named after
  // its SQL function so a physical plan shows which kernel runs.
  // `EntryPoints` is the class holding their static forwarders; handing it
  // to StaticInvoke directly spares a class lookup per expression copy.
  private[plans] val EntryPoints: Class[_] =
    Class.forName(getClass.getName.stripSuffix("$"))
  def graft_ln_micro(p: Long, q: Long): Long = LnFp.lnMicro(p, q)
  def graft_gumbel_micro(h: Long): Long = LnFp.gumbelMicro(h)
  def graft_md5_prefix_long(text: UTF8String, n: Int): Long =
    Md5PrefixLong.prefix(text.getBytes, n)
  def graft_md5_prefix_long(bytes: Array[Byte], n: Int): Long =
    Md5PrefixLong.prefix(bytes, n)
  def graft_simhash_long(text: UTF8String): Long = SimhashLong.simhash(text)
  def graft_minhash_sig(text: UTF8String, n: Int): ArrayData =
    MinhashSigLong.signature(text, n)
  def graft_winnow_long(text: UTF8String, k: Int, w: Int): ArrayData =
    WinnowLong.compute(text, k, w)
  def graft_cdc_boundaries(text: UTF8String, n: Int, divisor: Int): ArrayData =
    CdcBoundariesLong.compute(text, n, divisor)
  def graft_lcs_tokens(cand: UTF8String, ref: UTF8String): Long =
    LcsTokensLong.compute(cand, ref)
  def graft_html_strip(html: UTF8String): UTF8String = HtmlStrip.strip(html)
  def graft_unicode_fix(text: UTF8String): UTF8String = UnicodeFix.fix(text)
  def graft_chrf_stats(cand: UTF8String, ref: UTF8String, n: Int): ArrayData =
    ChrfStatsLong.compute(cand, ref, n)
  def graft_wordgram_stats(cand: UTF8String, ref: UTF8String, n: Int): ArrayData =
    WordGramStatsLong.compute(cand, ref, n)
  def graft_shingle_hashes(text: UTF8String, n: Int, nBytes: Int): ArrayData =
    ShingleHashesLong.compute(text, n, nBytes, distinct = true)
  def graft_shingle_hashes_all(text: UTF8String, n: Int, nBytes: Int): ArrayData =
    ShingleHashesLong.compute(text, n, nBytes, distinct = false)
  def graft_ngram_rows(text: UTF8String, maxOrder: Int): ArrayData =
    NgramRowsLong.compute(text, maxOrder)
  def graft_word_windows(text: UTF8String, n: Int): ArrayData =
    WordWindowsLong.compute(text, n)
  def graft_rank_cells(qv: ArrayData, nrm: Double, cells: ArrayData): ArrayData =
    RankCellsLong.compute(qv, nrm, cells)
  def graft_pq_lut(vec: ArrayData, cb: ArrayData, dim: Int, m: Int): ArrayData =
    PqLutLong.compute(vec, cb, dim, m)
  def graft_quantize(vec: ArrayData, scale: Int, isFloat: Boolean): ArrayData =
    QuantizeLong.compute(vec, scale, isFloat)
  def graft_sq8_codes(vec: ArrayData, lo: ArrayData, hi: ArrayData,
                      isFloat: Boolean): ArrayData =
    Sq8CodesLong.compute(vec, lo, hi, isFloat)

  /** Registers every table row into `spark`; idempotent per session. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    all.foreach { f =>
      val id = FunctionIdentifier(f.name)
      if (!registry.functionExists(id))
        registry.registerFunction(id, f.info, f.builder)
    }
  }

  /** Column API core: registers into the active session, then calls `name`. */
  def call(name: String, args: Column*): Column = {
    SparkSession.getActiveSession.foreach(register)
    call_function(name, args: _*)
  }

  /** Exact integer dot product of two array<bigint> columns. */
  def dotLong(a: Column, b: Column): Column = call(DotLongName, a, b)

  /** Misra-Gries sketch aggregate: map<string,bigint> of ~k candidates. */
  def misraGries(c: Column, k: Int): Column = call(MisraGriesName, c, lit(k))

  /** KMV bottom-k sketch aggregate over an already-hashed long column:
    * ascending array of the k smallest distinct hashes.
    */
  def kmvSketch(hashed: Column, k: Int): Column =
    call(KmvSketch.Name, hashed, lit(k))

  /** Count-min sketch aggregate: the full d x w counter matrix as
    * array<array<bigint>> — order-insensitive sums, so bit-deterministic.
    */
  def countMin(c: Column, w: Int, d: Int): Column =
    call(CountMinSketch.Name, c, lit(w), lit(d))

  /** Per-table LSH sign-bucket ids (array<long>, one per table); `planes` is
    * the flat nTables x nPlanes x dim plane concatenation (a literal).
    */
  def lshBuckets(vec: Column, planes: Column, nPlanes: Int): Column =
    call(LshBucketsName, vec, planes, lit(nPlanes))

  /** PQ asymmetric distance: sum_m lut[m][codes[m]] (native codegen). */
  def pqAdc(codes: Column, lut: Column): Column = call(PqAdcName, codes, lut)

  /** PQ encode: codes[mm] = argmin_k d2(vec_sub_mm, cb[mm][k]), ties ->
    * lowest code (native codegen).
    */
  def pqEncode(vec: Column, cb: Column): Column = call(PqEncodeName, vec, cb)

  /** PQ asymmetric distance direct from (query vector, codes, codebook):
    * sum_mm sum_j (qv[mm*sub+j] - cb[mm][codes[mm]][j])^2 (native codegen).
    */
  def pqAdcDirect(qv: Column, codes: Column, cb: Column): Column =
    call(PqAdcDirectName, qv, codes, cb)
}
