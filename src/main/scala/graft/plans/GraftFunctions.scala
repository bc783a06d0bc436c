package graft.plans

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, ExpressionInfo, Literal, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.trees.UnaryLike
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
  * (checked literals, the element-type flag, a [[Matcher]]); the kernel
  * receives them but they are not children, so they never show in a
  * column name. A NULL child yields NULL without calling the kernel.
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
      children ++ consts.map {
        case m: Matcher => Literal.fromObject(m)
        case v => Literal(v)
      }, returnNullable = returnsNull)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(children = newChildren)
}

/** A per-group sketch behind one `graft_*` aggregate: a case class over
  * its plan-time parameters (so two builds of the same call are equal and
  * a plan prints them), its result type and nullability, and its buffer's
  * operations. `add` sees non-NULL inputs only; `write` and `read` carry a
  * buffer across the partial/final aggregation boundary.
  */
trait Sketch[B] extends Product with Serializable {
  def dataType: DataType
  def nullable: Boolean = false
  def empty: B
  def add(buf: B, v: Any): B
  def merge(buf: B, other: B): B
  def result(buf: B): Any
  def write(buf: B, out: DataOutputStream): Unit
  def read(in: DataInputStream): B
}

/** A [[Sketch]] as one map-side-combinable aggregate: the aggregate-side
  * twin of [[KernelCall]]. Analysis type-checks `child` against
  * `inputType`; the call prints as `name(child)` in column names and as
  * `name(child, params...)` in plans. A NULL input row is skipped.
  */
case class SketchCall[B](name: String, sketch: Sketch[B], inputType: DataType,
                         child: Expression, mutableAggBufferOffset: Int = 0,
                         inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[B] with UnaryLike[Expression]
    with ExpectsInputTypes {

  override def prettyName: String = name
  override def stringArgs: Iterator[Any] = Iterator(child) ++ sketch.productIterator
  override def inputTypes: Seq[DataType] = Seq(inputType)
  override def dataType: DataType = sketch.dataType
  override def nullable: Boolean = sketch.nullable

  override def createAggregationBuffer(): B = sketch.empty
  override def update(buf: B, input: InternalRow): B = {
    val v = child.eval(input)
    if (v == null) buf else sketch.add(buf, v)
  }
  override def merge(buf: B, other: B): B = sketch.merge(buf, other)
  override def eval(buf: B): Any = sketch.result(buf)

  override def serialize(buf: B): Array[Byte] = {
    val bytes = new ByteArrayOutputStream()
    val out = new DataOutputStream(bytes)
    sketch.write(buf, out)
    out.flush()
    bytes.toByteArray
  }
  override def deserialize(bytes: Array[Byte]): B =
    sketch.read(new DataInputStream(new ByteArrayInputStream(bytes)))

  override def withNewMutableAggBufferOffset(offset: Int): SketchCall[B] =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): SketchCall[B] =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildInternal(newChild: Expression): SketchCall[B] =
    copy(child = newChild)
}

/** A matcher, trie or model a kernel row builds from its call's literal
  * arguments, handed to the kernel as one hidden object literal. It is a
  * case class over those literal inputs, so two builds of the same call
  * are equal (a GROUP BY on the call matches the SELECT); its lookup
  * tables are `@transient lazy`, built once per deserialized copy.
  */
trait Matcher extends Product with Serializable

/** THE registry of every `graft_*` SQL function: one table row per
  * function. The one registration route, [[graft.GraftExtensions]], injects
  * every row when a session is built; `core.Sessions.configure` applies it
  * to every engine session, and the Column-API helpers below are plain
  * calls of the SQL names.
  *
  * A kernel is a compute function plus one [[kernel]] row here and its
  * one-line static entry point below, named after the SQL function: the
  * row's argument list drives the arity check, the type check and the
  * literal guards, and the builder returns a [[KernelCall]]. 31 of the 35
  * rows are kernels. A kernel that needs a matcher, trie or model (Aho-
  * Corasick, BPE, unigram, subword, word sets) declares its literal
  * arguments `Hidden` and builds a [[Matcher]] from them in `more`; the
  * matcher reaches its entry point as a hidden argument. The other four
  * rows are per-group sketches (KMV, count-min, Misra-Gries, vector sum):
  * a [[Sketch]] plus one [[sketch]] row with the same argument spec, whose
  * builder returns a [[SketchCall]], because an aggregation buffer is not
  * a static call.
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
    * unless the child's type is another), a literal int in [lo, hi] — a
    * child when `shown`, else a constant of the kernel call — or a
    * `Hidden` literal that only the row's `more` reads.
    */
  private sealed trait Arg
  private final case class Col(ts: DataType*) extends Arg
  private final case class IntLit(lo: Int, hi: Int = Int.MaxValue,
                                  shown: Boolean = true) extends Arg
  private case object Hidden extends Arg

  /** A call's arguments checked against a row's `args`: the shown children,
    * each with the type analysis checks it against, and the values of the
    * literal ints that are not shown. Every literal int is range-checked.
    */
  private def bind(name: String, args: Seq[(String, Arg)],
                   children: Seq[Expression]): (Seq[(DataType, Expression)], Seq[Int]) = {
    val typed = args.zip(children)
    val lits = typed.collect { case ((what, IntLit(lo, hi, isShown)), e) =>
      isShown -> Builders.litInt(name, what, e, lo, hi) }
    val shown = typed.collect {
      case ((_, Col(ts @ _*)), e) =>
        (ts.find(sameElements(_, e.dataType)).getOrElse(ts.head), e)
      case ((_, IntLit(_, _, true)), e) => (IntegerType, e)
    }
    (shown, lits.collect { case (false, v) => v })
  }

  /** A [[KernelCall]] row; `more` derives further constants (a matcher,
    * cross-argument literal checks) from all the call's arguments. The
    * analyzer calls a builder only once its arguments are resolved, so a
    * row may read their types.
    */
  private def kernel(name: String, out: DataType,
                     returnsNull: Boolean = false,
                     more: Seq[Expression] => Seq[Any] = _ => Nil)
                    (args: (String, Arg)*): Fn =
    Fn(name, classOf[KernelCall], args.map(_._1), children => {
      val (shown, consts) = bind(name, args, children)
      KernelCall(name, out, shown.map(_._1), shown.map(_._2),
        consts ++ more(children), returnsNull)
    })

  /** A [[SketchCall]] row: one shown column, and `make` builds the sketch
    * from the values of its literal int arguments (declared not shown).
    */
  private def sketch(name: String, make: Seq[Int] => Sketch[_])
                    (args: (String, Arg)*): Fn =
    Fn(name, classOf[SketchCall[_]], args.map(_._1), children => {
      val (Seq((inputType, child)), params) = bind(name, args, children)
      SketchCall(name, make(params), inputType, child)
    })

  private val Str = Col(StringType)
  private val Longs = Col(ArrayType(LongType))
  private val Codebook = Col(ArrayType(ArrayType(ArrayType(LongType))))
  private val FloatsOrDoubles = Col(ArrayType(FloatType), ArrayType(DoubleType))
  private val LongArray = ArrayType(LongType, containsNull = false)
  private val StringArray = ArrayType(StringType, containsNull = false)

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
    sketch(MisraGriesName, p => MisraGries(p(0)))(
      "column" -> Str, "k" -> IntLit(1, shown = false)),
    sketch(Kmv.Name, p => Kmv(p(0)))(
      "column" -> Col(LongType), "k" -> IntLit(2, shown = false)),
    sketch(CountMin.Name, p => CountMin(p(0), p(1)))("column" -> Str,
      "w" -> IntLit(2, 65536, shown = false), "d" -> IntLit(1, 3, shown = false)),
    sketch(VectorSumLong.Name, _ => VectorSumLong)("vec" -> Longs),

    kernel(DotLongName, LongType)("vec_a" -> Longs, "vec_b" -> Longs),
    kernel(LshBucketsName, LongArray)(
      "vec" -> Longs, "planes" -> Longs, "nPlanes" -> IntLit(1, 63)),
    kernel(PqAdcName, LongType)(
      "codes" -> Longs, "lut" -> Col(ArrayType(ArrayType(LongType)))),
    kernel(PqAdcDirectName, LongType)(
      "query" -> Longs, "codes" -> Longs, "centroids" -> Codebook),
    kernel(PqEncodeName, LongArray)("vec" -> Longs, "centroids" -> Codebook),
    kernel(AhoCorasickCount.Name, LongArray, more = AhoCorasickCount.matcher)(
      "text" -> Str, "patterns array" -> Hidden),
    kernel(SubwordCount.Name, LongType, more = SubwordCount.matcher)(
      "text" -> Str, "vocab array" -> Hidden),
    kernel(BpeSegment.Name, StringArray, more = BpeSegment.matcher)(
      "word" -> Str, "merges array" -> Hidden),
    kernel(UnigramSegment.Name, StringArray, more = UnigramSegment.matcher)(
      "word" -> Str, "pieces array" -> Hidden, "scores array" -> Hidden),
    kernel(WordSetCountLong.Name, LongType, more = WordSetCountLong.matcher)(
      "text" -> Str, "words array" -> Hidden),
    kernel(LangIdLong.Name, StringType, more = LangIdLong.matcher)(
      "text" -> Str, "labels array" -> Hidden, "sets array<array>" -> Hidden),
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
      "codebook" -> Codebook,
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
  def graft_dot_long(a: ArrayData, b: ArrayData): Long = DotProductLong.dot(a, b)
  def graft_lsh_buckets(vec: ArrayData, planes: ArrayData, np: Int): ArrayData =
    LshBucketsLong.buckets(vec, planes, np)
  def graft_pq_adc(codes: ArrayData, lut: ArrayData): Long =
    PqAdcLong.adc(codes, lut)
  def graft_pq_adc_direct(qv: ArrayData, codes: ArrayData, cb: ArrayData): Long =
    PqAdcDirectLong.adc(qv, codes, cb)
  def graft_pq_encode(vec: ArrayData, cb: ArrayData): ArrayData =
    PqEncodeLong.encode(vec, cb)
  def graft_aho_corasick(text: UTF8String, a: AhoCorasickCount.Automaton): ArrayData =
    a.countsArray(text.toString)
  def graft_subword_count(text: UTF8String, v: SubwordCount.Vocab): Long =
    v.countDocument(text.toString)
  def graft_bpe_segment(word: UTF8String, a: BpeSegment.Applier): ArrayData =
    a.segment(word.toString)
  def graft_unigram_segment(word: UTF8String, m: UnigramSegment.Model): ArrayData =
    m.segment(word.toString)
  def graft_word_set_count(text: UTF8String, m: LangIdLong.MultiMatcher): Long =
    m.scores(text)(0)
  def graft_lang_id(text: UTF8String, m: LangIdLong.MultiMatcher): UTF8String =
    m.pick(text)

  /** Column API core: a plain call of the SQL function `name`. */
  def call(name: String, args: Column*): Column = call_function(name, args: _*)

  /** Exact integer dot product of two array<bigint> columns. */
  def dotLong(a: Column, b: Column): Column = call(DotLongName, a, b)

  /** Misra-Gries sketch aggregate: map<string,bigint> of ~k candidates. */
  def misraGries(c: Column, k: Int): Column = call(MisraGriesName, c, lit(k))

  /** KMV bottom-k sketch aggregate over an already-hashed long column:
    * ascending array of the k smallest distinct hashes.
    */
  def kmvSketch(hashed: Column, k: Int): Column =
    call(Kmv.Name, hashed, lit(k))

  /** Count-min sketch aggregate: the full d x w counter matrix as
    * array<array<bigint>> — order-insensitive sums, so bit-deterministic.
    */
  def countMin(c: Column, w: Int, d: Int): Column =
    call(CountMin.Name, c, lit(w), lit(d))

  /** Per-table LSH sign-bucket ids (array<long>, one per table); `planes` is
    * the flat nTables x nPlanes x dim plane concatenation (a literal).
    */
  def lshBuckets(vec: Column, planes: Column, nPlanes: Int): Column =
    call(LshBucketsName, vec, planes, lit(nPlanes))

  /** PQ asymmetric distance: sum_m lut[m][codes[m]]. */
  def pqAdc(codes: Column, lut: Column): Column = call(PqAdcName, codes, lut)

  /** PQ encode: codes[mm] = argmin_k d2(vec_sub_mm, cb[mm][k]), ties ->
    * lowest code.
    */
  def pqEncode(vec: Column, cb: Column): Column = call(PqEncodeName, vec, cb)

  /** PQ asymmetric distance direct from (query vector, codes, codebook):
    * sum_mm sum_j (qv[mm*sub+j] - cb[mm][codes[mm]][j])^2.
    */
  def pqAdcDirect(qv: Column, codes: Column, cb: Column): Column =
    call(PqAdcDirectName, qv, codes, cb)
}
