package graft.functions

import org.apache.spark.sql.{Column, GraftSqlShim, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.types._

/** One row of [[GraftFunctions]]' table: a custom SQL function under its
  * name. A row is also its Column-API wrapper — `cosineSim(a, b)` builds
  * the expression directly, so it resolves on any session without a
  * FunctionRegistry entry. Both paths check the argument count where the
  * expression is built, naming the function.
  */
sealed abstract class GraftFunction(val name: String, val arity: Int) {
  /** The registry builder: the Catalyst expression over resolved arguments. */
  def builder: Seq[Expression] => Expression
  def apply(args: Column*): Column

  protected def checked(args: Seq[Expression]): Seq[Expression] = {
    require(args.length == arity, s"$name expects $arity argument(s), got ${args.length}")
    args
  }
}

/** A scalar kernel, evaluated by the generic [[KernelExpr]]: its arity,
  * input check, result type, the static method codegen calls (`call`,
  * relative to `graft.functions`) and the typed function interpreted
  * `eval` calls with the non-null argument values.
  */
final class Kernel(name: String, val dataType: DataType, val call: String, arity: Int,
    val inputs: (String, Seq[Expression]) => TypeCheckResult, val eval: Array[Any] => Any)
    extends GraftFunction(name, arity) {
  def builder: Seq[Expression] => Expression = es => KernelExpr(name, checked(es))
  def apply(args: Column*): Column = GraftSqlShim.column(builder(args.map(GraftSqlShim.expr)))
}

/** A literal Int argument of an [[Aggregate]]: its position, its name in
  * messages, and its range, which analysis reports as `<name> must be
  * <rule>, got <value>`.
  */
final case class Param(pos: Int, name: String, rule: String, ok: Int => Boolean)

/** A custom aggregate, evaluated by the generic [[KernelAgg]]: its input
  * types, its literal parameters, its result type, and its buffer class —
  * built from the parameter values, or read back from its bytes.
  */
final class Aggregate(name: String, val dataType: DataType, val inputs: Seq[DataType],
    val params: Seq[Param], val create: Seq[Int] => AggBuffer, val read: Array[Byte] => AggBuffer)
    extends GraftFunction(name, inputs.length) {
  def builder: Seq[Expression] => Expression = es => KernelAgg(name, checked(es))
  def apply(args: Column*): Column =
    GraftSqlShim.column(
      KernelAgg(name, checked(args.map(GraftSqlShim.expr))).toAggregateExpression())
}

/** graft's custom functions, one table. Each SQL name is written here once,
  * in its row; [[register]] (programmatic sessions) and [[GraftExtensions]]
  * (`spark.sql.extensions=` deployments) publish every row to SQL text, and
  * the rows themselves are the Column API.
  */
object GraftFunctions {
  private type Inputs = (String, Seq[Expression]) => TypeCheckResult
  private def types(expected: DataType*): Inputs = GraftTypeCheck.expect(_, _, expected)

  /** (array<float>, array<struct<long, array<float>>>): a vector against a
    * broadcast reference row, any field names. */
  private val vecVsRefs: Inputs = (name, es) => es.map(_.dataType) match {
    case Seq(ArrayType(FloatType, _), ArrayType(StructType(Array(f0, f1)), _))
        if f0.dataType == LongType &&
           (f1.dataType match { case ArrayType(FloatType, _) => true; case _ => false }) =>
      TypeCheckResult.TypeCheckSuccess
    case ts => TypeCheckResult.TypeCheckFailure(
      s"$name expects (array<float>, array<struct<long, array<float>>>), " +
        s"got (${ts.map(_.simpleString).mkString(", ")})")
  }

  private def k1[A](name: String, out: DataType, call: String, in: Inputs)(f: A => Any) =
    new Kernel(name, out, call, 1, in, a => f(a(0).asInstanceOf[A]))
  private def k2[A, B](name: String, out: DataType, call: String, in: Inputs)(f: (A, B) => Any) =
    new Kernel(name, out, call, 2, in, a => f(a(0).asInstanceOf[A], a(1).asInstanceOf[B]))
  private def k3[A, B, C](name: String, out: DataType, call: String, in: Inputs)(
      f: (A, B, C) => Any) =
    new Kernel(name, out, call, 3, in,
      a => f(a(0).asInstanceOf[A], a(1).asInstanceOf[B], a(2).asInstanceOf[C]))

  private val Vec = ArrayType(FloatType)
  private val Toks = ArrayType(StringType)
  private val Longs = ArrayType(LongType, containsNull = false)
  private val Marks = ArrayType(StructType(Seq(
    StructField("src_a", StringType, nullable = false),
    StructField("src_b", StringType, nullable = true))), containsNull = false)

  val cosineSim = k2("cosine_sim", DoubleType, "kernels.cosineF", types(Vec, Vec))(
    kernels.cosineF)
  // feature-hashing text projection: the "text tower" of cross-modal alignment
  val hashEmbed = k2("hash_embed", ArrayType(FloatType, containsNull = false),
    "kernels.hashEmbed", types(Toks, IntegerType))(kernels.hashEmbed)
  // poly31 window hashes, oracle-mirrorable (CrossHashSql.poly31 over the
  // space-joined grams)
  val gramHashes31 = k2("gram_hashes31", Longs, "crosskernels.gramHashes31",
    types(Toks, IntegerType))(crosskernels.gramHashes31)
  // per-query-term tf in one pass over the tokens: the BM25/search kernel
  val termCounts = k2("term_counts", Longs, "kernels.termCounts", types(Toks, Toks))(
    kernels.termCounts)
  val lshBuckets = k1("lsh_buckets", Longs, "kernels.lshBuckets", types(Vec))(kernels.lshBuckets)
  val overlapMarks = k1("overlap_marks", Marks, "kernels.overlapMarks", types(Toks))(
    kernels.overlapMarks)
  // overlap_marks over a bit-mask membership against the sorted source
  // domain; <=64-source domains only
  val overlapMarksMask = k2("overlap_marks_mask", Marks, "kernels.overlapMarksMask",
    types(LongType, Toks))(kernels.overlapMarksMask)
  val shingleStrings = k2("shingle_strings", ArrayType(StringType, containsNull = false),
    "crosskernels.shingleStrings", types(Toks, IntegerType))(crosskernels.shingleStrings)
  val simhash60 = k1("simhash60", LongType, "crosskernels.simhash60", types(Toks))(
    crosskernels.simhash60)
  // [lo, hi] = (simhash60(toks), simhash60('w'-prefixed toks)) in one pass
  val simhashWide120 = k1("simhash_wide120", Longs, "crosskernels.simhashWide120", types(Toks))(
    crosskernels.simhashWide120)
  // crosskernels.minhashSig31(shingle_strings(tokens, k), n) fused: identical
  // values, no shingle strings materialized
  val minhashShingleSig = k3("minhash_shingle_sig", Longs, "crosskernels.minhashShingleSig",
    types(Toks, IntegerType, IntegerType))(crosskernels.minhashShingleSig)
  // regexp_count without materializing the matches (Spark's built-in is
  // size(regexp_extract_all(...))): same java.util.regex find() traversal
  val regexCount = k2("regex_count", LongType, "kernels.regexCount",
    types(StringType, StringType))(kernels.regexCount)
  // Morton/Z-order interleave of the two dimensions' low 16 bits
  val interleaveBits = k2("interleave_bits", LongType, "kernels.interleaveBits16",
    types(LongType, LongType))(kernels.interleaveBits16)
  // the t06 punctuation counter: regexp_count(s, '[^A-Za-z0-9\s]')
  val nonAlnumCount = k1("non_alnum_count", LongType, "kernels.nonAlnumSpaceCount",
    types(StringType))(kernels.nonAlnumSpaceCount)
  // Unicode NFC before hashing; DuckDB mirrors it with nfc_normalize
  val nfcNorm = k1("nfc_norm", StringType, "crosskernels.nfc", types(StringType))(
    crosskernels.nfc)
  // per-subspace argmax-IP codebook assignment: the PQ index build kernel
  val pqEncode = k2("pq_encode", ArrayType(IntegerType, containsNull = false),
    "crosskernels.pqEncode", types(Vec, ArrayType(ArrayType(Vec))))(crosskernels.pqEncode)
  // argmax-cosine codebook assignment: the IVF cell kernel
  val nearestCentroid = k2("nearest_centroid", LongType, "kernels.nearestCentroid", vecVsRefs)(
    kernels.nearestCentroid)
  // nearest_centroid and the max cosine in one pass: d27's decontamination
  // verdict
  val nearestCosine = k2("nearest_cosine", StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("sim", DoubleType, nullable = false))),
    "kernels.nearestCosine", vecVsRefs)(kernels.nearestCosine)
  // [self, parent, ..., root] in the derived balanced tree
  val treeAncestors = k1("tree_ancestors", Longs, "kernels.treeAncestors", types(LongType))(
    kernels.treeAncestors)
  val cmsQuery = k2("cms_query", LongType, "cms.query", types(Longs, StringType))(
    cms.query)
  val bloomContains = k2("bloom_contains", BooleanType, "bloom.contains",
    types(BinaryType, StringType))(bloom.contains)

  // the k largest values, sorted descending
  val topkAgg = new Aggregate("topk_agg", ArrayType(DoubleType, containsNull = false),
    Seq(DoubleType, IntegerType), Seq(Param(1, "k", ">= 1", _ >= 1)),
    p => new TopKBuffer(p(0)), TopKBuffer.read)
  // (str, numBits, numHashes): a Bloom filter, probed by bloom_contains
  val bloomAgg = new Aggregate("bloom_agg", BinaryType, Seq(StringType, IntegerType, IntegerType),
    Seq(Param(1, "numBits", "a positive multiple of 8", b => b > 0 && b % 8 == 0),
      Param(2, "numHashes", ">= 1", _ >= 1)),
    p => new BloomBuffer(p(1), p(0)), BloomBuffer.read)
  // (term, weight, depth, width): a Count-Min Sketch, probed by cms_query
  val cmsAgg = new Aggregate("cms_agg", ArrayType(LongType, containsNull = false),
    Seq(StringType, LongType, IntegerType, IntegerType),
    Seq(Param(2, "depth", s"in [1, ${CrossHash.MaxHashes}]",
        d => d > 0 && d <= CrossHash.MaxHashes),
      Param(3, "width", "positive", _ > 0)),
    p => new CmsBuffer(p(0), p(1)), CmsBuffer.read)
  // (vector, dim): the element-wise mean
  val vecMeanAgg = new Aggregate("vec_mean_agg", ArrayType(FloatType, containsNull = false),
    Seq(ArrayType(FloatType), IntegerType), Seq(Param(1, "dim", "positive", _ > 0)),
    p => new VecSumBuffer(p(0)), VecSumBuffer.read)

  /** Every function, in registration order. */
  val table: Seq[GraftFunction] = Seq(cosineSim, hashEmbed, gramHashes31, termCounts,
    lshBuckets, overlapMarks, overlapMarksMask, shingleStrings, simhash60, simhashWide120,
    minhashShingleSig, regexCount, interleaveBits, nonAlnumCount, nfcNorm, pqEncode,
    nearestCentroid, nearestCosine, treeAncestors, cmsQuery, bloomContains, topkAgg, bloomAgg,
    cmsAgg, vecMeanAgg)

  private val byName: Map[String, GraftFunction] = table.map(f => f.name -> f).toMap

  /** The row a [[KernelExpr]] or [[KernelAgg]] key names. */
  def row[F <: GraftFunction](name: String): F = byName(name).asInstanceOf[F]

  /** Idempotently register all graft functions on a session, for SQL text. */
  def register(spark: SparkSession): Unit = table.foreach { f =>
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(f.name, f.builder, "built-in")
  }
}

/** `spark.sql.extensions=graft.functions.GraftExtensions` injection point. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.table.foreach { f =>
      ext.injectFunction(
        (FunctionIdentifier(f.name), new ExpressionInfo("graft.functions", f.name), f.builder))
    }
    // whole-operator extension: plans graft.plans.AsOfJoin into its
    // sort-merge exec for sessions configured with spark.sql.extensions
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    // domain algebraic rewrites (nfc idempotence) as an optimizer rule
    ext.injectOptimizerRule(_ => graft.plans.GraftOptimizations)
  }
}
