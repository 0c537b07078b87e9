package graft.functions

import org.apache.spark.sql.{Column, GraftSqlShim, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction
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

/** One of the TypedImperativeAggregates (topk, bloom, cms, vec_mean). */
final class Aggregate(name: String, arity: Int, build: Seq[Expression] => AggregateFunction)
    extends GraftFunction(name, arity) {
  def builder: Seq[Expression] => Expression = es => build(checked(es))
  def apply(args: Column*): Column =
    GraftSqlShim.column(build(checked(args.map(GraftSqlShim.expr))).toAggregateExpression())
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
  val simhash64 = k1("simhash64", LongType, "kernels.simhash64", types(Toks))(kernels.simhash64)
  val shingleHashes = k2("shingle_hashes", Longs, "kernels.shingleHashes",
    types(Toks, IntegerType))(kernels.shingleHashes)
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
  val minhashSig31 = k2("minhash_sig31", Longs, "crosskernels.minhashSig31",
    types(Toks, IntegerType))(crosskernels.minhashSig31)
  // minhash_sig31(shingle_strings(tokens, k), n) fused: identical values, no
  // shingle strings materialized
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
  // max cosine against the reference row: d27's decontamination verdict
  val maxCosine = k2("max_cosine", DoubleType, "kernels.maxCosine", vecVsRefs)(kernels.maxCosine)
  // nearest_centroid and max_cosine fused into one pass, bit-identical fields
  val nearestCosine = k2("nearest_cosine", StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("sim", DoubleType, nullable = false))),
    "kernels.nearestCosine", vecVsRefs)(kernels.nearestCosine)
  // [self, parent, ..., root] in the derived balanced tree
  val treeAncestors = k1("tree_ancestors", Longs, "kernels.treeAncestors", types(LongType))(
    kernels.treeAncestors)
  val minhashSig = k2("minhash_sig", Longs, "kernels.minhashSignature",
    types(ArrayType(LongType), IntegerType))(kernels.minhashSignature)
  val cmsQuery = k2("cms_query", LongType, "cms.query", types(Longs, StringType))(
    cms.query)
  val bloomContains = k2("bloom_contains", BooleanType, "bloom.contains",
    types(BinaryType, StringType))(bloom.contains)

  val topkAgg = new Aggregate("topk_agg", 2, es => TopKAggExpr(es(0), es(1)))
  val bloomAgg = new Aggregate("bloom_agg", 3, es => BloomAggExpr(es(0), es(1), es(2)))
  val cmsAgg = new Aggregate("cms_agg", 4, es => CmsAggExpr(es(0), es(1), es(2), es(3)))
  val vecMeanAgg = new Aggregate("vec_mean_agg", 2, es => VecMeanAggExpr(es(0), es(1)))

  /** Every function, in registration order. */
  val table: Seq[GraftFunction] = Seq(cosineSim, hashEmbed, simhash64, shingleHashes,
    gramHashes31, termCounts, lshBuckets, overlapMarks, overlapMarksMask, shingleStrings,
    simhash60, simhashWide120, minhashSig31, minhashShingleSig, regexCount, interleaveBits,
    nonAlnumCount, nfcNorm, pqEncode, nearestCentroid, maxCosine, nearestCosine, treeAncestors,
    minhashSig, cmsQuery, bloomContains, topkAgg, bloomAgg, cmsAgg, vecMeanAgg)

  private val kernelsByName: Map[String, Kernel] =
    table.collect { case k: Kernel => k.name -> k }.toMap

  /** The kernel row a [[KernelExpr]] key names. */
  def kernel(name: String): Kernel = kernelsByName(name)

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
