package graft

import org.apache.spark.sql.{AnalysisException, GraftSqlShim}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.{BloomBuffer, GraftFunctions, Kernel, KernelExpr}

/** One case per kernel row of [[GraftFunctions]]: the two paths the generic
  * [[KernelExpr]] adds on top of the kernels themselves (which
  * [[KernelPropertySpec]] covers). Interpreted `eval` must equal the
  * codegen'd projection on seeded generated inputs, nulls included, and a
  * wrong-typed argument must fail analysis with the row's type-check message.
  */
class KernelParitySpec extends SparkSpec {
  private val rng = new scala.util.Random(8)

  private val pool = Seq("a", "b", "the", "of", "x1", "Caf\u00e9", "Cafe\u0301", "na\u00efve", "\u6f22\u5b57",
    "\ud83d\ude00", "", "a,b;c", "!!", "\t")
  private def word() = pool(rng.nextInt(pool.size))
  private def str() = UTF8String.fromString(Seq.fill(rng.nextInt(5))(word()).mkString(" "))
  private def arr(xs: Seq[Any]): ArrayData = new GenericArrayData(xs.toArray)
  private def toks() = arr(Seq.fill(rng.nextInt(9))(UTF8String.fromString(word())))
  private def vec(dim: Int = 64) = arr(Seq.fill(dim)(rng.nextFloat() * 2 - 1))
  private def refs() = arr(Seq.tabulate(1 + rng.nextInt(4))(i => InternalRow(i.toLong, vec())))
  private def small(hi: Int) = 1 + rng.nextInt(hi)
  private def names(n: Int) = arr((0 until n).map(i => UTF8String.fromString(f"src$i%02d")))

  private val Vec = ArrayType(FloatType)
  private val Toks = ArrayType(StringType)
  private val Refs = ArrayType(StructType(Seq(
    StructField("id", LongType), StructField("emb", ArrayType(FloatType)))))

  /** Per kernel row: argument types and a generator of non-null values. */
  private val cases: Map[String, (Seq[DataType], () => Seq[Any])] = Map(
    "cosine_sim" -> (Seq(Vec, Vec), () => Seq(vec(), vec())),
    "hash_embed" -> (Seq(Toks, IntegerType), () => Seq(toks(), small(16))),
    "gram_hashes31" -> (Seq(Toks, IntegerType), () => Seq(toks(), small(3))),
    "term_counts" -> (Seq(Toks, Toks), () => Seq(toks(), toks())),
    "lsh_buckets" -> (Seq(Vec), () => Seq(vec())),
    "overlap_marks" -> (Seq(Toks), () => Seq(names(rng.nextInt(6)))),
    "overlap_marks_mask" -> (Seq(LongType, Toks), () => Seq(rng.nextInt(64).toLong, names(6))),
    "shingle_strings" -> (Seq(Toks, IntegerType), () => Seq(toks(), small(3))),
    "simhash60" -> (Seq(Toks), () => Seq(toks())),
    "simhash_wide120" -> (Seq(Toks), () => Seq(toks())),
    "minhash_shingle_sig" -> (Seq(Toks, IntegerType, IntegerType),
      () => Seq(toks(), small(3), small(64))),
    "regex_count" -> (Seq(StringType, StringType), () => Seq(str(),
      UTF8String.fromString(Seq("\\s+", "[^A-Za-z0-9\\s]", "\\b(the|of)\\b", "a")(rng.nextInt(4))))),
    "interleave_bits" -> (Seq(LongType, LongType), () => Seq(rng.nextLong(), rng.nextLong())),
    "non_alnum_count" -> (Seq(StringType), () => Seq(str())),
    "nfc_norm" -> (Seq(StringType), () => Seq(str())),
    "pq_encode" -> (Seq(Vec, ArrayType(ArrayType(Vec))),
      () => Seq(vec(), arr(Seq.fill(8)(arr(Seq.fill(4)(vec(8))))))),
    "nearest_centroid" -> (Seq(Vec, Refs), () => Seq(vec(), refs())),
    "nearest_cosine" -> (Seq(Vec, Refs), () => Seq(vec(), refs())),
    "tree_ancestors" -> (Seq(LongType), () => Seq(rng.nextInt(1 << 20).toLong)),
    "cms_query" -> (Seq(ArrayType(LongType, containsNull = false), StringType), () => {
      val depth = small(4)
      Seq(arr(depth.toLong +: Seq.fill(depth * small(16))(rng.nextInt(100).toLong)), str())
    }),
    "bloom_contains" -> (Seq(BinaryType, StringType), () => {
      val b = new BloomBuffer(small(5), 8 * small(8))
      Seq.fill(rng.nextInt(6))(str()).foreach(b.add)
      Seq(b.serialized, str())
    }))

  private val kernelRows = GraftFunctions.table.collect { case k: Kernel => k }

  test("every kernel row has a parity case") {
    assert(kernelRows.map(_.name).toSet == cases.keySet)
  }

  private def toScala(v: Any, dt: DataType): Any = CatalystTypeConverters.convertToScala(v, dt) match {
    case b: Array[Byte] => b.toSeq
    case other => other
  }

  for (k <- kernelRows; (types, gen) <- cases.get(k.name)) {
    test(s"${k.name}: interpreted eval equals codegen, nulls included; wrong types fail analysis") {
      def check(nullable: Boolean, args: Seq[Any]): Unit = {
        val e = KernelExpr(k.name, types.zipWithIndex.map { case (t, i) =>
          BoundReference(i, t, nullable) })
        val row = InternalRow.fromSeq(args)
        val interpreted = e.eval(row)
        val generated = GenerateUnsafeProjection.generate(Seq(e)).apply(row)
        val codegen = if (generated.isNullAt(0)) null else generated.get(0, e.dataType)
        assert(toScala(interpreted, e.dataType) == toScala(codegen, e.dataType),
          s"${k.name} on ${args.mkString(", ")}")
      }
      for (_ <- 1 to 25) {
        val args = gen()
        check(nullable = false, args)
        check(nullable = true, args)
        // a null in any one position propagates without calling the kernel
        args.indices.foreach(i => check(nullable = true, args.updated(i, null)))
      }

      val wrong = Literal(true) +: types.tail.map(Literal.create(null, _))
      val msg = k.inputs(k.name, wrong) match {
        case TypeCheckResult.TypeCheckFailure(m) => m
        case r => fail(s"${k.name} accepted a boolean first argument: $r")
      }
      assert(msg.contains(k.name))
      val err = intercept[AnalysisException](
        spark.range(1).select(k(wrong.map(GraftSqlShim.column): _*)))
      assert(err.getMessage.contains(msg), err.getMessage)
    }
  }

  test("a wrong argument count fails where the expression is built, naming the function") {
    for (f <- GraftFunctions.table; n <- Seq(f.arity - 1, f.arity + 1)) {
      val err = intercept[IllegalArgumentException](f(Seq.fill(n)(lit(1)): _*))
      assert(err.getMessage.contains(s"${f.name} expects ${f.arity} argument(s), got $n"),
        err.getMessage)
    }
    // a KernelExpr built around the table still fails analysis
    val err = intercept[AnalysisException](spark.range(1).select(
      GraftSqlShim.column(KernelExpr("cosine_sim", Seq(Literal.create(null, Vec))))))
    assert(err.getMessage.contains("cosine_sim expects 2 argument(s), got 1"), err.getMessage)
  }
}
