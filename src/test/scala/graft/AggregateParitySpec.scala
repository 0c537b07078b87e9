package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._
import graft.functions.{Aggregate, GraftFunctions, KernelAgg}

/** One case per aggregate row of [[GraftFunctions]]: the two contracts the
  * generic [[KernelAgg]] carries for every aggregate. Seeded input with
  * nulls aggregates to the same result over 1 partition and over 7 (partial
  * buffers merged), and a buffer read back from its bytes evaluates to the
  * same result as the buffer itself.
  */
class AggregateParitySpec extends SparkSpec {
  private val rng = new scala.util.Random(9)
  private def orNull[A](a: => A): Any = if (rng.nextInt(5) == 0) null else a
  private val words = Seq("a", "b", "the", "of", "Café", "漢字", "", "x1", "x2", "x3")
  private def word() = orNull(words(rng.nextInt(words.size)))

  /** Per aggregate row: the types of its non-literal arguments, its literal
    * arguments (which follow them), and a generator of one input row. Vector
    * components are quarters, so their double sums are exact in any order.
    */
  private val cases: Map[String, (Seq[DataType], Seq[Any], () => Seq[Any])] = Map(
    "topk_agg" -> (Seq(DoubleType), Seq(5), () => Seq(orNull(rng.nextInt(50) / 2.0))),
    "bloom_agg" -> (Seq(StringType), Seq(256, 3), () => Seq(word())),
    "cms_agg" -> (Seq(StringType, LongType), Seq(4, 32),
      () => Seq(word(), orNull(rng.nextInt(9).toLong))),
    "vec_mean_agg" -> (Seq(ArrayType(FloatType)), Seq(4),
      () => Seq(orNull(Seq.fill(4)(rng.nextInt(64) / 4f - 8f)))))

  private val aggregateRows = GraftFunctions.table.collect { case a: Aggregate => a }

  test("every aggregate row has a parity case") {
    assert(aggregateRows.map(_.name).toSet == cases.keySet)
  }

  private def plain(v: Any): Any = v match {
    case b: Array[Byte] => b.toSeq
    case other => other
  }
  private def toScala(v: Any, dt: DataType) = plain(CatalystTypeConverters.convertToScala(v, dt))

  for (a <- aggregateRows; (types, params, gen) <- cases.get(a.name)) {
    test(s"${a.name}: 1 and 7 partitions agree with nulls in the input; serde keeps the result") {
      val input = Seq.fill(200)(rng.nextInt(4) +: gen())
      val schema = StructType(StructField("g", IntegerType) +:
        types.zipWithIndex.map { case (t, i) => StructField(s"c$i", t) })
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(input.map(Row.fromSeq), 3), schema)
      val call = a(types.indices.map(i => col(s"c$i")) ++ params.map(lit): _*).as("r")
      def run(d: org.apache.spark.sql.DataFrame) =
        d.groupBy(col("g")).agg(call).orderBy(col("g")).collect().toSeq
          .map(r => r.getInt(0) -> plain(r.get(1)))
      val one = run(df.coalesce(1))
      assert(one.length == 4)
      assert(one == run(df.repartition(7)), a.name)

      val agg = KernelAgg(a.name, types.zipWithIndex.map { case (t, i) =>
        BoundReference(i, t, nullable = true) } ++ params.map(Literal(_)))
      val buffer = agg.createAggregationBuffer()
      input.foreach(r => agg.update(buffer,
        InternalRow.fromSeq(r.tail.map(CatalystTypeConverters.convertToCatalyst))))
      assert(toScala(agg.eval(agg.deserialize(agg.serialize(buffer))), agg.dataType) ==
        toScala(agg.eval(buffer), agg.dataType), a.name)
    }
  }
}
