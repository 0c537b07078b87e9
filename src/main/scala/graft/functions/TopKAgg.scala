package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Bounded top-k buffer: a k-capped min-heap of doubles. Multiset semantics
  * over VALUES, so the result is deterministic regardless of row order or
  * partitioning (ties are identical values — whichever rows carried them,
  * the k largest values are the same).
  */
final class TopKBuffer(val k: Int) {
  val heap = new java.util.PriorityQueue[java.lang.Double](math.max(k, 1))
  def add(v: Double): Unit = {
    // the gate uses the same total order as the heap (Double.compare), so
    // NaN consistently ranks above everything (it can be displaced like any
    // other max) and -0.0 < 0.0 — mixing primitive `<` with compareTo let
    // one NaN permanently block the buffer
    if (heap.size < k) heap.add(v)
    else if (java.lang.Double.compare(heap.peek(), v) < 0) { heap.poll(); heap.add(v) }
  }
  def mergeFrom(other: TopKBuffer): Unit = other.heap.forEach(v => add(v))
  def sortedDesc: Array[Double] = {
    val a = new Array[Double](heap.size)
    var i = 0
    val it = heap.iterator()
    while (it.hasNext) { a(i) = it.next(); i += 1 }
    java.util.Arrays.sort(a)
    val out = new Array[Double](a.length)
    i = 0
    while (i < a.length) { out(i) = a(a.length - 1 - i); i += 1 }
    out
  }
}

/** topk_agg(value, k) -> array<double>: the k largest values, sorted
  * descending — a custom Catalyst AGGREGATE (TypedImperativeAggregate), the
  * third extension surface next to the scalar expressions and the as-of
  * join plan. The buffer is a k-capped min-heap, so update is O(log k) and
  * partial aggregation runs map-side: each partition ships at most k
  * doubles to the final merge, never its rows — at 100 TB the shuffle
  * carries k x partitions values. serialize/deserialize round-trips the
  * heap through the standard byte-array buffer contract.
  */
case class TopKAggExpr(
    child: Expression,
    kExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[TopKBuffer] {

  private lazy val k: Int = kExpr.eval(InternalRow.empty).asInstanceOf[Int]

  override def children: Seq[Expression] = Seq(child, kExpr)
  override def checkInputDataTypes(): TypeCheckResult =
    if (!kExpr.foldable)
      TypeCheckResult.TypeCheckFailure("topk_agg: k must be a literal")
    else {
      val typed = GraftTypeCheck.expect(prettyName, Seq(child, kExpr), Seq(DoubleType, IntegerType))
      if (typed != TypeCheckResult.TypeCheckSuccess) typed
      else kExpr.eval(InternalRow.empty) match {
        // k < 1 must be an ANALYSIS error, not an opaque runtime NPE from
        // peeking an empty heap (mirrors bloom_agg's numBits validation)
        case kv: Integer if kv >= 1 => TypeCheckResult.TypeCheckSuccess
        case kv => TypeCheckResult.TypeCheckFailure(s"topk_agg: k must be >= 1, got $kv")
      }
    }
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = false

  override def createAggregationBuffer(): TopKBuffer = new TopKBuffer(k)

  override def update(buffer: TopKBuffer, input: InternalRow): TopKBuffer = {
    val v = child.eval(input)
    if (v != null) buffer.add(v.asInstanceOf[Double])
    buffer
  }

  override def merge(buffer: TopKBuffer, other: TopKBuffer): TopKBuffer = {
    buffer.mergeFrom(other)
    buffer
  }

  override def eval(buffer: TopKBuffer): Any =
    new GenericArrayData(buffer.sortedDesc)

  override def serialize(buffer: TopKBuffer): Array[Byte] = {
    val vals = buffer.sortedDesc
    val bb = ByteBuffer.allocate(8 + 8 * vals.length)
    bb.putInt(buffer.k)
    bb.putInt(vals.length)
    vals.foreach(bb.putDouble)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new TopKBuffer(bb.getInt)
    val n = bb.getInt
    var i = 0
    while (i < n) { buf.add(bb.getDouble); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKAggExpr =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKAggExpr =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0), kExpr = newChildren(1))
  override def prettyName: String = GraftFunctions.topkAgg.name
}
