package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Count-Min Sketch over strings — the bounded-memory heavy-hitter path:
  * depth hash rows × width counters, bucket_i(t) = ((A_i·poly31(t) + B_i)
  * mod P) mod width with the SAME affine family the minhash kernels use,
  * so a DuckDB oracle recomputes every counter exactly (the sketch is
  * deterministic, not randomized per run — estimates hash-compare across
  * engines). `add` takes a WEIGHT so the sketch can be built from
  * pre-aggregated (term, count) rows as well as raw token streams.
  *
  * Result layout: array<long> of [depth, counts...] — self-describing, so
  * the probe side needs no out-of-band parameters.
  */
final class CmsBuffer(val depth: Int, val width: Int) {
  val counts = new Array[Long](depth * width)

  def add(s: UTF8String, weight: Long): Unit = {
    val h = CrossHash.poly31(s, 0)
    var i = 0
    while (i < depth) {
      val b = (((CrossHash.A(i) * h + CrossHash.B(i)) % CrossHash.P) % width).toInt
      counts(i * width + b) += weight
      i += 1
    }
  }

  def addFrom(other: CmsBuffer): Unit = {
    var i = 0
    while (i < counts.length) { counts(i) += other.counts(i); i += 1 }
  }
}

object cms {
  /** Point estimate from the [depth, counts...] layout: min over rows of
    * the counter the term hashes into. Never underestimates.
    */
  def query(arr: ArrayData, s: UTF8String): Long = {
    val depth = arr.getLong(0).toInt
    val width = (arr.numElements() - 1) / depth
    val h = CrossHash.poly31(s, 0)
    var best = Long.MaxValue
    var i = 0
    while (i < depth) {
      val b = (((CrossHash.A(i) * h + CrossHash.B(i)) % CrossHash.P) % width).toInt
      val c = arr.getLong(1 + i * width + b)
      if (c < best) best = c
      i += 1
    }
    best
  }
}

/** cms_agg(term, weight, depth, width) -> array<long>: distributed CMS
  * build. The buffer is depth*width longs that partial-aggregate map-side
  * and merge by elementwise add — 8*depth*width bytes per partition cross
  * the wire, never the rows, the same scale contract as bloom_agg.
  */
case class CmsAggExpr(
    child: Expression,
    weightExpr: Expression,
    depthExpr: Expression,
    widthExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[CmsBuffer] {

  private lazy val depth: Int = {
    val d = depthExpr.eval(InternalRow.empty).asInstanceOf[Int]
    require(d > 0 && d <= CrossHash.MaxHashes, s"cms_agg: depth must be in [1, ${CrossHash.MaxHashes}]")
    d
  }
  private lazy val width: Int = {
    val w = widthExpr.eval(InternalRow.empty).asInstanceOf[Int]
    require(w > 0, "cms_agg: width must be positive")
    w
  }

  override def children: Seq[Expression] = Seq(child, weightExpr, depthExpr, widthExpr)
  override def checkInputDataTypes(): TypeCheckResult =
    if (!depthExpr.foldable || !widthExpr.foldable)
      TypeCheckResult.TypeCheckFailure("cms_agg: depth/width must be literals")
    else
      GraftTypeCheck.expect(prettyName, children,
        Seq(StringType, LongType, IntegerType, IntegerType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false

  override def createAggregationBuffer(): CmsBuffer = new CmsBuffer(depth, width)

  override def update(buffer: CmsBuffer, input: InternalRow): CmsBuffer = {
    val v = child.eval(input)
    val w = weightExpr.eval(input)
    if (v != null && w != null) {
      val wl = w.asInstanceOf[Long]
      // A negative weight would silently break the one-sided-error
      // guarantee (cms_query could UNDERcount), which every consumer and
      // spec assumes unconditionally — fail loudly instead.
      if (wl < 0)
        throw new IllegalArgumentException(
          s"cms_agg: negative weight $wl would break the CMS overestimate guarantee")
      buffer.add(v.asInstanceOf[UTF8String], wl)
    }
    buffer
  }

  override def merge(buffer: CmsBuffer, other: CmsBuffer): CmsBuffer = {
    buffer.addFrom(other)
    buffer
  }

  override def eval(buffer: CmsBuffer): Any = {
    val out = new Array[Long](1 + buffer.counts.length)
    out(0) = buffer.depth.toLong
    System.arraycopy(buffer.counts, 0, out, 1, buffer.counts.length)
    ArrayData.toArrayData(out)
  }

  override def serialize(buffer: CmsBuffer): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 + 8 * buffer.counts.length)
    bb.putInt(buffer.depth).putInt(buffer.width)
    buffer.counts.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): CmsBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new CmsBuffer(bb.getInt(), bb.getInt())
    var i = 0
    while (i < buf.counts.length) { buf.counts(i) = bb.getLong(); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): CmsAggExpr =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CmsAggExpr =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0), weightExpr = newChildren(1),
         depthExpr = newChildren(2), widthExpr = newChildren(3))
  override def prettyName: String = GraftFunctions.cmsAgg.name
}
