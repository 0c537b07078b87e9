package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Mutable (count, element-wise double sums) buffer over array<float> rows —
  * the k-means mean step. One in-place tight loop per row; partials merge by
  * element-wise add, so the exchange carries one (8 + dim*8)-byte buffer per
  * (group, partition) — never the corpus.
  */
final class VecSumBuffer(val dim: Int) {
  val sums = new Array[Double](dim)
  var n = 0L
  def add(v: ArrayData): Unit = {
    // fail loudly on a malformed vector: UnsafeArrayData.getFloat has no
    // bounds check, so a shorter-than-dim row would otherwise read garbage
    if (v.numElements() != dim)
      throw new IllegalArgumentException(
        s"vec_mean_agg: input vector has ${v.numElements()} elements, expected $dim")
    var i = 0
    while (i < dim) { sums(i) += v.getFloat(i); i += 1 }
    n += 1L
  }
  def mergeFrom(o: VecSumBuffer): Unit = {
    var i = 0
    while (i < dim) { sums(i) += o.sums(i); i += 1 }
    n += o.n
  }
}

/** vec_mean_agg(array<float>, dim) -> array<float>: element-wise mean with
  * Double accumulation (Float means stay stable against partial-merge order
  * — the kmeansCentroids determinism contract). Chosen over the two
  * measured alternatives at sf0.1: a typed map/groupByKey/reduceGroups
  * chain (per-row Array[Double] allocation + tuple ser/deser, 0.27 s hot)
  * and 64 built-in sum(element_at(...)) DeclarativeAggregates (64 unsafe
  * buffer slots + a ~2.5 s whole-stage codegen compile for the generated
  * 65-agg function, 0.46 s hot); this buffer updates in place per row.
  */
case class VecMeanAggExpr(
    child: Expression,
    dimExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[VecSumBuffer] {

  private lazy val dim: Int = {
    val d = dimExpr.eval(InternalRow.empty).asInstanceOf[Int]
    require(d > 0, "vec_mean_agg: dim must be positive")
    d
  }

  override def children: Seq[Expression] = Seq(child, dimExpr)
  override def checkInputDataTypes(): TypeCheckResult =
    if (!dimExpr.foldable)
      TypeCheckResult.TypeCheckFailure("vec_mean_agg: dim must be a literal")
    else
      GraftTypeCheck.expect(prettyName, children, Seq(ArrayType(FloatType), IntegerType))
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def nullable: Boolean = false

  override def createAggregationBuffer(): VecSumBuffer = new VecSumBuffer(dim)

  override def update(buffer: VecSumBuffer, input: InternalRow): VecSumBuffer = {
    val v = child.eval(input)
    if (v != null) buffer.add(v.asInstanceOf[ArrayData])
    buffer
  }

  override def merge(buffer: VecSumBuffer, other: VecSumBuffer): VecSumBuffer = {
    buffer.mergeFrom(other)
    buffer
  }

  override def eval(buffer: VecSumBuffer): Any = {
    // a group whose vectors were all null reaches eval with n = 0; dividing
    // would silently emit a NaN-filled non-null array — raise instead
    if (buffer.n == 0L)
      throw new IllegalArgumentException(
        "vec_mean_agg: group contains no non-null vectors — mean is undefined")
    val out = new Array[Any](dim)
    var i = 0
    while (i < dim) { out(i) = (buffer.sums(i) / buffer.n).toFloat; i += 1 }
    new GenericArrayData(out)
  }

  override def serialize(buffer: VecSumBuffer): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 + 8 * dim)
    bb.putLong(buffer.n)
    var i = 0
    while (i < dim) { bb.putDouble(buffer.sums(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): VecSumBuffer = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val buf = new VecSumBuffer((bytes.length - 8) / 8)
    buf.n = bb.getLong()
    var i = 0
    while (i < buf.dim) { buf.sums(i) = bb.getDouble(); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): VecMeanAggExpr =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): VecMeanAggExpr =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0), dimExpr = newChildren(1))
  override def prettyName: String = GraftFunctions.vecMeanAgg.name
}
