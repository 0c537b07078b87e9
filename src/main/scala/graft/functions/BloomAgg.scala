package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Classic Bloom filter over strings with double hashing
  * (Kirsch-Mitzenmacher: bit_i = (h1 + i*h2) mod m) built from the two
  * salted poly31 hashes, so membership tests are deterministic and
  * engine-independent. Layout: [numHashes: int32 BE][bit bytes...], bit n
  * lives at byte n>>3, mask 1<<(n&7).
  */
object bloom {
  import CrossHash.poly31

  def bitPositions(s: UTF8String, numHashes: Int, numBits: Int): Array[Int] = {
    val h1 = poly31(s, 3)
    val h2 = poly31(s, 4) | 1L // odd step so the probe walks all residues
    val out = new Array[Int](numHashes)
    var i = 0
    while (i < numHashes) {
      out(i) = (((h1 + i * h2) % numBits + numBits) % numBits).toInt
      i += 1
    }
    out
  }

  /** Membership test against the serialized [numHashes][bits] layout. */
  def contains(bytes: Array[Byte], s: UTF8String): Boolean = {
    val numHashes = ((bytes(0) & 0xff) << 24) | ((bytes(1) & 0xff) << 16) |
      ((bytes(2) & 0xff) << 8) | (bytes(3) & 0xff)
    val numBits = (bytes.length - 4) * 8
    val pos = bitPositions(s, numHashes, numBits)
    var i = 0
    while (i < pos.length) {
      val n = pos(i)
      if ((bytes(4 + (n >> 3)) & (1 << (n & 7))) == 0) return false
      i += 1
    }
    true
  }
}

/** Mutable build-side buffer: header + bit array, merged by bitwise OR. */
final class BloomBuffer(val numHashes: Int, val numBits: Int) {
  val bits = new Array[Byte](numBits / 8)
  def add(s: UTF8String): Unit = {
    val pos = bloom.bitPositions(s, numHashes, numBits)
    var i = 0
    while (i < pos.length) {
      val n = pos(i)
      bits(n >> 3) = (bits(n >> 3) | (1 << (n & 7))).toByte
      i += 1
    }
  }
  def orFrom(other: BloomBuffer): Unit = {
    var i = 0
    while (i < bits.length) { bits(i) = (bits(i) | other.bits(i)).toByte; i += 1 }
  }
  def serialized: Array[Byte] = {
    val out = new Array[Byte](4 + bits.length)
    out(0) = (numHashes >> 24).toByte; out(1) = (numHashes >> 16).toByte
    out(2) = (numHashes >> 8).toByte; out(3) = numHashes.toByte
    System.arraycopy(bits, 0, out, 4, bits.length)
    out
  }
}

/** bloom_agg(str, numBits, numHashes) -> binary: a distributed Bloom-filter
  * build as a custom aggregate. The buffer is a fixed-size bit array that
  * partial-aggregates map-side and merges by bitwise OR, so building over
  * N rows ships numBits/8 bytes per partition — never the rows. Pairs with
  * the `bloom_contains` kernel row for the probe side.
  */
case class BloomAggExpr(
    child: Expression,
    bitsExpr: Expression,
    hashesExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[BloomBuffer] {

  private lazy val numBits: Int = {
    val b = bitsExpr.eval(InternalRow.empty).asInstanceOf[Int]
    require(b > 0 && b % 8 == 0, "bloom_agg: numBits must be a positive multiple of 8")
    b
  }
  private lazy val numHashes: Int = hashesExpr.eval(InternalRow.empty).asInstanceOf[Int]

  override def children: Seq[Expression] = Seq(child, bitsExpr, hashesExpr)
  override def checkInputDataTypes(): TypeCheckResult =
    if (!bitsExpr.foldable || !hashesExpr.foldable)
      TypeCheckResult.TypeCheckFailure("bloom_agg: numBits/numHashes must be literals")
    else
      GraftTypeCheck.expect(prettyName, children, Seq(StringType, IntegerType, IntegerType))
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false

  override def createAggregationBuffer(): BloomBuffer = new BloomBuffer(numHashes, numBits)

  override def update(buffer: BloomBuffer, input: InternalRow): BloomBuffer = {
    val v = child.eval(input)
    if (v != null) buffer.add(v.asInstanceOf[UTF8String])
    buffer
  }

  override def merge(buffer: BloomBuffer, other: BloomBuffer): BloomBuffer = {
    buffer.orFrom(other)
    buffer
  }

  override def eval(buffer: BloomBuffer): Any = buffer.serialized

  override def serialize(buffer: BloomBuffer): Array[Byte] = buffer.serialized

  override def deserialize(bytes: Array[Byte]): BloomBuffer = {
    val numHashes = ((bytes(0) & 0xff) << 24) | ((bytes(1) & 0xff) << 16) |
      ((bytes(2) & 0xff) << 8) | (bytes(3) & 0xff)
    val buf = new BloomBuffer(numHashes, (bytes.length - 4) * 8)
    System.arraycopy(bytes, 4, buf.bits, 0, bytes.length - 4)
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): BloomAggExpr =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BloomAggExpr =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0), bitsExpr = newChildren(1), hashesExpr = newChildren(2))
  override def prettyName: String = GraftFunctions.bloomAgg.name
}
