package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The state of one [[Aggregate]] row inside [[KernelAgg]]: that
  * aggregate's own update, merge, result and byte layout. Each row reads
  * its buffer back from [[bytes]] with its own `read`.
  */
abstract class AggBuffer {
  /** Folds in one input row: the row's non-literal arguments, in argument
    * order, none of them null. */
  def update(in: Array[Any]): Unit
  /** Folds in a partial buffer of the same row. */
  def merge(other: AggBuffer): Unit
  def result: Any
  def bytes: Array[Byte]
}

/** The one Catalyst aggregate behind graft's table: `key` names an
  * [[Aggregate]] row of [[GraftFunctions]], which supplies the input types,
  * the literal parameters with their range checks, the result type and the
  * buffer class. A row whose non-literal arguments include a null is
  * skipped. Each partition ships its buffer's bytes to the final merge,
  * never its rows, so the aggregate partial-aggregates map-side. Plans print
  * it as `key(args, offsets)`, and equality is by (key, children, offsets).
  */
case class KernelAgg(
    key: String,
    children: Seq[Expression],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[AggBuffer] {
  @transient private lazy val row: Aggregate = GraftFunctions.row[Aggregate](key)
  @transient private lazy val data: Array[Expression] = {
    val literal = row.params.map(_.pos).toSet
    children.indices.filterNot(literal).map(children).toArray
  }
  @transient private lazy val values: Seq[Int] =
    row.params.map(p => children(p.pos).eval().asInstanceOf[Int])

  override def prettyName: String = key
  override protected def stringArgs: Iterator[Any] =
    children.iterator ++ Iterator(mutableAggBufferOffset, inputAggBufferOffset)
  override def nullable: Boolean = false
  override def dataType: DataType = row.dataType

  /** Arity, then literal-ness, then types, then each literal's range: a bad
    * parameter fails analysis, never a task. */
  override def checkInputDataTypes(): TypeCheckResult = {
    def fail(msg: String) = TypeCheckResult.TypeCheckFailure(s"$key: $msg")
    lazy val typed = GraftTypeCheck.expect(key, children, row.inputs)
    if (children.length != row.arity)
      fail(s"expects ${row.arity} argument(s), got ${children.length}")
    else if (!row.params.forall(p => children(p.pos).foldable))
      fail(row.params.map(_.name).mkString("/") +
        (if (row.params.length == 1) " must be a literal" else " must be literals"))
    else if (typed != TypeCheckResult.TypeCheckSuccess) typed
    else row.params.map(p => p -> children(p.pos).eval()).collectFirst {
      case (p, v) if v == null || !p.ok(v.asInstanceOf[Int]) =>
        fail(s"${p.name} must be ${p.rule}, got $v")
    }.getOrElse(TypeCheckResult.TypeCheckSuccess)
  }

  override def createAggregationBuffer(): AggBuffer = row.create(values)

  override def update(buffer: AggBuffer, input: InternalRow): AggBuffer = {
    val in = new Array[Any](data.length)
    var i = 0
    while (i < in.length) {
      in(i) = data(i).eval(input)
      if (in(i) == null) return buffer
      i += 1
    }
    buffer.update(in)
    buffer
  }

  override def merge(buffer: AggBuffer, other: AggBuffer): AggBuffer = {
    buffer.merge(other)
    buffer
  }

  override def eval(buffer: AggBuffer): Any = buffer.result
  override def serialize(buffer: AggBuffer): Array[Byte] = buffer.bytes
  override def deserialize(bytes: Array[Byte]): AggBuffer = row.read(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): KernelAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KernelAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): KernelAgg =
    copy(children = newChildren)
}

/** topk_agg's buffer: a k-capped min-heap of doubles, so update is
  * O(log k) and each partition ships at most k values. Multiset semantics
  * over VALUES, so the result is deterministic regardless of row order or
  * partitioning (ties are identical values — whichever rows carried them,
  * the k largest values are the same). The result is sorted descending.
  */
final class TopKBuffer(val k: Int) extends AggBuffer {
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

  def update(in: Array[Any]): Unit = add(in(0).asInstanceOf[Double])
  def merge(other: AggBuffer): Unit = mergeFrom(other.asInstanceOf[TopKBuffer])
  def result: Any = new GenericArrayData(sortedDesc)
  /** [k: int32][n: int32][n values, descending] */
  def bytes: Array[Byte] = {
    val vals = sortedDesc
    val bb = ByteBuffer.allocate(8 + 8 * vals.length)
    bb.putInt(k)
    bb.putInt(vals.length)
    vals.foreach(bb.putDouble)
    bb.array()
  }
}

object TopKBuffer {
  def read(bytes: Array[Byte]): TopKBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new TopKBuffer(bb.getInt)
    val n = bb.getInt
    var i = 0
    while (i < n) { buf.add(bb.getDouble); i += 1 }
    buf
  }
}

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

/** bloom_agg's buffer: a fixed-size bit array merged by bitwise OR, so
  * building over N rows ships numBits/8 bytes per partition. Its bytes and
  * its result are the [[bloom]] layout, which the `bloom_contains` kernel
  * row probes.
  */
final class BloomBuffer(val numHashes: Int, val numBits: Int) extends AggBuffer {
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

  def update(in: Array[Any]): Unit = add(in(0).asInstanceOf[UTF8String])
  def merge(other: AggBuffer): Unit = orFrom(other.asInstanceOf[BloomBuffer])
  def result: Any = serialized
  def bytes: Array[Byte] = serialized
}

object BloomBuffer {
  def read(bytes: Array[Byte]): BloomBuffer = {
    val buf = new BloomBuffer(ByteBuffer.wrap(bytes).getInt, (bytes.length - 4) * 8)
    System.arraycopy(bytes, 4, buf.bits, 0, bytes.length - 4)
    buf
  }
}

/** cms_agg's buffer, a Count-Min Sketch over strings — the bounded-memory
  * heavy-hitter path: depth hash rows × width counters, bucket_i(t) =
  * ((A_i·poly31(t) + B_i) mod P) mod width with the SAME affine family the
  * minhash kernels use, so a DuckDB oracle recomputes every counter exactly
  * (the sketch is deterministic, not randomized per run — estimates
  * hash-compare across engines). `add` takes a WEIGHT so the sketch can be
  * built from pre-aggregated (term, count) rows as well as raw token
  * streams. Partials merge by elementwise add, so 8*depth*width bytes per
  * partition cross the wire.
  *
  * Result layout: array<long> of [depth, counts...] — self-describing, so
  * the probe side ([[cms.query]]) needs no out-of-band parameters.
  */
final class CmsBuffer(val depth: Int, val width: Int) extends AggBuffer {
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

  def update(in: Array[Any]): Unit = {
    val w = in(1).asInstanceOf[Long]
    // A negative weight would silently break the one-sided-error
    // guarantee (cms_query could UNDERcount), which every consumer and
    // spec assumes unconditionally — fail loudly instead.
    if (w < 0)
      throw new IllegalArgumentException(
        s"cms_agg: negative weight $w would break the CMS overestimate guarantee")
    add(in(0).asInstanceOf[UTF8String], w)
  }
  def merge(other: AggBuffer): Unit = addFrom(other.asInstanceOf[CmsBuffer])
  def result: Any = {
    val out = new Array[Long](1 + counts.length)
    out(0) = depth.toLong
    System.arraycopy(counts, 0, out, 1, counts.length)
    ArrayData.toArrayData(out)
  }
  /** [depth: int32][width: int32][counts] */
  def bytes: Array[Byte] = {
    val bb = ByteBuffer.allocate(8 + 8 * counts.length)
    bb.putInt(depth).putInt(width)
    counts.foreach(bb.putLong)
    bb.array()
  }
}

object CmsBuffer {
  def read(bytes: Array[Byte]): CmsBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new CmsBuffer(bb.getInt(), bb.getInt())
    var i = 0
    while (i < buf.counts.length) { buf.counts(i) = bb.getLong(); i += 1 }
    buf
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

/** vec_mean_agg's buffer: (count, element-wise double sums) over
  * array<float> rows — the k-means mean step. Double accumulation keeps
  * Float means stable against partial-merge order (the kmeansCentroids
  * determinism contract). One in-place tight loop per row; partials merge
  * by element-wise add, so the exchange carries one (8 + dim*8)-byte
  * buffer per (group, partition) — never the corpus. Chosen over the two
  * measured alternatives at sf0.1: a typed map/groupByKey/reduceGroups
  * chain (per-row Array[Double] allocation + tuple ser/deser, 0.27 s hot)
  * and 64 built-in sum(element_at(...)) DeclarativeAggregates (64 unsafe
  * buffer slots + a ~2.5 s whole-stage codegen compile for the generated
  * 65-agg function, 0.46 s hot).
  */
final class VecSumBuffer(val dim: Int) extends AggBuffer {
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

  def update(in: Array[Any]): Unit = add(in(0).asInstanceOf[ArrayData])
  def merge(other: AggBuffer): Unit = mergeFrom(other.asInstanceOf[VecSumBuffer])
  def result: Any = {
    // a group whose vectors were all null reaches eval with n = 0; dividing
    // would silently emit a NaN-filled non-null array — raise instead
    if (n == 0L)
      throw new IllegalArgumentException(
        "vec_mean_agg: group contains no non-null vectors — mean is undefined")
    val out = new Array[Any](dim)
    var i = 0
    while (i < dim) { out(i) = (sums(i) / n).toFloat; i += 1 }
    new GenericArrayData(out)
  }
  /** [n: int64][dim sums] */
  def bytes: Array[Byte] = {
    val bb = ByteBuffer.allocate(8 + 8 * dim)
    bb.putLong(n)
    var i = 0
    while (i < dim) { bb.putDouble(sums(i)); i += 1 }
    bb.array()
  }
}

object VecSumBuffer {
  def read(bytes: Array[Byte]): VecSumBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new VecSumBuffer((bytes.length - 8) / 8)
    buf.n = bb.getLong()
    var i = 0
    while (i < buf.dim) { buf.sums(i) = bb.getDouble(); i += 1 }
    buf
  }
}
