package graftbench

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Output checks. An operation's result is consumed through Spark's `noop`
  * sink, which evaluates every output column. The same pass also observes a
  * row count and an order-insensitive content fingerprint: the sum of one
  * 64-bit hash per row. Doubles are hashed at float precision, so the last
  * bits of a floating-point sum, which depend on the order in which Spark
  * merges partial results, do not change the fingerprint.
  */
object Check {
  final case class Expected(rows: Long, fp: String)
  final case class Outcome(rows: Long, fp: String)

  private def needsNorm(t: DataType): Boolean = t match {
    case DoubleType | FloatType | VariantType | _: MapType => true
    case ArrayType(e, _) => needsNorm(e)
    case s: StructType => s.fields.exists(f => needsNorm(f.dataType))
    case _ => false
  }

  private def orderable(t: DataType): Boolean = t match {
    case _: MapType | VariantType => false
    case ArrayType(e, _) => orderable(e)
    case s: StructType => s.fields.forall(f => orderable(f.dataType))
    case _ => true
  }

  /** A hashable, noise-free form of `c`. */
  def norm(c: Column, t: DataType): Column = t match {
    case _ if !needsNorm(t) => c
    case DoubleType => c.cast(FloatType)
    case FloatType => c
    case VariantType => c.cast(StringType)
    case ArrayType(e, _) => transform(c, x => norm(x, e))
    case s: StructType =>
      when(c.isNull, lit(null)).otherwise(struct(s.fields.toIndexedSeq.map(f =>
        norm(c.getField(f.name), f.dataType).as(f.name)): _*))
    case MapType(k, v, _) =>
      val entries = map_entries(c)
      val normed = transform(entries, e =>
        struct(norm(e.getField("key"), k).as("key"), norm(e.getField("value"), v).as("value")))
      if (orderable(k) && orderable(v)) array_sort(normed) else normed
  }

  /** `df` with its content fingerprint attached to `obs`. */
  def observed(df: DataFrame, obs: Observation): DataFrame = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toIndexedSeq.map(f => norm(col(f.name), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    named.observe(obs, count(lit(1)).as("rows"), sum(h.cast("decimal(20,0)")).as("fp"))
  }

  def outcome(obs: Observation): Outcome = {
    val m = obs.get
    val fp = Option(m("fp")).map(_.toString).getOrElse("0")
    Outcome(m("rows").asInstanceOf[Long], fp)
  }

  /** Why `got` does not match `want`, if it does not. */
  def mismatch(key: String, got: Outcome, want: Option[Expected], rowsOnly: Boolean): Option[String] =
    want match {
      case None => Some(s"$key: no expected output recorded")
      case Some(w) if w.rows != got.rows => Some(s"$key: ${got.rows} rows, expected ${w.rows}")
      case Some(w) if !rowsOnly && w.fp != got.fp =>
        Some(s"$key: content fingerprint ${got.fp}, expected ${w.fp}")
      case _ => None
    }
}
