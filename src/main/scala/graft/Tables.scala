package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Typed loaders for the driver-generated testdata tables.
  *
  * One reader per table so read options / schema hints live in exactly one
  * place. At 100 TB these would point at partitioned/bucketed table roots;
  * the API stays the same.
  */
object Tables {
  /** Footer-derived schema memo, keyed by path. Inferring a parquet schema
    * costs a driver job per `spark.read.parquet` call (~80 ms measured on
    * the bench box — guide §6's metadata tax), and the bench constructs
    * every query's tables fresh on every rep, so the same immutable input
    * file was re-inferred hundreds of times per run. Production reads these
    * via a catalog whose schema is known; the memo provides exactly that
    * service. METADATA only — never rows, never results: every query still
    * scans and computes from the parquet inputs on every invocation.
    * Mutable state paths (streaming stores, chunk stores) do not go through
    * this loader and stay uncached.
    *
    * ASSUMPTION (deliberate, r14-adjudicated): inputs under a data dir are
    * immutable for the life of the JVM, and every session in the JVM runs
    * the same parquet-inference confs — [[graft.Session]] is their single
    * source for every graft main and the spec suite.
    * Regenerating a file in place with a DIFFERENT schema mid-JVM would
    * pin the first-inferred schema; no graft main does that. events.ts'
    * observed-schema branch is unaffected: the memoized schema IS the
    * observed physical type it branches on.
    */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val p = s"$dir/$name.parquet"
    val st = schemaCache.computeIfAbsent(p, _ => spark.read.parquet(p).schema)
    spark.read.schema(st).parquet(p)
  }

  /** events.parquet's `ts` physical type has shifted across driver/Spark
    * versions — TIMESTAMP(NANOS) (read as raw long under `nanosAsLong`),
    * then TIMESTAMP(MICROS, isAdjustedToUTC=false) (read as TIMESTAMP_NTZ
    * by Spark ≥4's `inferTimestampNTZ`). Branch on the OBSERVED read schema,
    * not on session confs: a conf can be set yet ignored by the running
    * Spark (exactly the round-6 regression), while the schema can't lie.
    *
    * All branches normalize to session-zoned TimestampType with identical
    * microsecond wall-clock values under the UTC session every graft entry
    * point builds — the same values DuckDB's reader produces (nanos
    * floor-truncate to micros; naive micros pass through untouched), so the
    * oracle hash-compare sees byte-identical columns.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType          => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType  => raw.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType     => raw
      case other => throw new IllegalStateException(
        s"events.ts read as unsupported type $other — expected LongType (nanos-as-long), " +
        "TIMESTAMP_NTZ, or TIMESTAMP")
    }
  }

  def region(s: SparkSession, d: String): DataFrame   = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
