package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-up generator for the sf1 bench spot-check: replicates an existing
  * sf directory `factor` times with disjoint key ranges, so the 100-TB
  * "plans scale linearly" claim is measured instead of argued.
  *
  * Replication semantics (per replica i > 0):
  *   - every join/id key shifts by i * KeyOffset, keeping FK consistency
  *     (orders.o_custkey moves with customer.c_custkey, etc.)
  *   - documents.text gets a per-replica suffix so dedup/minhash structure
  *     stays proportional instead of making every doc a 10-way exact dup
  *     (which would inflate candidate-pair volume quadratically — a data
  *     artifact, not an engine property)
  *   - embeddings shift by a small per-replica constant so ANN corpora grow
  *     with distinct geometry, while the vec_id < 5 query set stays replica-0
  *   - events keep their timestamps (10x rows per window — how a busier
  *     stream actually scales); region/nation stay as-is (dims are fixed)
  *
  * Usage: runMain graft.ScaleGen <srcSfDir> <outDir> <factor> [mode] [tables]
  *
  *   mode   = replica (default) | realistic
  *   tables = comma-list to generate (default: all) — lets a realistic run
  *            regenerate documents only and symlink the rest from an
  *            existing replica-mode point
  *
  * `realistic` models how a big corpus ACTUALLY grows: factor-many
  * independent shards, each with the base corpus's internal similarity
  * statistics, and no structural cross-shard near-duplication. Replica-mode
  * replication (" r$i" text suffix) keeps every replica of a doc a near-dup
  * of every other — any pair-view operator then sees ~factor² cross-replica
  * collisions, a fixture artifact that walls single-box oracles (measured:
  * d20 C_pairs 12.2M at ×100, ~1.2e9 projected at ×1000). Realistic mode
  * instead makes each replica's SHINGLE SPACE disjoint (every whitespace
  * token gets a replica-unique "x$i" suffix), so minhash/LSH band keys
  * never collide across replicas and candidate-pair volume scales linearly
  * in the factor — real-world collision economics at the same row count.
  */
object ScaleGen {
  val KeyOffset = 10000000L

  /** Realistic-mode documents tweak: replica-unique token suffix ("x$i"
    * — the 'x' keeps Java's "$1" group ref from swallowing the digits),
    * preserving the n_chars == length(text) invariant. Replica 0 is the
    * base corpus unchanged, so sf-point results embed exactly.
    *
    * Disjointness precondition (checked at generation time, fail-fast):
    * a cross-replica token collision t1+"x"+i == t2+"x"+j (or == a raw
    * replica-0 token) forces one BASE token to end in "x"+digits — so a
    * base vocabulary with no `.*x\d+$` token makes the suffix map exactly
    * injective across replicas. The generated corpora satisfy this; real
    * corpora (hex ids etc.) may not, hence the generation-time scan
    * instead of an assumed invariant.
    */
  private[graft] def realisticDocTweak(d: DataFrame, i: Int): DataFrame =
    if (i == 0) d
    else d.withColumn("text", regexp_replace(col("text"), "(\\S+)", "$1x" + i))
      .withColumn("n_chars", length(col("text")).cast("long"))

  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: graft.ScaleGen <srcSfDir> <outDir> <factor> [mode] [tables]")
    val src = args(0); val out = args(1); val factor = args(2).toInt
    val mode = if (args.length > 3) args(3) else "replica"
    require(mode == "replica" || mode == "realistic", s"unknown mode $mode")
    val AllTables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    val only: Option[Set[String]] =
      if (args.length > 4) Some(args(4).split(",").toSet) else None
    only.foreach { ts =>
      val unknown = ts -- AllTables.toSet
      require(unknown.isEmpty,
        s"unknown table(s) ${unknown.mkString(",")} — valid: ${AllTables.mkString(",")}")
    }
    // an in-process caller's session is used as it is and left running;
    // only a session built here is stopped
    val callers = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
    val spark = callers.getOrElse(Session.local())
    new java.io.File(out).mkdirs()

    def write(name: String, df: => DataFrame): Unit = {
      if (only.forall(_.contains(name))) {
        df.write.mode("overwrite").parquet(s"$out/$name.parquet")
        System.err.println(s"[scalegen] $name: ${spark.read.parquet(s"$out/$name.parquet").count()} rows")
      } else System.err.println(s"[scalegen] $name: skipped (not in tables list)")
    }

    def replicate(name: String, keys: Seq[String],
                  tweak: (DataFrame, Int) => DataFrame = (d, _) => d): Unit = {
      if (!only.forall(_.contains(name))) {
        System.err.println(s"[scalegen] $name: skipped (not in tables list)"); return
      }
      val base = Tables.table(spark, src, name)
      // disjointness of the shifted replicas requires every source key to
      // sit below KeyOffset — fail fast instead of silently colliding
      // (e.g. when pointed at ScaleGen's own output to compound the factor)
      keys.foreach { k =>
        val mx = base.agg(max(col(k))).head().getLong(0)
        require(mx < KeyOffset,
          s"$name.$k reaches $mx >= KeyOffset=$KeyOffset: shifted replicas would collide")
      }
      val parts = (0 until factor).map { i =>
        val off = i.toLong * KeyOffset
        val shifted = keys.foldLeft(base)((d, c) => d.withColumn(c, col(c) + off))
        tweak(shifted, i)
      }
      write(name, parts.reduce(_.unionByName(_)))
    }

    // realistic mode's injectivity precondition (see realisticDocTweak)
    if (mode == "realistic" && only.forall(_.contains("documents"))) {
      val aliasable = Tables.table(spark, src, "documents")
        .select(explode(graft.operators.TextOps.words(col("text"))).as("t"))
        .filter(col("t").rlike("x\\d+$")).count()
      require(aliasable == 0,
        s"realistic mode: $aliasable base token(s) end in x<digits> — the replica " +
          "suffix could alias across replicas and break shingle-space disjointness")
    }

    // fixed dimensions: copy untouched
    write("region", Tables.table(spark, src, "region"))
    write("nation", Tables.table(spark, src, "nation"))

    replicate("customer", Seq("c_custkey"))
    replicate("supplier", Seq("s_suppkey"))
    replicate("part", Seq("p_partkey"))
    replicate("orders", Seq("o_orderkey", "o_custkey"))
    replicate("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"))
    // events.parquet ts keeps whatever physical type the source has (nanos
    // long or micros NTZ) — Tables.events adapts to the read schema
    replicate("events", Seq("event_id", "user_id"))
    replicate("documents", Seq("doc_id"),
      if (mode == "realistic") realisticDocTweak _
      else (d, i) =>
        if (i == 0) d
        else d.withColumn("text", concat(col("text"), lit(s" r$i")))
          // keep the n_chars == length(text) invariant that gates/fixtures rely on
          .withColumn("n_chars", length(col("text")).cast("long")))
    replicate("embeddings", Seq("vec_id"), (d, i) =>
      if (i == 0) d
      else d.withColumn("embedding",
        expr(s"CAST(transform(embedding, x -> x + ${0.013 * i}D) AS ARRAY<FLOAT>)")))

    if (callers.isEmpty) spark.stop()
  }
}
