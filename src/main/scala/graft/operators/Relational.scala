package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Relational core — SURVEY.md §2.A.
  *
  * Conventions shared with the DuckDB oracle so hashes are stable across
  * engines and across partition counts:
  *   - money/quantity sums go through exact DECIMAL aggregation, then a final
  *     cast to DOUBLE (decimal sums are order-independent; the final cast is
  *     a single deterministic conversion);
  *   - free-form double sums (events.value) are snapped to DECIMAL(18,6)
  *     per-row first, for the same reason;
  *   - every result carries an ORDER BY on a unique key.
  *
  * Everything here is declarative DataFrame code: Catalyst handles pushdown,
  * pruning, join selection; broadcast hints mark the dimension sides so the
  * plan survives a 100 TB fact table.
  */
object Relational {

  private def dec2(c: Column): Column = c.cast("decimal(18,2)")
  private def dec6(c: Column): Column = c.cast("decimal(18,6)")

  /** TPC-H Q1-style pricing summary: scan -> filter -> partial agg -> final agg. */
  def aggPricing(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .filter($"l_shipdate" <= lit("2001-09-02").cast("timestamp"))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        sum(dec2($"l_quantity")).cast("double").as("sum_qty"),
        sum(dec2($"l_extendedprice")).cast("double").as("sum_base_price"),
        sum(dec2($"l_extendedprice") * (lit(1).cast("decimal(18,2)") - dec2($"l_discount")))
          .cast("double").as("sum_disc_price"),
        // floor(x*1e6+0.5)/1e6, not round(x, 6): pure IEEE ops match the
        // oracle bit-for-bit, whereas Spark/DuckDB ROUND break .5-ULP ties
        // differently (see t06).
        (floor(sum(dec2($"l_quantity")).cast("double") / count(lit(1)) * 1e6 + 0.5) / 1e6)
          .as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  /** Selective filter + narrow projection; both must reach the parquet scan. */
  def filterPushdown(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .filter($"l_shipdate".between(lit("1996-01-01").cast("timestamp"),
                                    lit("1996-12-31").cast("timestamp")) &&
              $"l_quantity" < 10)
      .select($"l_orderkey", $"l_linenumber", $"l_quantity", $"l_shipdate")
      .orderBy($"l_orderkey", $"l_linenumber")
  }

  /** Star join: fact lineitem against orders/customer plus broadcast dims. */
  def joinBroadcast(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), $"l_orderkey" === $"o_orderkey")
      .join(Tables.customer(s, dir), $"o_custkey" === $"c_custkey")
      .join(broadcast(Tables.nation(s, dir)), $"c_nationkey" === $"n_nationkey")
      .join(broadcast(Tables.region(s, dir)), $"n_regionkey" === $"r_regionkey")
      .filter($"r_name" === "ASIA")
      .groupBy($"n_name")
      .agg(
        sum(dec2($"l_extendedprice") * (lit(1).cast("decimal(18,2)") - dec2($"l_discount")))
          .cast("double").as("revenue"),
        count(lit(1)).as("line_count"))
      .orderBy($"n_name")
  }

  /** Fact-fact shuffle join with aggregation and HAVING. */
  def joinShuffle(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir)
      .join(Tables.lineitem(s, dir), $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_orderkey", $"o_orderdate", $"o_orderstatus")
      .agg(
        count(lit(1)).as("line_count"),
        sum(dec2($"l_quantity")).cast("double").as("sum_qty"),
        sum(dec2($"l_extendedprice")).cast("double").as("sum_price"))
      .filter($"line_count" >= 5)
      .orderBy($"o_orderkey")
  }

  /** Top-k with unique tiebreak -> TakeOrderedAndProject, no global sort. */
  def topK(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir)
      .select($"o_orderkey", $"o_totalprice", $"o_orderdate", $"o_orderpriority")
      .orderBy($"o_totalprice".desc, $"o_orderkey".asc)
      .limit(20)
  }

  /** Multi-column distinct. */
  def distinctPairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.customer(s, dir)
      .select($"c_mktsegment", $"c_nationkey")
      .distinct()
      .orderBy($"c_mktsegment", $"c_nationkey")
  }

  /** Latest event per user — the "current version per page" shape. */
  def windowLatest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts".desc, $"event_id".desc)
    Tables.events(s, dir)
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"user_id", $"event_id", $"ts", $"event_type")
      .orderBy($"user_id")
  }

  /** Left-semi join (EXISTS). */
  def semiJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val bigLines = Tables.lineitem(s, dir).filter($"l_quantity" >= 48)
    Tables.orders(s, dir)
      .join(bigLines, $"o_orderkey" === $"l_orderkey", "left_semi")
      .select($"o_orderkey", $"o_totalprice")
      .orderBy($"o_orderkey")
  }

  /** Left-anti join (NOT EXISTS): customers with no orders. */
  def antiJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir), $"c_custkey" === $"o_custkey", "left_anti")
      .select($"c_custkey", $"c_name")
      .orderBy($"c_custkey")
  }

  /** UNION / EXCEPT set algebra on nation keys. */
  def setOps(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val custNations = Tables.customer(s, dir).select($"c_nationkey".as("nk")).distinct()
    val suppNations = Tables.supplier(s, dir).select($"s_nationkey".as("nk")).distinct()
    val region0     = Tables.nation(s, dir).filter($"n_regionkey" === 0).select($"n_nationkey".as("nk"))
    custNations.union(suppNations).distinct().except(region0).orderBy($"nk")
  }

  /** Multiset set-op cardinalities — INTERSECT ALL / EXCEPT ALL semantics
    * (q10 covers the distinct variants): per-user event-type bags compared
    * between two halves of the stream. The KEY runs the scale-correct
    * fused form — ONE corpus scan into per-(user, type) conditional
    * counts, then sum(least) / sum(clamped difference), which IS the
    * multiset intersection/difference cardinality. The native
    * intersectAll/exceptAll operators (whose side branches each re-scan
    * the source) are exercised in [[multisetOpsNative]] and proven
    * equivalent in RelationalSpec.
    */
  def multisetOps(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .groupBy($"user_id", $"event_type")
      .agg(count(when($"event_id" % 2 === 0, 1)).as("ca"),
           count(when($"event_id" % 2 =!= 0, 1)).as("cb"))
      .groupBy($"user_id")
      .agg(sum(least($"ca", $"cb")).as("n_common"),
           sum(greatest($"ca" - $"cb", lit(0L))).as("n_only_even"))
      .filter($"n_common" > 0 || $"n_only_even" > 0)
      .orderBy($"user_id")
  }

  /** The same contract through Spark's NATIVE multiset operators. */
  def multisetOpsNative(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir).select($"user_id", $"event_type", $"event_id" % 2 === 0)
      .toDF("user_id", "event_type", "even")
    val a = ev.filter($"even").select($"user_id", $"event_type")
    val b = ev.filter(!$"even").select($"user_id", $"event_type")
    a.intersectAll(b).groupBy($"user_id").agg(count(lit(1)).as("n_common"))
      .join(
        a.exceptAll(b).groupBy($"user_id").agg(count(lit(1)).as("n_only_even")),
        Seq("user_id"), "full_outer")
      .select($"user_id",
              coalesce($"n_common", lit(0L)).as("n_common"),
              coalesce($"n_only_even", lit(0L)).as("n_only_even"))
      .orderBy($"user_id")
  }

  /** ROLLUP with null-group sentinels (so ordering/hashing is engine-neutral). */
  def rollupAgg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.customer(s, dir)
      .rollup($"c_mktsegment", $"c_nationkey")
      .agg(count(lit(1)).as("cust_count"),
           sum(dec2($"c_acctbal")).cast("double").as("sum_acctbal"))
      .select(coalesce($"c_mktsegment", lit("ALL")).as("segment"),
              coalesce($"c_nationkey", lit(-1)).as("nationkey"),
              $"cust_count", $"sum_acctbal")
      .orderBy($"segment", $"nationkey")
  }

  /** Pivot-style conditional aggregation: segment counts per nation. */
  def conditionalAgg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def segCount(seg: String): Column =
      sum(when($"c_mktsegment" === seg, 1).otherwise(0)).as(seg.toLowerCase)
    Tables.customer(s, dir)
      .join(broadcast(Tables.nation(s, dir)), $"c_nationkey" === $"n_nationkey")
      .groupBy($"n_name")
      .agg(segCount("AUTOMOBILE"), segCount("BUILDING"), segCount("FURNITURE"),
           segCount("HOUSEHOLD"), segCount("MACHINERY"),
           count(lit(1)).as("total"))
      .orderBy($"n_name")
  }

  /** Scalar aggregate subquery as a broadcast cross join (no driver collect). */
  def scalarSubquery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val orders = Tables.orders(s, dir)
    val avgPrice = orders.agg(avg($"o_totalprice").as("ap"))
    orders.crossJoin(broadcast(avgPrice))
      .filter($"o_totalprice" > $"ap")
      .select($"o_orderkey", $"o_totalprice")
      .orderBy($"o_orderkey")
  }

  /** Time bucketing with decimal-snapped double sums. */
  def timeBucket(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .groupBy(date_trunc("hour", $"ts").as("bucket"), $"event_type")
      .agg(count(lit(1)).as("event_count"),
           sum(dec6($"value")).cast("double").as("sum_value"))
      .orderBy($"bucket", $"event_type")
  }

  /** Long->wide pivot: per-user event counts, one column per event type.
    * The explicit value list keeps the plan single-pass (no distinct-values
    * pre-query) and the output schema static — at 100 TB an unbounded pivot
    * is a schema explosion, so production pivots always pin their columns.
    * One partial-agg shuffle, same movement as a plain groupBy.
    */
  val PivotTypes: Seq[String] = Seq("click", "error", "purchase", "signup", "view")
  def pivotAgg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .groupBy($"user_id")
      .pivot("event_type", PivotTypes)
      .agg(count(lit(1)))
      .na.fill(0L, PivotTypes)
      .orderBy($"user_id")
  }

  /** Approximate per-group quantiles (KLL-style sketch behind
    * percentile_approx). At 100 TB the sketch is the only viable percentile:
    * it partial-merges map-side with bounded memory, where exact percentile
    * buffers every value per group. The sketch's rank-error guarantee
    * (epsilon = 1/accuracy) is emitted as the oracle-assertable claim: each
    * approximate quantile must lie between the exact quantiles at q -/+
    * 2*epsilon (the q24 pattern); the exact median is hash-compared
    * directly under the round-4 convention.
    */
  val QuantileAccuracy = 1000 // epsilon = 0.001 rank error
  def approxQuantiles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val qs = Seq(0.5, 0.9, 0.99)
    val ev = Tables.events(s, dir)
    val sk = ev.groupBy($"event_type")
      .agg(
        percentile_approx($"value", typedlit(qs), lit(QuantileAccuracy)).as("approx"),
        (floor(expr("percentile(value, 0.5D)") * 10000.0 + 0.5) / 10000.0).as("p50_exact"))
    // The guarantee is on RANK, so the check is too: the returned value v_i
    // must have a rank interval [|{v < v_i}|, |{v <= v_i}|] overlapping
    // [q_i - eps', q_i + eps'] with eps' = 1/accuracy + 2/n (the 2/n slack
    // covers rank discreteness at small groups). A value-space band breaks
    // when the band is narrower than one rank gap.
    val rankChecks = qs.indices.flatMap { i =>
      Seq(sum(when($"value" <= element_at($"approx", i + 1), 1L).otherwise(0L)).as(s"le_$i"),
          sum(when($"value" < element_at($"approx", i + 1), 1L).otherwise(0L)).as(s"lt_$i"))
    }
    val aggCols = count(lit(1)).as("n") +: rankChecks
    val counted = ev.join(broadcast(sk), "event_type")
      .groupBy($"event_type", $"p50_exact")
      .agg(aggCols.head, aggCols.tail: _*)
    val eps = lit(1.0 / QuantileAccuracy) + lit(2.0) / $"n"
    val claim = qs.zipWithIndex.map { case (q, i) =>
      (col(s"lt_$i") / $"n" <= lit(q) + eps) && (col(s"le_$i") / $"n" >= lit(q) - eps)
    }.reduce(_ && _)
    counted
      .select($"event_type", $"p50_exact", claim.as("approx_within_bound"))
      .orderBy($"event_type")
  }

  /** Per-group top-k values through the custom topk_agg aggregate
    * ([[graft.functions.TopKBuffer]]): a k-capped min-heap buffer that partial-aggregates map-side,
    * so each partition ships at most k doubles — where groupBy + rank would
    * shuffle every row of the group. Multiset-over-values semantics make the
    * result deterministic under any partitioning, so it hash-oracles
    * directly (DuckDB: row_number over value desc).
    */
  def topkAggQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .groupBy($"event_type")
      .agg(graft.functions.GraftFunctions.topkAgg($"value", lit(5)).as("topv"))
      .select($"event_type", posexplode($"topv"))
      .select($"event_type", ($"pos" + 1).cast("long").as("rank"), $"col".as("value"))
      .orderBy($"event_type", $"rank")
  }

  /** Distribution window suite: ntile quartiles, percent_rank and cume_dist
    * per order priority — the rank-distribution layer (q18 covers
    * offset/frame functions). The o_orderkey tiebreaker makes the ordering
    * total, so rank == row_number and the emitted fractions are exact IEEE
    * divisions both engines compute identically. One window shuffle.
    */
  def windowSuite2(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"o_orderpriority").orderBy($"o_totalprice", $"o_orderkey")
    Tables.orders(s, dir)
      .select($"o_orderkey", $"o_orderpriority",
        ntile(4).over(w).cast("long").as("quartile"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cdist"))
      .orderBy($"o_orderkey")
  }

  /** Nested-result shape through the correctness gate: per-space top-5
    * bigrams rolled up into an array<struct<rank, bigram, n>> column — real
    * pipelines return structs/arrays, not just flat rows, and this proves
    * the oracle hash covers them. Reuses t08's ranked counts (same
    * tokenize/rank semantics both engines already agree on); the rollup is
    * one extra partial-aggregated shuffle of <= k rows per group, and
    * array_sort on the rank-led struct pins element order deterministically
    * regardless of partitioning.
    */
  def nestedTopK(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    TextOps.ngramTopK(s, dir, k = 5)
      .groupBy($"source")
      .agg(array_sort(collect_list(struct($"rank", $"bigram", $"n"))).as("top_bigrams"))
      .orderBy($"source")
  }

  /** Gate projection of [[nestedTopK]]: the typed array<struct> serialized to
    * a canonical JSON string (`to_json`, compact Jackson form — identical
    * byte-for-byte to DuckDB's `to_json(list(struct_pack ...))`), because the
    * driver's comparator hashes flat values only. Element order is already
    * pinned by array_sort on the rank-led struct, so the string is
    * deterministic regardless of partitioning; NestedResultSpec asserts the
    * typed result so the nested capability claim stays honest.
    */
  def nestedTopKJson(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    nestedTopK(s, dir)
      .select($"source", to_json($"top_bigrams").as("top_bigrams"))
      .orderBy($"source")
  }

  /** MAP-typed result through the correctness gate (completes the nested
    * story next to q33's array-of-struct): per-source language histogram as
    * a map<lang, count>. Entry order is pinned by sorting the entry array
    * before map construction, mirrored by the oracle's ORDER BY inside
    * list() — map value semantics hash-compare only when both engines
    * agree on entry order.
    */
  def mapResult(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .groupBy($"source", $"lang").agg(count(lit(1)).as("n"))
      .groupBy($"source")
      .agg(map_from_entries(array_sort(collect_list(struct($"lang", $"n"))))
             .as("lang_counts"))
      .orderBy($"source")
  }

  /** Gate projection of [[mapResult]]: the map serialized to canonical JSON
    * (entry order = key-sorted, pinned by the array_sort before
    * map_from_entries; DuckDB's `to_json(map_from_entries(... ORDER BY k))`
    * emits the same compact form). Same rationale as [[nestedTopKJson]] — the
    * driver's comparator cannot hash map values.
    */
  def mapResultJson(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    mapResult(s, dir)
      .select($"source", to_json($"lang_counts").as("lang_counts"))
      .orderBy($"source")
  }

  /** NULL-semantics suite: NULL forms its own GROUP BY bucket, and the
    * null-safe equality join (`<=>` / IS NOT DISTINCT FROM) matches it to
    * itself where plain `=` would drop it — the semantics dedup on
    * nullable keys silently depends on. Deterministic null injection
    * (user_id % 7) so both engines derive identical data; every row must
    * come back with n == n2, including the NULL-key row.
    */
  def nullSemantics(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val a = Tables.events(s, dir)
      .select(when($"user_id" % 7 === 0, lit(null)).otherwise($"user_id")
                .cast("long").as("k"))
    val g = a.groupBy($"k").agg(count(lit(1)).as("n"))
    g.join(g.select($"k".as("k2"), $"n".as("n2")), $"k" <=> $"k2")
      .select($"k", $"n", $"n2")
      .orderBy($"k".asc_nulls_first)
  }

  /** Full-outer join with both-sided null production: the per-user event
    * rollup joined against the customer dimension — users without a
    * customer row and customers without events both survive with typed
    * nulls coalesced into the output. One shuffle per side on the join key;
    * completes the join-type matrix next to inner (q03/q04), semi (q08),
    * anti (q09), range (q21) and as-of (p13/p15).
    */
  def outerJoinSuite(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val perUser = Tables.events(s, dir)
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_events"))
    Tables.customer(s, dir)
      .select($"c_custkey", $"c_mktsegment")
      .join(perUser, $"c_custkey" === $"user_id", "full_outer")
      .select(
        coalesce($"c_custkey", $"user_id").as("key"),
        $"c_custkey".isNotNull.as("has_customer"),
        $"user_id".isNotNull.as("has_events"),
        coalesce($"c_mktsegment", lit("NONE")).as("segment"),
        coalesce($"n_events", lit(0L)).as("n_events"))
      .orderBy($"key")
  }

  /** Wide->long unpivot (melt) through Spark's native unpivot operator:
    * three measure columns become (measure, value) rows. Pure row-local
    * expansion — no shuffle before the presentation sort — and the values
    * pass through untouched, so the hash compare is exact with no rounding
    * convention needed.
    */
  def unpivotMeasures(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .filter($"l_orderkey" % 10 === 0) // deterministic slice keeps the dump compact
      .unpivot(
        ids = Array($"l_orderkey", $"l_linenumber"),
        values = Array($"l_quantity", $"l_extendedprice", $"l_discount"),
        variableColumnName = "measure",
        valueColumnName = "value")
      .withColumn("measure", regexp_replace($"measure", "^l_", ""))
      .orderBy($"l_orderkey", $"l_linenumber", $"measure")
  }

  /** Semi-structured extraction: JSON props column -> typed stats. */
  def jsonExtract(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .select($"event_type", get_json_object($"props", "$.k").cast("long").as("k"))
      .filter($"k".isNotNull)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), min($"k").as("min_k"), max($"k").as("max_k"),
           sum($"k").as("sum_k"))
      .orderBy($"event_type")
  }

  /** Skew-safe two-phase salted join. Phase 1 frequency-sketches the fact
    * keys (map-side partial count, tiny shuffle of (key, n) partials) and
    * keeps only keys above `hotThreshold` — that set is broadcast. Phase 2
    * joins with CONDITIONAL salt: hot fact rows pick a deterministic salt in
    * [0, SaltBuckets), hot dim rows explode across all buckets; cold rows on
    * both sides carry salt 0, so the non-skewed path has zero replication.
    * One scan per side, one shuffle join on (key, salt) — the same movement
    * as the plain join, but a hot key fans across SaltBuckets reducers
    * instead of melting one. Result is identical to the plain join (the
    * oracle IS the plain join).
    */
  val SaltBuckets = 8
  val HotKeyThreshold = 1000L
  def saltedJoin(s: SparkSession, dir: String,
                 hotThreshold: Long = HotKeyThreshold): DataFrame = {
    import s.implicits._
    val fact = Tables.lineitem(s, dir)
      .select($"l_orderkey", $"l_linenumber", $"l_partkey", $"l_extendedprice")
    val hot = fact.groupBy($"l_orderkey").agg(count(lit(1)).as("key_n"))
      .filter($"key_n" >= hotThreshold)
      .select($"l_orderkey".as("hot_key"))
    val saltedDim = dimWithSalt(Tables.orders(s, dir), hot)
    val saltedFact = fact
      .join(broadcast(hot), $"l_orderkey" === $"hot_key", "left")
      .withColumn("salt",
        when($"hot_key".isNotNull,
             pmod($"l_linenumber" + $"l_partkey", lit(SaltBuckets)))
          .otherwise(lit(0)).cast("int"))
    saltedFact.join(saltedDim,
        $"l_orderkey" === $"o_orderkey" && saltedFact("salt") === saltedDim("salt"))
      .groupBy($"o_orderstatus")
      .agg(count(lit(1)).as("line_count"),
           sum(dec2($"l_extendedprice")).cast("double").as("sum_price"))
      .orderBy($"o_orderstatus")
  }

  /** Dim side of the salted join: hot keys replicate across all SaltBuckets,
    * cold keys emit exactly one row with salt 0 (exposed for the spec's
    * no-blowup assertion).
    */
  private[graft] def dimWithSalt(dim: DataFrame, hot: DataFrame): DataFrame = {
    import dim.sparkSession.implicits._
    dim.select($"o_orderkey", $"o_orderstatus")
      .join(broadcast(hot), $"o_orderkey" === $"hot_key", "left")
      .select($"o_orderkey", $"o_orderstatus",
        explode(when($"hot_key".isNotNull, sequence(lit(0), lit(SaltBuckets - 1)))
          .otherwise(array(lit(0)))).as("salt"))
  }

  /** Window-function suite: lag/lead, sequence numbers, running and
    * 3-row-trailing totals per customer. One shuffle on the partition key;
    * all five functions share the same window ordering so Spark evaluates
    * them in a single Window operator.
    */
  def windowSuite(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate".asc, $"o_orderkey".asc)
    val running   = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val trailing3 = w.rowsBetween(-2, 0)
    Tables.orders(s, dir).select(
      $"o_custkey", $"o_orderkey", $"o_orderdate", $"o_totalprice",
      row_number().over(w).cast("long").as("seq"),
      lag($"o_totalprice", 1).over(w).as("prev_price"),
      lead($"o_totalprice", 1).over(w).as("next_price"),
      sum(dec2($"o_totalprice")).over(running).cast("double").as("running_total"),
      sum(dec2($"o_totalprice")).over(trailing3).cast("double").as("trailing3_total"))
      .orderBy($"o_custkey", $"o_orderkey")
  }

  /** Exact percentiles (linear interpolation, same contract as DuckDB's
    * quantile_cont) per order priority. Exact percentile shuffles the values
    * to their group; at 100 TB the approx_percentile sketch (partial-merge,
    * no raw-value shuffle) is the drop-in replacement — kept exact here so
    * the oracle can hash-match.
    */
  def percentiles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def pct(p: Double, name: String): Column =
      (floor(expr(s"percentile(o_totalprice, $p)") * 1e4 + 0.5) / 1e4).as(name)
    Tables.orders(s, dir)
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n"),
           pct(0.25, "p25"), pct(0.5, "p50"), pct(0.75, "p75"), pct(0.9, "p90"))
      .orderBy($"o_orderpriority")
  }

  /** CUBE over (status, priority) with sentinel labels for the null groups. */
  def cubeAgg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir)
      .cube($"o_orderstatus", $"o_orderpriority")
      .agg(count(lit(1)).as("order_count"),
           sum(dec2($"o_totalprice")).cast("double").as("sum_price"))
      .select(coalesce($"o_orderstatus", lit("ALL")).as("status"),
              coalesce($"o_orderpriority", lit("ALL")).as("priority"),
              $"order_count", $"sum_price")
      .orderBy($"status", $"priority")
  }

  /** Range join done the scalable way: for each error event, count the
    * events by the same user inside the following hour. A naive inequality
    * join is O(n^2) per user; instead each 1-hour window is exploded to the
    * (at most two) hour buckets it overlaps, the join is EQUI on
    * (user, bucket), and the range predicate survives only as a cheap
    * residual filter — this is the standard bin-then-filter range-join plan
    * and it scales linearly with events per bucket.
    */
  def rangeJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
    val anchors = ev.filter($"event_type" === "error")
      .select($"event_id".as("anchor_id"), $"user_id", $"ts".as("a_ts"))
    val binned = anchors.withColumn("bucket",
        explode(array_distinct(array(
          date_trunc("hour", $"a_ts"),
          date_trunc("hour", $"a_ts" + expr("INTERVAL 1 HOUR"))))))
    val follows = ev.select($"user_id", $"event_id".as("f_id"), $"ts".as("f_ts"),
                            date_trunc("hour", $"ts").as("bucket"))
    val counts = binned.join(follows, Seq("user_id", "bucket"))
      .filter($"f_ts" >= $"a_ts" && $"f_ts" < $"a_ts" + expr("INTERVAL 1 HOUR") &&
              $"f_id" =!= $"anchor_id")
      .groupBy($"anchor_id").agg(count(lit(1)).as("n_follow"))
    anchors.join(counts, Seq("anchor_id"), "left")
      .select($"anchor_id", coalesce($"n_follow", lit(0L)).as("n_follow"))
      .orderBy($"anchor_id")
  }

  /** Correlated-subquery shape (order(s) hitting the per-customer max) as a
    * single window pass — no re-scan, no self-join.
    */
  def correlatedMax(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"o_custkey")
    Tables.orders(s, dir)
      .withColumn("mx", max($"o_totalprice").over(w))
      .filter($"o_totalprice" === $"mx")
      .select($"o_custkey", $"o_orderkey", $"o_totalprice")
      .orderBy($"o_custkey", $"o_orderkey")
  }

  /** Explicit GROUPING SETS — the general form behind rollup/cube: exactly
    * the requested grouping combinations, one shuffle, no superfluous groups.
    */
  def groupingSetsAgg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.customer(s, dir)
      .groupingSets(
        Seq(Seq($"c_mktsegment", $"c_nationkey"), Seq($"c_mktsegment"), Seq($"c_nationkey")),
        $"c_mktsegment", $"c_nationkey")
      .agg(count(lit(1)).as("cust_count"),
           sum(dec2($"c_acctbal")).cast("double").as("sum_acctbal"))
      .select(coalesce($"c_mktsegment", lit("ALL")).as("segment"),
              coalesce($"c_nationkey", lit(-1)).as("nationkey"),
              $"cust_count", $"sum_acctbal")
      .orderBy($"segment", $"nationkey")
  }

  /** Approximate count-distinct (HyperLogLog++) next to the exact count.
    * At 100 TB the sketch is the only viable path — it partial-merges
    * map-side with no raw-value shuffle. The raw HLL estimate is
    * engine-specific, so the cross-engine-checkable contract is (a) the
    * exact count and (b) the error-bound CLAIM as a boolean — the oracle
    * asserts TRUE, which fails the hash compare if Spark's (deterministic)
    * sketch ever drifts outside max(5%, 2 users) of exact.
    */
  def approxDistinct(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .groupBy($"event_type")
      .agg(countDistinct($"user_id").as("exact_users"),
           approx_count_distinct($"user_id", 0.02).as("approx_users"))
      .select($"event_type", $"exact_users",
        (abs($"approx_users" - $"exact_users") <=
          greatest($"exact_users" * 0.05, lit(2.0))).as("approx_within_bound"))
      .orderBy($"event_type")
  }

  /** Deterministic hash-mod sampling — the reproducible corpus-sharding op a
    * training pipeline needs (same rows selected on every run, any cluster
    * size, no sampleBy randomness). Multiplicative hash in plain 64-bit
    * arithmetic so the DuckDB oracle computes the identical subset; at scale
    * the same shape runs over xxhash64(content) for content-keyed splits.
    */
  def deterministicSample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .filter(pmod(graft.SampleHash.column($"doc_id"), lit(1000L)) < 100)
      .select($"doc_id", $"source", $"lang")
      .orderBy($"doc_id")
  }

  /** Event-time RANGE window frame: per user, trailing-1-hour event count and
    * value sum at every event. ROWS frames (q18) count physical rows; RANGE
    * frames bound the frame by the ORDER BY value itself — here microsecond
    * event time, so the frame is "the last hour of activity" regardless of
    * row density. One shuffle on user_id, single Window pass.
    */
  def rangeFrameWindow(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy(unix_micros($"ts"))
      .rangeBetween(-3600L * 1000000L, 0L)
    Tables.events(s, dir)
      .select($"event_id", $"user_id", $"ts",
        count(lit(1)).over(w).as("n_trailing_1h"),
        sum(dec6($"value")).over(w).cast("double").as("sum_trailing_1h"))
      .orderBy($"event_id")
  }

  /** TPC-H Q21-style composition: orders with at least one late-shipping
    * line (correlated cross-side predicate in the semi join) and no
    * high-quantity line (anti join) — EXISTS and NOT EXISTS against the same
    * fact table fused into one plan, each as a single co-partitioned join.
    */
  def existsComposition(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir)
    val orders = Tables.orders(s, dir)
    val late = li.select($"l_orderkey".as("late_key"), $"l_shipdate")
    val heavy = li.filter($"l_quantity" >= 45).select($"l_orderkey".as("heavy_key"))
    orders
      .join(late, $"o_orderkey" === $"late_key" &&
                  $"l_shipdate" > $"o_orderdate" + expr("INTERVAL 60 DAYS"), "left_semi")
      .join(heavy, $"o_orderkey" === $"heavy_key", "left_anti")
      .select($"o_orderkey", $"o_orderdate", $"o_totalprice")
      .orderBy($"o_orderkey")
  }

  /** q38: peak-concurrency interval sweep — how many sessions overlap at
    * once, per event type and hour. Each event opens a deterministic
    * [ts, ts + 60 + event_id % 240 s) interval; intervals become +1/−1
    * endpoint rows and a running sum over the endpoint order is the exact
    * concurrency (half-open semantics: at equal instants the −1 sorts
    * first via delta asc, so touching intervals never double-count).
    *
    * Scale shape — the naive sweep is ONE window per event_type: five
    * partitions total at any data size, a single-reducer wall at 100 TB.
    * This is the two-level formulation instead: (1) endpoints prefix-sum
    * WITHIN each (type, hour bucket) — embarrassingly parallel, and the
    * groupBy that follows reuses the same hash partitioning so it costs no
    * second corpus exchange; (2) bucket summaries (one row per type-hour)
    * prefix-sum per type to set each bucket's entering baseline — a window
    * over rows ~ |buckets|, vanishingly small next to the corpus. Peak in
    * a bucket = baseline + local relative peak. Intervals spanning many
    * buckets are exact: their +1/−1 land in different buckets and the
    * baseline chain carries them across.
    */
  def intervalSweep(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val iv = Tables.events(s, dir).select($"event_id", $"event_type", $"ts".as("t0"),
      expr("timestampadd(SECOND, CAST(60 + event_id % 240 AS INT), ts)").as("t1"))
    val pts = iv.select($"event_type", $"t0".as("t"), lit(1L).as("delta"), $"event_id")
      .union(iv.select($"event_type", $"t1".as("t"), lit(-1L).as("delta"), $"event_id"))
      .withColumn("bucket", date_trunc("hour", $"t"))
    val wLocal = Window.partitionBy($"event_type", $"bucket")
      .orderBy($"t", $"delta", $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val perBucket = pts
      .withColumn("rel_run", sum($"delta").over(wLocal))
      .groupBy($"event_type", $"bucket")
      .agg(count(lit(1)).as("n_points"),
           max($"rel_run").as("rel_peak"),
           sum($"delta").as("bucket_delta"))
    val wBaseline = Window.partitionBy($"event_type").orderBy($"bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perBucket
      .withColumn("baseline", sum($"bucket_delta").over(wBaseline) - $"bucket_delta")
      .select($"event_type", $"bucket", $"n_points",
              ($"baseline" + $"rel_peak").as("peak_concurrency"))
      .orderBy($"event_type", $"bucket")
  }

  /** q39: conversion funnel over event sequences — signup → first
    * qualifying purchase, reported per weekly signup cohort. Two passes:
    * (1) per-user first signup (one partial-aggregated shuffle on
    * user_id), (2) purchases join that anchor and keep the earliest at or
    * after it (the same user_id partitioning — co-partitioned join +
    * agg, no extra corpus exchange beyond the join itself). Conversion
    * rate is exact integer permille and latency an exact second sum, so
    * the row hashes cross-engine with no floating averages.
    */
  def funnel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
    val signups = ev.filter($"event_type" === "signup")
      .groupBy($"user_id").agg(min($"ts").as("signup_ts"))
    val conversions = ev.filter($"event_type" === "purchase")
      .join(signups, "user_id")
      .filter($"ts" >= $"signup_ts")
      .groupBy($"user_id").agg(min($"ts").as("purchase_ts"))
    signups
      .join(conversions, Seq("user_id"), "left")
      .groupBy(date_trunc("week", $"signup_ts").as("cohort_week"))
      .agg(
        count(lit(1)).as("n_signups"),
        count($"purchase_ts").as("n_converted"),
        sum(when($"purchase_ts".isNotNull,
          unix_timestamp($"purchase_ts") - unix_timestamp($"signup_ts")).otherwise(0L))
          .as("total_latency_s"))
      .withColumn("conv_permille", expr("n_converted * 1000 div n_signups"))
      .orderBy($"cohort_week")
  }

  /** q40: weekly cohort retention — the matrix next to q39's funnel: for
    * each signup-week cohort, how many of its users were active again 0,
    * 1, 2, 3 weeks after their own signup day. Day-based integer offsets
    * (datediff div 7 from each user's anchor DAY) avoid engine week-origin
    * differences inside the offset math; the cohort label itself is the
    * ISO date_trunc week both engines share. Shape: the anchor agg and
    * the activity join co-partition on user_id (one corpus exchange), the
    * retention rollup partial-aggregates (cohort, offset, user) distincts,
    * cohort sizes broadcast back — no self-join of events against events,
    * and the result is |cohorts|x4 rows at any SF. Exact integer permille.
    */
  def retentionCohorts(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
    val anchors = ev.filter($"event_type" === "signup")
      .groupBy($"user_id").agg(min($"ts").as("anchor_ts"))
      .select($"user_id",
        to_date(date_trunc("week", $"anchor_ts")).as("cohort"),
        to_date($"anchor_ts").as("anchor_day"))
    val sizes = anchors.groupBy($"cohort").agg(count(lit(1)).as("cohort_size"))
    val retained = ev.select($"user_id", to_date($"ts").as("day"))
      .join(anchors, "user_id")
      .filter($"day" >= $"anchor_day")
      .select($"cohort", expr("datediff(day, anchor_day) div 7").as("week_offset"),
              $"user_id")
      .filter($"week_offset" <= 3)
      .groupBy($"cohort", $"week_offset")
      .agg(countDistinct($"user_id").as("n_active"))
    retained.join(broadcast(sizes), "cohort")
      .select($"cohort", $"week_offset".cast("long").as("week_offset"),
              $"n_active", $"cohort_size",
              expr("n_active * 1000 div cohort_size").as("retention_permille"))
      .orderBy($"cohort", $"week_offset")
  }

  /** q41: user-journey transition matrix — the behavioral-model input next
    * to q39's fixed funnel and q40's cohort grid: for every consecutive
    * event pair within a user's timeline, count (from_type -> to_type) and
    * its probability within the from-state (the first-order Markov row).
    * Integer permille (n * 1000 div row total) keeps it engine-exact, the
    * q40 convention.
    *
    * One key exchange for the lead() window (user timeline order by
    * (ts, event_id) — the deterministic tiebreak every events window here
    * uses), then the matrix itself is a |types|² aggregate: the row-total
    * normalization runs as a window over those few rows, never touching
    * the corpus again.
    */
  def transitions(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val wRow = Window.partitionBy($"from_type")
    Tables.events(s, dir)
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .withColumn("next_type", lead($"event_type", 1).over(w))
      .filter($"next_type".isNotNull)
      .groupBy($"event_type".as("from_type"), $"next_type".as("to_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p_permille", expr("n * 1000 div sum(n) over (partition by from_type)"))
      .select($"from_type", $"to_type", $"n", $"p_permille")
      .orderBy($"from_type", $"to_type")
  }

  /** q42: mergeable-sketch re-aggregation — the materialized-cube pattern
    * for COUNT(DISTINCT) at 100 TB. Exact distinct counts are not
    * algebraic: a per-day exact cube cannot answer per-type distincts,
    * because the same user repeats across days — so every new grain means
    * another full pass over raw events. HLL sketches ARE mergeable: store
    * one small sketch per (event_type, day) cell — |types| × |days| rows
    * regardless of corpus size — and answer ANY coarser grain by unioning
    * sketches, never re-touching the raw table. This key materializes the
    * daily sketch cube, re-aggregates it to per-type estimates
    * (hll_union_agg over the stored sketches), and verdicts each estimate
    * against the exact count. The exact pass exists here only to CHECK the
    * sketch path; at scale it is precisely the pass this pattern deletes.
    * Estimate is engine-specific, so the oracle asserts the error-bound
    * claim as TRUE (the q24 pattern); lgConfigK=12 gives ~1.6% typical
    * error against the 5% gate. s20 is the ingest-time twin: the same
    * sketches folded incrementally per micro-batch.
    */
  def sketchReagg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
    val daily = ev
      .groupBy($"event_type", to_date($"ts").as("day"))
      .agg(hll_sketch_agg($"user_id", lit(12)).as("sketch"))
    val reagg = daily
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_days"),
           hll_sketch_estimate(hll_union_agg($"sketch")).as("reagg_users"))
    val exact = ev.groupBy($"event_type")
      .agg(countDistinct($"user_id").as("exact_users"))
    reagg.join(exact, Seq("event_type"))
      .select($"event_type", $"n_days", $"exact_users",
        (abs($"reagg_users" - $"exact_users") <=
          greatest($"exact_users" * 0.05, lit(2.0))).as("reagg_within_bound"))
      .orderBy($"event_type")
  }

  /** q43: RFM behavioral segmentation (recency / frequency / monetary) —
    * the classic user-value grid marketing and retention teams run over the
    * event stream. The naive form ntile(4)s each dimension over ALL users:
    * an unpartitioned window, i.e. a single-reducer sort over |users| —
    * exactly the shape p30 exists to avoid — and ntile splits ties
    * arbitrarily, so it isn't even deterministic cross-engine. This runs
    * the d24 histogram pattern per dimension instead: one user_id exchange
    * builds the per-user (recency, frequency, monetary) row, ONE exploded
    * (dim, value) histogram covers all three dimensions in a single bounded
    * agg (days span, count range, whole currency units — none grows with
    * |users|), a dim-parallel cumsum over histogram rows finds the exact
    * quartile cutoffs c_t = min v with |{v' ≤ v}| ≥ ceil(N·t/4)
    * (all-integer: (N·t+3) div 4), and scoring is a scan-local comparison
    * against one broadcast pivoted cutoff row. Value-based quartiles give
    * ties the SAME score — the deterministic semantics ntile lacks.
    * Monetary sums through DECIMAL(18,6) (exact, order-independent) and
    * floors to whole units so its histogram stays bounded and the output
    * hashes exactly. The per-user aggregate is referenced by the anchor,
    * histogram, and scoring branches — canonically identical shuffles that
    * AQE's exchange reuse materializes once at runtime.
    */
  def rfmSegments(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val users = Tables.events(s, dir)
      .groupBy($"user_id")
      .agg(
        max(to_date($"ts")).as("last_day"),
        count(lit(1)).as("frequency"),
        floor(sum($"value".cast("decimal(18,6)"))).cast("long").as("monetary_units"))
    val global = users.agg(max($"last_day").as("gmax"))
    val scored = users.crossJoin(broadcast(global))
      .select($"user_id",
        datediff($"gmax", $"last_day").cast("long").as("recency_days"),
        $"frequency", $"monetary_units")
    // exact quartile cutoffs for ALL THREE dimensions from ONE histogram
    // pass: explode each user row into (dim, value), aggregate the bounded
    // (dim, value) histogram, and window per dim — the windows run over
    // HISTOGRAM rows, never over users, and the cumsum is dim-parallel
    val hist = scored
      .select(explode(array(
        struct(lit("recency_days").as("dim"), $"recency_days".as("v")),
        struct(lit("frequency").as("dim"), $"frequency".as("v")),
        struct(lit("monetary_units").as("dim"), $"monetary_units".as("v")))).as("dv"))
      .select($"dv.dim", $"dv.v")
      .groupBy($"dim", $"v").agg(count(lit(1)).as("c"))
    val wCum = Window.partitionBy($"dim").orderBy($"v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy($"dim")
    val cutsRow = hist
      .withColumn("cum", sum($"c").over(wCum))
      .withColumn("nu", sum($"c").over(wAll))
      .groupBy($"dim").agg(
        min(when($"cum" >= expr("(nu * 1 + 3) div 4"), $"v")).as("c1"),
        min(when($"cum" >= expr("(nu * 2 + 3) div 4"), $"v")).as("c2"),
        min(when($"cum" >= expr("(nu * 3 + 3) div 4"), $"v")).as("c3"))
      .groupBy()
      .pivot($"dim", Seq("recency_days", "frequency", "monetary_units"))
      .agg(first($"c1").as("c1"), first($"c2").as("c2"), first($"c3").as("c3"))
    def quartile(dim: String): Column =
      lit(1L) + (col(dim) > col(s"${dim}_c1")).cast("long") +
        (col(dim) > col(s"${dim}_c2")).cast("long") +
        (col(dim) > col(s"${dim}_c3")).cast("long")
    scored
      .crossJoin(broadcast(cutsRow))
      .select($"user_id", $"recency_days", $"frequency", $"monetary_units",
        quartile("recency_days").as("r_quartile"),
        quartile("frequency").as("f_quartile"),
        quartile("monetary_units").as("m_quartile"),
        (quartile("recency_days") * 100 + quartile("frequency") * 10 +
          quartile("monetary_units")).as("segment"))
      .orderBy($"user_id")
  }

  /** q44: Z-order (Morton) clustering key — MULTI-dimensional data skipping,
    * the layout primitive the sort-clustered spec's 1-D range layout can't
    * give: a table sorted by time prunes time predicates but every file
    * spans the full user domain (and vice versa). Interleaving the two
    * dimensions' bits (codegen'd `interleave_bits` kernel — the 11th custom
    * expression) makes a SINGLE sort key whose contiguous ranges are small
    * axis-aligned rectangles, so files written in z order carry tight
    * min/max footer stats on BOTH dimensions and either predicate prunes
    * (the property PlansSpec measures file-by-file on a uniform grid,
    * against a 1-D sort where the off-axis span is the full domain). Key
    * emits the z value per event over the (user, hour) grid — all-integer,
    * oracle replays the interleave bit-by-bit; the layout write itself is
    * `repartitionByRange(zval) + sortWithinPartitions(zval)`, exactly the
    * sort-clustered spec's recipe with z as the key.
    */
  def zorderLayout(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .select($"event_id",
        pmod($"user_id", lit(256L)).as("x"),
        pmod(expr("unix_timestamp(ts) div 3600"), lit(256L)).as("y"))
      .withColumn("zval", graft.functions.GraftFunctions.interleaveBits($"x", $"y"))
      .orderBy($"event_id")
  }

  /** String expression suite — all codegen'd built-ins, no UDFs. */
  def stringSuite(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.part(s, dir)
      .filter($"p_name".like("%ol%"))
      .select(
        $"p_partkey",
        upper(substring($"p_name", 1, 8)).as("name_prefix"),
        length($"p_name").as("name_len"),
        regexp_replace($"p_type", "[aeiou]", "").as("type_novowel"),
        concat_ws("|", $"p_brand", $"p_type").as("brand_type"))
      .orderBy($"p_partkey")
  }

  /** q45: incremental materialized-view maintenance — q01's pricing
    * aggregate kept fresh by FOLDING batches into per-group partial state
    * instead of re-aggregating the fact table (the lakehouse MV refresh
    * loop; at 100 TB a nightly full rebuild of a hot MV is the cost
    * ceiling this removes). State per (returnflag, linestatus) group =
    * the additive components only (decimal sums + count — DECIMAL so the
    * re-aggregation of partials is EXACT and merge-order-free; a double
    * sum would drift between fold orders and the rebuild); each batch
    * partial-aggregates then unions into state and re-aggregates — sum of
    * sums is associative/commutative, so any batch partitioning reaches
    * the rebuild's state bit-for-bit, which the q01-convention oracle
    * proves by hash. Derived columns (casts, the rounded average) are
    * computed ONCE at read-out, never folded. State is |groups| rows;
    * per-fold shuffle is |groups| x partitions partial rows, not the fact
    * table. Batches split by l_orderkey mod — late rows in later batches
    * land in existing groups exactly as an out-of-order ingest would.
    */
  val MvReplayBatches = 3
  def mvMaintenance(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rows = Tables.lineitem(s, dir)
      .filter($"l_shipdate" <= lit("2001-09-02").cast("timestamp"))
      .select($"l_orderkey", $"l_returnflag", $"l_linestatus",
        dec2($"l_quantity").as("qty"), dec2($"l_extendedprice").as("price"),
        (dec2($"l_extendedprice") *
          (lit(1).cast("decimal(18,2)") - dec2($"l_discount"))).as("disc_price"))
    // All per-batch partials derive from ONE fact scan (groupBy batch +
    // group keys), materialized once — at 100 TB, one corpus pass instead
    // of one per batch, which is exactly what a historical backfill of an
    // incremental MV does. DECIMAL partials make the regrouped sums
    // bit-identical to the per-batch aggregation.
    val partials = rows
      .withColumn("b", pmod($"l_orderkey", lit(MvReplayBatches.toLong)))
      .groupBy($"b", $"l_returnflag", $"l_linestatus")
      .agg(sum($"qty").as("s_qty"), sum($"price").as("s_price"),
           sum($"disc_price").as("s_disc"), count(lit(1)).as("n"))
    val state = graft.streaming.Fold.replayPartials(MvReplayBatches, partials)(
      graft.streaming.Streams.sumByKeys("l_returnflag", "l_linestatus"))
    state.select($"l_returnflag", $"l_linestatus",
        $"s_qty".cast("double").as("sum_qty"),
        $"s_price".cast("double").as("sum_base_price"),
        $"s_disc".cast("double").as("sum_disc_price"),
        (floor($"s_qty".cast("double") / $"n" * 1e6 + 0.5) / 1e6).as("avg_qty"),
        $"n".as("count_order"))
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  /** q46: time-series gap fill — the resample step every monitoring /
    * feature-engineering consumer of q14's bucketed aggregates actually
    * needs: an hourly aggregate SKIPS silent hours entirely, and a model
    * (or alert rule) fed only observed buckets cannot tell "no events" from
    * "no data row". This key densifies each event type's hourly series over
    * its OWN observed [min, max] span (a sequence explode off a |types|-row
    * agg — never a global calendar table) and forward-fills the last
    * observation (last_value IGNORE NULLS — the carry-forward idiom), with
    * is_gap and hours-since-observation carried so downstream can
    * distinguish fact from fill (p28's staleness question, answered per
    * bucket instead of per feed). ONE corpus exchange (the (type, hour)
    * partial agg); the dense axis, join and both fill windows run over
    * |types|×|hours| rows. Hour buckets are integer epoch-hours (exact),
    * the value sum goes through DECIMAL before double (s01's law).
    */
  def gapFill(s: SparkSession, dir: String): DataFrame =
    gapFillOf(graft.Tables.events(s, dir))

  private[graft] def gapFillOf(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    val hourly = events
      .select($"event_type", expr("unix_micros(ts) div 3600000000").as("hb"),
              $"value".cast("decimal(18,6)").as("v"))
      .groupBy($"event_type", $"hb")
      .agg(count(lit(1)).as("n_events"), sum($"v").cast("double").as("sum_value"))
    fillFromHourly(hourly)
  }

  /** The fill-on-read derivation shared by q46 (one-shot) and s28 (the
    * streaming fold): takes the OBSERVED hourly table
    * (event_type, hb, n_events, sum_value) and densifies + forward-fills.
    * Everything here is |types|×|hours|-sized — the corpus never re-enters.
    */
  private[graft] def fillFromHourly(hourly: DataFrame): DataFrame = {
    val s = hourly.sparkSession
    import s.implicits._
    val axis = hourly.groupBy($"event_type")
      .agg(min($"hb").as("lo"), max($"hb").as("hi"))
      .select($"event_type", explode(sequence($"lo", $"hi")).as("hb"))
    val w = Window.partitionBy($"event_type").orderBy($"hb")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    axis.join(hourly, Seq("event_type", "hb"), "left")
      .withColumn("is_gap", $"n_events".isNull)
      .withColumn("filled_events", last($"n_events", ignoreNulls = true).over(w))
      .withColumn("filled_value", last($"sum_value", ignoreNulls = true).over(w))
      .withColumn("last_obs_hb", max(when(!$"is_gap", $"hb")).over(w))
      .select($"event_type",
        timestamp_micros($"hb" * 3600000000L).as("bucket_ts"),
        coalesce($"n_events", lit(0L)).as("n_events"),
        $"is_gap", $"filled_events", $"filled_value",
        ($"hb" - $"last_obs_hb").as("hours_since_obs"))
      .orderBy($"event_type", $"bucket_ts")
  }

  /** q49: robust time-series anomaly detection — the alerting consumer of
    * q46's resample: flag hours whose event volume sits more than k MADs
    * from the typical hour, per type. Median/MAD instead of mean/stddev
    * because volume anomalies are exactly what corrupts the mean (one burst
    * hour drags the z-score baseline toward itself; the median ignores it)
    * — and both medians are EXACT lower medians selected from sorted
    * arrays, all-integer, so the verdict hash-checks cross-engine where a
    * float stddev would sit at libm's mercy. Shape: one corpus exchange
    * (the (type, hour) agg — q46's), then two |types|-row aggregates
    * (collect the ≤|hours| counts per type — bounded by the time span, NOT
    * the corpus; a year is 8760 values) broadcast back against the hourly
    * table. The k·MAD compare is cross-multiplied (dev·1000 > 4500·mad, no
    * division); an all-quiet type (mad = 0) falls back to "any deviation
    * from the median" via greatest(mad, 1).
    */
  def anomalyMad(s: SparkSession, dir: String): DataFrame =
    anomalyMadOf(graft.Tables.events(s, dir))

  private[graft] def anomalyMadOf(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    madFromHourly(events
      .select($"event_type", expr("unix_micros(ts) div 3600000000").as("hb"))
      .groupBy($"event_type", $"hb")
      .agg(count(lit(1)).as("n_events")))
  }

  /** The MAD-verdict derivation shared by q49 (one-shot) and s30 (the
    * streaming fold): takes the OBSERVED hourly count table and attaches
    * exact median/MAD anomaly verdicts — verdicts depend on GLOBAL
    * medians, so they always derive at read time over the finished state
    * (s28's fill-on-read argument: folding a verdict would mean folding a
    * median, which is not additive).
    */
  private[graft] def madFromHourly(hourly: DataFrame): DataFrame = {
    val s = hourly.sparkSession
    import s.implicits._
    def lowerMedian(df: DataFrame, c: String, as: String) = {
      import df.sparkSession.implicits._
      df.groupBy($"event_type")
        .agg(array_sort(collect_list(col(c))).as("arr"))
        .select($"event_type",
          expr("element_at(arr, cast((size(arr) + 1) div 2 as int))").as(as))
    }
    val med = lowerMedian(hourly, "n_events", "med")
    val withMed = hourly.join(broadcast(med), "event_type")
      .withColumn("dev", abs($"n_events" - $"med"))
    val mad = lowerMedian(withMed, "dev", "mad")
    withMed.join(broadcast(mad), "event_type")
      .select($"event_type", timestamp_micros($"hb" * 3600000000L).as("bucket_ts"),
        $"n_events", $"med", $"mad", $"dev",
        ($"dev" * 1000L > lit(4500L) * greatest($"mad", lit(1L))).as("is_anomaly"))
      .orderBy($"event_type", $"bucket_ts")
  }

  /** q50: the VARIANT path for semi-structured data — Spark 4's headline
    * answer to "JSON columns at warehouse scale" (open-encoded binary
    * variant, typed sub-field access without a schema, shredding-ready),
    * next to q16's classic get_json_object-over-STRING: a nested document
    * (object + array + scalars) is assembled deterministically from the
    * event columns (fixture convention — the corpus's own props JSON is a
    * single flat key, too thin to exercise paths), parsed ONCE into a
    * VARIANT, and every downstream field access is a typed variant_get
    * path ($.meta.user, $.vals[1], a missing path proving null semantics).
    * All extracted values are exact integers (the double value snaps to
    * DECIMAL micros BEFORE rendering), so the rollup hash-checks. The
    * oracle is STRONGER than a re-parse: it recomputes the expected
    * aggregates straight from the raw columns — if parse_json/variant_get
    * dropped, coerced, or misrouted anything, the hashes split. Scan-local
    * parse + one rollup exchange.
    */
  def variantJson(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val micros = ($"value".cast("decimal(18,6)") * 1000000).cast("long")
    val j = concat(
      lit("{\"meta\":{\"type\":\""), $"event_type",
      lit("\",\"user\":"), $"user_id".cast("string"),
      lit("},\"vals\":["), micros.cast("string"),
      // A missing/non-numeric $.k must degrade to a JSON null field, not
      // nullify the whole concat (which would NULL every extracted column
      // for that event and silently diverge from the oracle, which nulls
      // only k). get_json_object returns digits for the fixture's numeric
      // k; anything non-numeric is rejected to "null" too so parse_json
      // can never see unquoted junk.
      lit(","),
      coalesce(
        when(get_json_object($"props", "$.k").rlike("^-?[0-9]+$"),
          get_json_object($"props", "$.k")),
        lit("null")),
      lit("]}"))
    Tables.events(s, dir)
      .select(parse_json(j).as("v"))
      .select(
        expr("variant_get(v, '$.meta.type', 'string')").as("event_type"),
        expr("variant_get(v, '$.meta.user', 'long')").as("user"),
        expr("variant_get(v, '$.vals[0]', 'long')").as("micros"),
        expr("variant_get(v, '$.vals[1]', 'long')").as("k"),
        expr("try_variant_get(v, '$.absent', 'long')").as("absent"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum($"k").as("sum_k"),
        sum($"micros").as("sum_micros"),
        max($"user").as("max_user"),
        sum(when($"absent".isNull, 1L).otherwise(0L)).as("n_absent"))
      .orderBy($"event_type")
  }

  /** q47: the array / higher-order-function suite — collection columns as
    * first-class values: per order, the line items fold into ONE ordered
    * array (struct sort on linenumber pins the order deterministically —
    * collect_list alone guarantees nothing), and every downstream measure
    * is row-local array math: aggregate() folds, zip_with() pairs two
    * projections positionally, filter() counts by predicate, array_distinct
    * / array_sort / slice / reverse / array_join shape presentation
    * strings. This is the sanctioned HOF habitat (SURVEY §7f): per-order
    * arrays are ≤7 elements, so interpreted lambda evaluation is noise —
    * the 30× corpus-scale HOF lesson applies to corpus-length strings, not
    * bounded nests. Money stays exact: DECIMAL(18,2)→cents BIGINT before
    * any fold (q01's law), so every output hash-checks. Plan: ONE exchange
    * (the per-order collect), then pure codegen'd projection.
    */
  def arraySuite(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def cents(c: Column) = (c.cast("decimal(18,2)") * 100).cast("long")
    val li = graft.Tables.lineitem(s, dir).select($"l_orderkey",
      struct($"l_linenumber", cents($"l_quantity").as("qty_c"),
        cents($"l_extendedprice").as("price_c"),
        $"l_returnflag".as("flag")).as("ln"))
    li.groupBy($"l_orderkey")
      .agg(sort_array(collect_list($"ln")).as("lines"))
      .withColumn("qtys", expr("transform(lines, x -> x.qty_c)"))
      .select($"l_orderkey",
        size($"lines").cast("long").as("n_lines"),
        expr("aggregate(qtys, 0L, (acc, x) -> acc + x)").as("qty_cents"),
        expr("""aggregate(
                  zip_with(qtys, transform(lines, x -> x.price_c),
                           (q, p) -> q * p),
                  0L, (acc, x) -> acc + x)""").as("weighted_cents"),
        expr("size(filter(lines, x -> x.qty_c >= 3000))")
          .cast("long").as("n_heavy"),
        array_join(array_sort(array_distinct(
          expr("transform(lines, x -> x.flag)"))), "").as("flags"),
        array_join(expr(
          "transform(slice(reverse(array_sort(qtys)), 1, 3), x -> cast(x as string))"),
          ",").as("top3_qty"))
      .orderBy($"l_orderkey")
  }

  /** q48: per-group skyline (Pareto frontier) — the multi-objective "best"
    * the single-key top-k (q05) cannot express: within each order priority,
    * keep orders no other order beats on BOTH axes (total price ↑, order
    * date ↓ — "at least as expensive AND at least as early, strictly better
    * on one"). Quadratic NOT-EXISTS is the textbook phrasing; the engine
    * computes it in one window pass over integer cents: sorted by price
    * descending, a row survives the strict-price axis iff its date beats
    * the running MIN date over STRICTLY higher-priced rows (a RANGE frame
    * to 1 PRECEDING on integer cents — exactly "strictly greater"), and
    * survives the tie axis iff it holds the MIN date among its price peers
    * (equal-price-equal-date duplicates all survive: no strict edge).
    * O(n log n) per group — and because there are only a handful of
    * priority groups, the global pass is NOT allowed to see the corpus:
    * the skyline composition identity skyline(∪ skyline(partᵢ)) =
    * skyline(∪ partᵢ) (dominance is transitive, and a strict dominator of
    * a dropped row always survives its own partition's local pass under
    * the keep-exact-ties law) lets a FIRST window pass run per
    * (priority, salt) — salt derived from the session's shuffle
    * parallelism, never a literal (the p30 lesson) — so the corpus-sized
    * sort spreads across all reducers and only the per-salt frontiers
    * (near-constant-sized as the corpus grows) reach the per-priority
    * global window. The spec proves the two-stage law ≡ brute-force
    * dominance and that the pre-filter actually shrinks the global input.
    */
  def skyline(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = graft.Tables.orders(s, dir).select(
      $"o_orderpriority".as("pri"), $"o_orderkey", $"o_totalprice",
      $"o_orderdate",
      ($"o_totalprice".cast("decimal(18,2)") * 100).cast("long").as("price_c"),
      // o_orderdate reads as TIMESTAMP_NTZ; the session TZ is pinned UTC,
      // so the cast is the identity epoch mapping DuckDB's epoch_us uses
      expr("unix_micros(cast(o_orderdate as timestamp))").as("date_us"))
    val buckets = s.conf.get("spark.sql.shuffle.partitions").toInt
    val local = skylinePass(
      o.withColumn("salt", pmod($"o_orderkey", lit(buckets.toLong))),
      Seq("pri", "salt")).drop("salt")
    skylinePass(local, Seq("pri"))
      .select($"pri", $"o_orderkey", $"o_totalprice", $"o_orderdate")
      .orderBy($"pri", $"o_totalprice".desc, $"o_orderkey")
  }

  /** One skyline window pass within `keys` partitions: survivors of the
    * strict-price axis (running MIN date over strictly pricier rows) AND
    * the tie axis (MIN date among price peers; exact ties all kept).
    */
  private[graft] def skylinePass(df: DataFrame, keys: Seq[String]): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    val part = keys.map(col)
    val strictlyPricier = Window.partitionBy(part: _*).orderBy($"price_c".desc)
      .rangeBetween(Window.unboundedPreceding, -1)
    val pricePeers = Window.partitionBy(part :+ $"price_c": _*)
    df.withColumn("runmin", min($"date_us").over(strictlyPricier))
      .withColumn("eqmin", min($"date_us").over(pricePeers))
      .filter(($"runmin".isNull || $"runmin" > $"date_us") &&
              $"date_us" === $"eqmin")
      .drop("runmin", "eqmin")
  }
}
