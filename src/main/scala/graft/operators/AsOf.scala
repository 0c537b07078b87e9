package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** As-of (time-travel) join — an operator Spark lacks natively, composed
  * from built-ins so Catalyst still owns the plan:
  *
  *   right side deduped per (key, ts), both sides unioned with a side tag,
  *   one window pass per key ordered by (ts, tag) carries the latest right
  *   row forward, then the left side is filtered back out.
  *
  * One shuffle on the key, no range-join explosion, no per-key driver work —
  * this is the scale-correct shape (the alternative, a range join, is
  * quadratic per key).
  *
  * Semantics match DuckDB's ASOF LEFT JOIN (greatest right.ts <= left.ts),
  * which is the oracle.
  */
object AsOf {

  /** Same query as [[asofJoin]] through the native whole-operator path:
    * graft's custom AsOfJoin LogicalPlan + Strategy + sort-merge SparkPlan
    * (see [[graft.plans.AsOfJoinExec]]). Identical oracle as p13.
    */
  def asofJoinNative(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
    val purchases = ev.filter($"event_type" === "purchase")
      .groupBy($"user_id", $"ts")
      .agg(max($"event_id").as("p_id"))
      .select($"user_id".as("p_user_id"), $"ts".as("p_ts"), $"p_id")
    val errors = ev.filter($"event_type" === "error")
      .select($"event_id".as("e_id"), $"user_id", $"ts".as("e_ts"))
    graft.plans.AsOfJoinDF.asofLeft(
        errors, purchases,
        Seq(errors("user_id")), Seq(purchases("p_user_id")),
        errors("e_ts"), purchases("p_ts"))
      .select($"e_id", $"user_id", $"e_ts", $"p_id", $"p_ts")
      .orderBy($"e_id")
  }

  /** FORWARD as-of: for every 'error' event, the EARLIEST following (or
    * simultaneous) 'purchase' by the same user — the attribution direction
    * ("what happened next") that backward as-of (p13/p15) can't express.
    * Same union+window composition with the ordering reversed: one shuffle
    * on the key, the descending (ts, tag) order makes the running `last`
    * carry the nearest following purchase, and purchases sort before
    * errors at equal ts so ">=" includes simultaneous matches. Oracle =
    * DuckDB ASOF LEFT JOIN with the inequality flipped.
    */
  def asofJoinForward(s: SparkSession, dir: String): DataFrame =
    oneSided(Tables.events(s, dir), forward = true, "next_p")

  /** p29: NEAREST as-of — for every 'error' event, the closest 'purchase'
    * by the same user in EITHER direction (|Δt| minimized, ties to the
    * backward match: "what state was I in" beats "what happened next" at
    * equal distance). Completes the as-of triad (backward p13/p15, forward
    * p24) — the sensor-alignment direction both one-sided joins miss when
    * the nearest reading sits on the other side of the probe.
    *
    * ONE union, ONE exchange on the key: the backward and forward carries
    * are two window passes over opposite orderings of the same partition —
    * the second Window re-sorts within partitions but never reshuffles.
    * The verdict is a scan-local projection comparing the two candidates'
    * microsecond distances.
    */
  def asofJoinNearest(s: SparkSession, dir: String): DataFrame =
    asofJoinNearestOf(Tables.events(s, dir))

  private[graft] def asofJoinNearestOf(ev: DataFrame): DataFrame = {
    val s = ev.sparkSession
    import s.implicits._
    val both = tagged(ev)
      .withColumn("prev_p", carry(forward = false))
      .withColumn("next_p", carry(forward = true))
      .filter($"tag" === 1)
    val dBack = unix_micros($"ts") - unix_micros($"prev_p.p_ts")
    val dFwd  = unix_micros($"next_p.p_ts") - unix_micros($"ts")
    val pickBack = $"next_p".isNull || ($"prev_p".isNotNull && dBack <= dFwd)
    both.select($"e_id", $"user_id", $"ts".as("e_ts"),
        when(pickBack, $"prev_p.p_id").otherwise($"next_p.p_id").as("p_id"),
        when(pickBack, $"prev_p.p_ts").otherwise($"next_p.p_ts").as("p_ts"),
        when($"prev_p".isNull && $"next_p".isNull, lit(null).cast("string"))
          .when(pickBack, lit("backward")).otherwise(lit("forward")).as("direction"))
      .orderBy($"e_id")
  }

  /** For every 'error' event, the latest preceding (or simultaneous)
    * 'purchase' by the same user.
    */
  def asofJoin(s: SparkSession, dir: String): DataFrame =
    oneSided(Tables.events(s, dir), forward = false, "last_p")

  /** Purchases (tag 0) unioned with errors (tag 1): the one input of every
    * window as-of join. The purchase side is deduped per (key, ts) so
    * equal-timestamp ties resolve identically in both engines (max
    * event_id wins).
    */
  private def tagged(ev: DataFrame): DataFrame = {
    val s = ev.sparkSession
    import s.implicits._
    val purchases = ev.filter($"event_type" === "purchase")
      .groupBy($"user_id", $"ts")
      .agg(max($"event_id").as("p_id"))
      .select($"user_id", $"ts", $"p_id", lit(0).as("tag"),
              lit(null).cast("long").as("e_id"))
    val errors = ev.filter($"event_type" === "error")
      .select($"user_id", $"ts", lit(null).cast("long").as("p_id"), lit(1).as("tag"),
              $"event_id".as("e_id"))
    purchases.union(errors)
  }

  /** The carried purchase struct(p_ts, p_id): the last purchase at or
    * before each row of [[tagged]] in ts order, ascending for backward
    * as-of, descending for forward. Tag orders purchases before errors at
    * equal ts, so both directions include simultaneous matches.
    */
  private def carry(forward: Boolean): Column = {
    val ts = if (forward) col("ts").desc else col("ts")
    val w = Window.partitionBy(col("user_id")).orderBy(ts, col("tag"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    last(when(col("tag") === 0, struct(col("ts").as("p_ts"), col("p_id"))), ignoreNulls = true)
      .over(w)
  }

  /** A one-sided as-of join: each error row with its [[carry]] `name`. */
  private def oneSided(ev: DataFrame, forward: Boolean, name: String): DataFrame =
    tagged(ev).withColumn(name, carry(forward))
      .filter(col("tag") === 1)
      .select(col("e_id"), col("user_id"), col("ts").as("e_ts"),
              col(s"$name.p_id").as("p_id"), col(s"$name.p_ts").as("p_ts"))
      .orderBy(col("e_id"))
}
