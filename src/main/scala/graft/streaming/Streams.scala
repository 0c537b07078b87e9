package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.{Materialize, Tables}
import graft.operators.{Dedup, TextOps}

/** One event row as consumed by the typed sessionizer. */
case class Event(event_id: Long, ts: Timestamp, user_id: Long, event_type: String, value: Double)

/** A closed (or flushed) user session. */
case class Session(user_id: Long, session_start: Timestamp, session_end: Timestamp,
                   n_events: Long, total_value: Double)

/** Accumulating per-user session state: event times in microseconds, the
  * value total unscaled at scale 6 (the batch twin's exact decimal(18,6)). */
case class SessionState(start: Long, last: Long, n: Long, total: Long)

/** One document as consumed by the s18 budget-admission fold. */
case class BudgetDoc(doc_id: Long, source: String, n_tokens: Long)

/** Per-doc admission verdict under the s18 per-source token budget. */
case class BudgetVerdict(doc_id: Long, source: String, n_tokens: Long,
                         spent_before: Long, admitted: Boolean)

/** One incoming blob for the s19 shard-assignment fold. */
case class ShardDoc(doc_id: Long, source: String, byte_len: Long)

/** One incoming example for the s22 global-index fold. */
case class IndexDoc(doc_id: Long, source: String)

/** s19 per-blob verdict: which shard of its source the blob lands in. */
case class ShardAssign(doc_id: Long, source: String, byte_len: Long, shard_idx: Long)

/** Per-type running census row emitted by the transformWithState processor. */
case class TypeCensus(event_type: String, n_events: Long, sum_micros: Long)

/** The s01-family census re-expressed through Spark 4's arbitrary-state API
  * (`transformWithState` + `StatefulProcessor` + `ValueState`) — the
  * successor to flatMapGroupsWithState (s02's engine): explicit typed state
  * handles, per-state TTL, and timer callbacks instead of a single opaque
  * GroupState. Kept deliberately minimal (ValueState fold, no timers): the
  * spec proves the folded state reaches the batch aggregate exactly across
  * multiple triggers, which is the property every state migration to this
  * API must preserve. Requires the RocksDB state store provider (Spark
  * constraint for transformWithState; the spec sets it per-query).
  */
class TypeCensusProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[String, Event, TypeCensus] {
  import org.apache.spark.sql.streaming.{TimeMode, TimerValues, TTLConfig, ValueState}
  import org.apache.spark.sql.Encoders
  @transient private var state: ValueState[TypeCensus] = _
  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    state = getHandle.getValueState[TypeCensus](
      "census", Encoders.product[TypeCensus], TTLConfig.NONE)
  override def handleInputRows(key: String, rows: Iterator[Event],
                               timerValues: TimerValues): Iterator[TypeCensus] = {
    var st = Option(state.get()).getOrElse(TypeCensus(key, 0L, 0L))
    rows.foreach(e => st = TypeCensus(key, st.n_events + 1L, st.sum_micros + Streams.microsOf(e.ts)))
    state.update(st)
    Iterator.single(st)
  }
}

/** Per-term census row for the s29 batch StatefulProcessor. */
case class TermCount(term: String, cnt: Long)

/** s26's unigram-census fold re-expressed through the transformWithState
  * StatefulProcessor — one ValueState counter per term, the identical
  * fold a streaming census runs per micro-batch (the s29 MemoryStream
  * spec proves the multi-trigger law on this API; this processor drives
  * the same contract over the real corpus for the oracled key).
  */
class TermCensusProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[String, String, TermCount] {
  import org.apache.spark.sql.streaming.{TimeMode, TimerValues, TTLConfig, ValueState}
  import org.apache.spark.sql.Encoders
  @transient private var state: ValueState[TermCount] = _
  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    state = getHandle.getValueState[TermCount](
      "census", Encoders.product[TermCount], TTLConfig.NONE)
  override def handleInputRows(key: String, rows: Iterator[String],
                               timerValues: TimerValues): Iterator[TermCount] = {
    var st = Option(state.get()).getOrElse(TermCount(key, 0L))
    rows.foreach(_ => st = TermCount(key, st.cnt + 1L))
    state.update(st)
    Iterator.single(st)
  }
}

/** Streaming operators — SURVEY.md §2.E.
  *
  * Each transform is written against an input DataFrame, not a source, so
  * one body serves batch (Verify/Bench, DuckDB-oracled) and streaming
  * (readStream/MemoryStream in the specs). This is the streaming analogue of
  * the reference's incremental state pipeline: watermarks bound lateness the
  * way the state file bounds reprocessing.
  *
  * Both twins call each row rule's one home: [[byWindow]] (s01, s06, s09,
  * s15), [[SessionGapMicros]] (s02, s11, s12), [[attributionStream]] (s21's
  * key too: Catalyst drops `withWatermark` on a batch frame), the admission
  * summary (s13, s16), and `TextOps.contentFp`, `Dedup.isEval`/
  * `evalFingerprints` and `Dedup.withQualityCutoffs`/`qualityAdmits`.
  * Two forms stay on purpose, proven equal on the reference tables: s02,
  * s18 and s19's typed `flatMapGroupsWithState` fold is the only form that
  * runs on a stream, their window pass the one that scales in batch; s03's
  * stream keeps the first arrival, its key the least `(ts, user_id)`, which
  * agree whenever `event_id` is unique (every reference table).
  */
object Streams {

  /** s02's session gap: an event more than 30 min after the last opens a new session. */
  val SessionGapMicros: Long = 30L * 60 * 1000000

  /** session_window merges gaps STRICTLY below its duration, s02 keeps
    * `diff <= gap`: the gap widened by one microsecond (the granularity). */
  private val SessionWindow = s"${SessionGapMicros + 1} microseconds"

  /** `unix_micros(ts)`: getTime is millis, so the sub-second part comes from getNanos. */
  private[graft] def microsOf(ts: Timestamp): Long =
    Math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000L

  private def timestampOf(micros: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(micros, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(micros, 1000000L) * 1000L).toInt)
    t
  }

  /** `CAST(v AS decimal(18,6))`, unscaled: Double.toString rounded half-up. */
  private def unscaled6(v: Double): Long =
    new java.math.BigDecimal(java.lang.Double.toString(v))
      .setScale(6, java.math.RoundingMode.HALF_UP).unscaledValue.longValueExact

  /** The 6-hour tumbling window: aggregates `events` per window and `keys`,
    * the window named by its `window_start`. Streaming callers add the
    * watermark. */
  private def byWindow(events: DataFrame, keys: Column*)(aggs: Column*): DataFrame = {
    val g = events.groupBy(window(col("ts"), "6 hours").as("w") +: keys: _*)
      .agg(aggs.head, aggs.tail: _*)
    g.select(col("w.start").as("window_start") +: g.columns.toSeq.tail.map(col): _*)
  }

  /** Tumbling 6-hour windows per event type. */
  def windowedCounts(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    byWindow(events, $"event_type")(count(lit(1)).as("event_count"),
      sum($"value".cast("decimal(18,6)")).cast("double").as("sum_value"))
  }

  /** Batch window query (driver contract key s01_window_agg). */
  def windowAggBatch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    windowedCounts(Tables.events(s, dir)).orderBy($"window_start", $"event_type")
  }

  /** Gap-based sessionization, batch form: lag + running sum assigns session
    * ids in two windows over the same (user_id, ts) partitioning — one
    * shuffle total.
    */
  def sessionizeBatch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val byUser = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    Tables.events(s, dir)
      .withColumn("prev_ts", lag($"ts", 1).over(byUser))
      .withColumn("new_session",
        when($"prev_ts".isNull ||
             (unix_micros($"ts") - unix_micros($"prev_ts")) > SessionGapMicros, 1L)
          .otherwise(0L))
      .withColumn("session_seq", sum($"new_session").over(byUser))
      .groupBy($"user_id", $"session_seq")
      .agg(min($"ts").as("session_start"), max($"ts").as("session_end"),
           count(lit(1)).as("n_events"),
           sum($"value".cast("decimal(18,6)")).cast("double").as("total_value"))
      .orderBy($"user_id", $"session_seq")
  }

  /** Sessionization through Spark's NATIVE session_window operator — the
    * second physical strategy for s02's contract (the p13/p15 pattern: one
    * semantic, two executions), over the same gap ([[SessionWindow]]). The
    * session assignment happens inside the aggregate itself (no lag/cumsum
    * window chain), which is also the form that runs under a streaming
    * watermark.
    */
  def sessionizeNative(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val grouped = Tables.events(s, dir)
      .groupBy($"user_id", session_window($"ts", SessionWindow).as("sw"))
      .agg(min($"ts").as("session_start"), max($"ts").as("session_end"),
           count(lit(1)).as("n_events"),
           sum($"value".cast("decimal(18,6)")).cast("double").as("total_value"))
    val w = Window.partitionBy($"user_id").orderBy($"session_start")
    grouped
      .select($"user_id", $"session_start", $"session_end", $"n_events", $"total_value")
      .withColumn("session_seq", row_number().over(w).cast("long"))
      .select($"user_id", $"session_seq", $"session_start", $"session_end",
              $"n_events", $"total_value")
      .orderBy($"user_id", $"session_seq")
  }

  /** Streaming sessionization: per-user state machine via
    * flatMapGroupsWithState. Emits a Session whenever an in-stream gap closes
    * one; EventTimeTimeout (watermark-driven, so fully deterministic — no
    * wall clock) flushes sessions whose gap window has provably passed.
    * Times stay in microseconds and totals sum exactly at scale 6, as in
    * s02's key. Callers must set `withWatermark("ts", ...)` on the input.
    */
  def sessionizeStream(events: Dataset[Event]): Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          def session(st: SessionState) = Session(userId, timestampOf(st.start),
            timestampOf(st.last), st.n, java.math.BigDecimal.valueOf(st.total, 6).doubleValue)
          if (state.hasTimedOut) {
            val out = state.getOption.map(session)
            state.remove()
            out.iterator
          } else {
            val sorted = rows.map(e => (microsOf(e.ts), e)).toSeq.sortBy(p => (p._1, p._2.event_id))
            val closed = Seq.newBuilder[Session]
            var st = state.getOption.orNull
            sorted.foreach { case (t, e) =>
              val v = unscaled6(e.value)
              if (st == null) st = SessionState(t, t, 1L, v)
              else if (t - st.last > SessionGapMicros) {
                closed += session(st)
                st = SessionState(t, t, 1L, v)
              } else st = st.copy(last = math.max(st.last, t), n = st.n + 1, total = st.total + v)
            }
            if (st != null) {
              state.update(st)
              // flush once the watermark (millis) passes the session's gap horizon
              val horizon = Math.floorDiv(st.last + SessionGapMicros, 1000L)
              if (horizon > state.getCurrentWatermarkMs())
                state.setTimeoutTimestamp(horizon)
            }
            closed.result().iterator
          }
      }
  }

  /** Additive fold merge: union into state, then sum every non-key column
    * per `keys` (no keys = one global row). The q45/p39/s28/s30 law. */
  private[graft] def sumByKeys(keys: String*)(state: Option[DataFrame], inc: DataFrame): DataFrame =
    state.fold(inc) { st =>
      val sums = inc.columns.filterNot(keys.contains).map(c => sum(c).as(c))
      st.unionByName(inc).groupBy(keys.map(col): _*).agg(sums.head, sums.tail: _*)
    }

  /** Additive fold merge by full-outer join on `keys`: every other (long)
    * column adds, a side missing a key counts 0. The s24/s26 law. */
  private[graft] def fullOuterAdd(keys: String*)(state: Option[DataFrame], inc: DataFrame): DataFrame =
    state.fold(inc) { st =>
      val adds = inc.columns.filterNot(keys.contains).map(c =>
        (coalesce(col(s"s.$c"), lit(0L)) + coalesce(col(s"i.$c"), lit(0L))).as(c))
      st.as("s").join(inc.as("i"), keys, "full_outer").select(keys.map(col) ++ adds: _*)
    }

  /** s30: volume-anomaly monitoring maintained at ingest — q49's MAD
    * verdicts over hourly state folded per micro-batch (s28's additive
    * (type, hour) count state; counts are the only fold), verdicts DERIVED
    * at read because a median is not additive: fold facts, derive
    * judgments. 3-batch replay hash-equals the one-shot q49 through the
    * SHARED oracle text — the ops loop (is this hour's volume anomalous,
    * judged against everything ingested so far) can never drift from the
    * batch law. State is |types|×|observed hours| regardless of corpus.
    */
  val AnomalyReplayBatches = 3
  def anomalyFoldBatch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // Per-batch partials from ONE corpus scan; counts are additive, so the
    // regrouped partials fold to the same state bit-for-bit.
    val partials = Tables.events(s, dir)
      .select($"event_type", expr("unix_micros(ts) div 3600000000").as("hb"),
              pmod($"event_id", lit(AnomalyReplayBatches.toLong)).as("b"))
      .groupBy($"b", $"event_type", $"hb")
      .agg(count(lit(1)).as("n_events"))
    val state = Fold.replayPartials(AnomalyReplayBatches, partials)(sumByKeys("event_type", "hb"))
    graft.operators.Relational.madFromHourly(state)
  }

  /** The transformWithState census stream — see [[TypeCensusProcessor]]. */
  def censusStateStream(events: Dataset[Event]): Dataset[TypeCensus] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.event_type)
      .transformWithState(new TypeCensusProcessor(),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  /** Watermarked exactly-once-per-key dedup; batch callers get plain
    * first-per-key semantics from the same call.
    */
  def dedupEvents(events: DataFrame, watermark: Option[String] = None): DataFrame = {
    val wm = watermark.fold(events)(d => events.withWatermark("ts", d))
    wm.dropDuplicates("event_id")
  }

  /** Per-window approximate distinct users. At 100 TB (or on an unbounded
    * stream) the HLL sketch is the only viable distinct: it partial-merges
    * map-side and inside the streaming state store, where exact
    * countDistinct would have to retain every user id per open window.
    * Watermarked update-mode streaming runs the SAME transform (spec).
    */
  def distinctUsersWindowed(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    byWindow(events, $"event_type")(approx_count_distinct($"user_id", 0.02).as("approx_users"))
  }

  /** Batch form (driver contract key s06_stream_distinct): the sketch next
    * to the exact per-window count, hash-gated through the q24-style bound
    * claim the oracle asserts TRUE.
    */
  def distinctUsersBatch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
    val approx = distinctUsersWindowed(ev)
    val exact = byWindow(ev, $"event_type")(countDistinct($"user_id").as("exact_users"))
    exact.join(approx, Seq("window_start", "event_type"))
      .select($"window_start", $"event_type", $"exact_users",
        (abs($"approx_users" - $"exact_users") <=
          greatest($"exact_users" * 0.05, lit(2.0))).as("approx_within_bound"))
      .orderBy($"window_start", $"event_type")
  }

  /** Per-window top-k values through the custom topk_agg aggregate — the
    * same buffer the s08 spec drives through the streaming state store,
    * shared by the batch driver key (s09) and the update-mode stream. The
    * k-capped heap partial-merges map-side AND across micro-batches, so
    * per-(window, type) state is k doubles: top-k over an unbounded stream
    * costs constant state, where a windowed sort would retain every row.
    */
  def topkWindowed(events: DataFrame, k: Int = 3): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    byWindow(events, $"event_type")(
      graft.functions.GraftFunctions.topkAgg($"value", lit(k)).as("topv"))
  }

  /** Batch form (driver contract key s09_stream_topk): the array explodes
    * to flat ranked rows so the oracle hash-compares (q31 pattern —
    * multiset-over-values semantics make rank rows deterministic).
    */
  def topkBatch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    topkWindowed(Tables.events(s, dir))
      .select($"window_start", $"event_type", posexplode($"topv"))
      .select($"window_start", $"event_type",
              ($"pos" + 1).cast("long").as("rank"), $"col".as("value"))
      .orderBy($"window_start", $"event_type", $"rank")
  }

  /** s15: windowed Count-Min sketch over the stream — heavy-hitter
    * estimates with CONSTANT state where exact per-key counts would grow
    * with distinct keys: per 6-hour window the state store holds one
    * 4×512-long CMS buffer that partial-merges map-side and across
    * micro-batches by elementwise add (the t20 aggregate riding the s08
    * state-store path).
    */
  def cmsWindowed(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    byWindow(events)(graft.functions.GraftFunctions.cmsAgg(
      $"user_id".cast("string"), lit(1L), lit(4), lit(512)).as("cms"))
  }

  /** Batch twin (driver key s15_window_heavy_hitters): each window's exact
    * top-5 users next to their sketch estimates — deterministic hashing
    * means the oracle rebuilds every counter per window, so the estimates
    * hash-compare (t20's verification story, windowed).
    */
  def windowHeavyHittersBatch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
    val counts = byWindow(ev, $"user_id")(count(lit(1)).as("true_n"))
    val wRank = Window.partitionBy($"window_start").orderBy($"true_n".desc, $"user_id")
    val top = counts
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .filter($"rank" <= 5)
    top.join(cmsWindowed(ev), "window_start")
      .select($"window_start", $"rank", $"user_id", $"true_n",
        graft.functions.GraftFunctions.cmsQuery($"cms", $"user_id".cast("string")).as("cms_n"))
      .withColumn("is_overestimate", $"cms_n" >= $"true_n")
      .orderBy($"window_start", $"rank")
  }

  /** Sessionized top-k (driver key s12's transform): the native
    * session_window (s11's gap semantics) composed with the custom topk_agg
    * aggregate in ONE aggregation — per (user, session) state is k doubles
    * in the streaming state store, and session merge + heap merge both
    * happen inside the same aggregate, so an unbounded stream costs
    * constant state per open session. The micro-second gap widening
    * matches the composed/oracle `diff <= 30min` definition (see
    * [[sessionizeNative]]).
    */
  def sessionTopkWindowed(events: DataFrame, k: Int = 3): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    events
      .groupBy($"user_id", session_window($"ts", SessionWindow).as("sw"))
      .agg(graft.functions.GraftFunctions.topkAgg($"value", lit(k)).as("topv"))
      .select($"user_id", $"sw.start".as("session_start"), $"topv")
  }

  /** Batch form (driver contract key s12_session_topk): ranked flat rows so
    * the oracle hash-compares (the s09 explode pattern over s02's session
    * assignment).
    */
  def sessionTopkBatch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    sessionTopkWindowed(Tables.events(s, dir))
      .select($"user_id", $"session_start", posexplode($"topv"))
      .select($"user_id", $"session_start",
              ($"pos" + 1).cast("long").as("rank"), $"col".as("value"))
      .orderBy($"user_id", $"session_start", $"rank")
  }

  /** Streaming state upsert through foreachBatch — the reference's
    * StateManager persistence (utilities/state_manager.py:84
    * update_page_state) as a continuously-maintained table: each micro-batch
    * keyed-merges into the parquet state, max (version, ts) wins per key
    * (at scale the sink is a transactional table format and [[upsertMerge]]
    * becomes a MERGE INTO).
    */
  def upsertSink(updates: DataFrame,
                 statePath: String): org.apache.spark.sql.streaming.StreamingQuery =
    Fold.sink(updates.select(col("user_id").as("key"), col("value").as("version"), col("ts")),
      statePath, "update")(upsertMerge)

  /** The s07 upsert fold: latest (version, ts) per key wins. */
  private[graft] def upsertMerge(state: Option[DataFrame], incoming: DataFrame): DataFrame =
    state.map(_.unionByName(incoming)).getOrElse(incoming)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("key"))
          .orderBy(col("version").desc, col("ts").desc)))
      .filter(col("rn") === 1).drop("rn")

  /** CDC sink with tombstones — p23's streaming twin, extending s07's
    * upsert with DELETE semantics: each micro-batch merges into the parquet
    * state and the latest (ts, version) op per key wins. Tombstones
    * ('error') are RETAINED in state rather than physically dropped, so a
    * late-arriving older update cannot resurrect a deleted key; the live
    * view ([[cdcLiveState]]) filters them out. (A transactional table
    * format with retention-windowed tombstone compaction replaces the
    * parquet state at scale.)
    */
  def cdcSink(updates: DataFrame,
              statePath: String): org.apache.spark.sql.streaming.StreamingQuery =
    Fold.sink(updates.select(col("event_id"), col("user_id").as("key"),
        col("event_type").as("op"), col("value").as("version"), col("ts")),
      statePath, "update")(cdcMerge)

  /** The CDC merge fold — ONE body shared by the streaming sink and the
    * s17 oracled replay: latest op per key wins under the TOTAL order
    * (ts, version, event_id) — event_id is the unique LSN-style tiebreak
    * that makes the fold deterministic (and with it associative: keep-max
    * per key over a total order gives the same winner for any batch
    * partitioning of the input — the exactly-once contract the s17 oracle
    * hash-checks). Tombstones ride along like any op and stay in state.
    */
  private[graft] def cdcMerge(state: Option[DataFrame], incoming: DataFrame): DataFrame =
    state.map(_.unionByName(incoming)).getOrElse(incoming)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("key"))
          .orderBy(col("ts").desc, col("version").desc, col("event_id").desc)))
      .filter(col("rn") === 1)
      .drop("rn")

  /** Live (tombstone-filtered) view of a [[cdcSink]] state table. */
  def cdcLiveState(s: SparkSession, statePath: String): DataFrame =
    StateDir.read(s, statePath).get.filter(col("op") =!= "error")

  /** s17: multi-batch CDC replay as an oracled key — the [[cdcSink]] merge
    * fold (the reference StateManager's persistence loop,
    * state_manager.py:84-102) replayed through [[Fold.replay]] over
    * [[CdcReplayBatches]] deterministic micro-batches. Batches split by
    * event_id mod, so late-arriving older ops land in later batches and
    * must lose to retained state — incl. tombstones, which stay in state
    * and mask every older op. The DuckDB oracle computes the GLOBAL
    * latest-wins winner per key in one window: hash-equality proves the
    * incremental fold reaches the same state as a from-scratch rebuild —
    * the associativity/exactly-once contract.
    */
  val CdcReplayBatches = 3
  def cdcReplayBatch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir).select($"event_id", $"user_id".as("key"),
      $"event_type".as("op"), $"value".as("version"), $"ts")
    Fold.replay(CdcReplayBatches)(
        b => ev.filter(pmod($"event_id", lit(CdcReplayBatches.toLong)) === b))(cdcMerge)
      .select($"key", $"op", $"version", $"ts", ($"op" =!= "error").as("live"))
      .orderBy($"key")
  }

  /** Distinct-user HLL sketch maintenance at ingest — q42's streaming twin.
    * State is ONE small row per event_type holding an HLL sketch (bytes);
    * each micro-batch sketches only its own rows and a union-merge folds
    * the result into state. Raw events are touched exactly once, state
    * size is |types| (independent of stream volume), and the sketch union
    * is commutative/associative by construction — so ANY batch
    * partitioning of the stream reaches the same sketch, which is what
    * makes the fold restart-safe.
    */
  def sketchSink(events: DataFrame,
                 statePath: String): org.apache.spark.sql.streaming.StreamingQuery =
    Fold.sink(events, statePath, "append")(sketchMerge)

  /** The sketch fold body: sketch the incoming batch per event_type, union
    * with retained state. */
  private[graft] def sketchMerge(state: Option[DataFrame], incoming: DataFrame): DataFrame = {
    val sk = incoming.groupBy(col("event_type"))
      .agg(hll_sketch_agg(col("user_id"), lit(12)).as("sketch"))
    sketchUnion(state.map(_.unionByName(sk)).getOrElse(sk))
  }

  /** The sketch union step, shared by [[sketchMerge]] and the s20 replay. */
  private def sketchUnion(sketches: DataFrame): DataFrame =
    sketches.groupBy(col("event_type")).agg(hll_union_agg(col("sketch")).as("sketch"))

  /** s20: multi-batch sketch fold as an oracled key — the [[sketchSink]]
    * union fold replayed through [[Fold.replayPartials]] over [[SketchFoldBatches]]
    * deterministic micro-batches. The readout verdicts the FOLDED estimate
    * against the exact global distinct count: hash-equality proves the
    * incremental sketches reach (within the q24 error gate) the same answer
    * as a from-scratch pass — the mergeability contract that lets 100-TB
    * ingest maintain distinct-user counts without ever re-scanning history.
    * The estimate itself is engine-specific, so the oracle asserts the bound
    * TRUE.
    */
  val SketchFoldBatches = 3
  def sketchFoldBatch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir).select($"event_id", $"event_type", $"user_id")
    // Per-batch sketches from ONE corpus scan: hll_sketch_agg is
    // register-max based, so the per-(type, batch) sketch is identical
    // however the batch's rows are delivered, and the fold unions precisely
    // the sketch sketchMerge would have built from the raw batch.
    val partials = ev
      .groupBy(pmod($"event_id", lit(SketchFoldBatches.toLong)).as("b"), $"event_type")
      .agg(hll_sketch_agg($"user_id", lit(12)).as("sketch"))
    val state = Fold.replayPartials(SketchFoldBatches, partials) {
      (prior, inc) => prior.fold(inc)(st => sketchUnion(st.unionByName(inc)))
    }
    val exact = ev.groupBy($"event_type")
      .agg(countDistinct($"user_id").as("exact_users"))
    state
      .select($"event_type", hll_sketch_estimate($"sketch").as("est"))
      .join(exact, Seq("event_type"))
      .select($"event_type", $"exact_users",
        (abs($"est" - $"exact_users") <=
          greatest($"exact_users" * 0.05, lit(2.0))).as("fold_within_bound"))
      .orderBy($"event_type")
  }

  /** s21 stream transform: watermarked STREAM-STREAM interval join — the
    * conversion-attribution correlation (purchase within an hour of a
    * click, same user) run over two live streams. Both sides carry event-
    * time watermarks and the join carries the time-range constraint, which
    * is what makes the state store FINITE: each side buffers only rows
    * younger than (watermark − join horizon), so per-user state is bounded
    * by the horizon's traffic, not the stream's history — the shape that
    * lets two 100-TB/day streams correlate without unbounded state. Rows
    * co-partition on user_id (one exchange per side); inner-join results
    * emit as matches arrive (watermarks govern state eviction, not
    * emission). The oracled batch key below calls this same join; the
    * spec replays the reference table through the stream and proves set
    * equality.
    */
  def attributionStream(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = clicks.withWatermark("ts", "1 hour")
      .select(col("event_id").as("click_id"), col("user_id"),
              col("ts").as("click_ts"))
    val p = purchases.withWatermark("ts", "2 hours")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
              col("ts").as("purchase_ts"))
    c.join(p, col("user_id") === col("p_user") &&
              col("purchase_ts") >= col("click_ts") &&
              col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"))
      .select(col("user_id"), col("click_id"), col("purchase_id"),
              expr("(unix_micros(purchase_ts) - unix_micros(click_ts)) div 1000000")
                .as("lag_s"))
  }

  /** s21 batch twin (key s21_stream_join): [[attributionStream]]
    * over the static events table, whose watermarks Catalyst drops on a
    * batch frame. */
  def attributionJoinBatch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
    attributionStream(ev.filter($"event_type" === "click"), ev.filter($"event_type" === "purchase"))
      .orderBy($"click_id", $"purchase_id")
  }

  /** Batch dedup query (driver contract key s03_stream_dedup): deterministic
    * first-row-per-event_id via the same shape as the streaming state store.
    */
  def dedupBatch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"event_id").orderBy($"ts", $"user_id")
    Tables.events(s, dir)
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"event_id", $"ts", $"user_id", $"event_type")
      .orderBy($"event_id")
  }

  /** s14: streaming signature-index maintenance — d20's missing half. d20
    * dedups a batch AGAINST the index; this sink is what keeps that index
    * alive: each micro-batch is signed, checked against the persisted
    * banded-signature state, and only non-colliding docs extend it. The
    * pair (s14 maintains, d20 queries) is the full incremental-ingest
    * story: the corpus is never re-signed, and state grows only by what
    * is genuinely new.
    */
  def signatureIndexSink(docs: DataFrame,
                         statePath: String): org.apache.spark.sql.streaming.StreamingQuery =
    Fold.sink(docs, statePath, "append")(Dedup.signatureIndexMerge(_, _))

  /** s13 stream transform: decontaminate documents AT INGEST — fingerprint
    * each incoming doc and anti-join against the static eval-fingerprint
    * blocklist. This is a STATELESS stream-static join (append mode, no
    * watermark, no state store): every micro-batch filters independently
    * and the blocklist rides along as a broadcast, so stream throughput is
    * the scan rate — the streaming face of d09/d16, where contaminated
    * docs are refused entry to the corpus instead of being swept later.
    */
  def decontaminateStream(docs: DataFrame, blockFps: DataFrame): DataFrame =
    docs.withColumn("fp", TextOps.contentFp)
      .join(broadcast(blockFps), Seq("fp"), "left_anti")

  /** s13's and s16's per-source summary: docs a gate admits vs blocks. */
  private def admissionSummary(docs: DataFrame, blocked: Column): DataFrame =
    docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
           sum(when(blocked, 0L).otherwise(1L)).as("n_admitted"),
           sum(when(blocked, 1L).otherwise(0L)).as("n_blocked"))
      .orderBy(col("source"))

  /** Batch twin (driver key s13_stream_decontaminate): per-source admission
    * summary — how many incoming docs the gate admits vs blocks. Blocked =
    * the doc's fingerprint appears in the eval set (`Dedup.isEval`; eval
    * rows block themselves by construction).
    */
  def streamDeconBatch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
      .select($"doc_id", $"source", TextOps.contentFp.as("fp"))
    val block = Dedup.evalFingerprints(docs, $"fp").withColumn("blocked", lit(true))
    admissionSummary(docs.join(broadcast(block), Seq("fp"), "left"), $"blocked")
  }

  /** s16: quality gating at INGEST — d24's per-source calibrated cutoffs
    * (a tiny static table, computed offline over the reference corpus)
    * broadcast-joined to the live stream; a doc at or below its source's
    * cutoff is refused before it ever lands. Stateless like s13 (append
    * mode, zero state-store rows): gate throughput = scan rate. The gate is
    * d24's own ([[Dedup.qualityAdmits]]), so a source with no calibration
    * row passes uncut.
    */
  def qualityGateStream(stream: DataFrame, cutoffs: DataFrame): DataFrame =
    Dedup.withQualityCutoffs(stream.withColumn("quality", TextOps.qualityCol), cutoffs)
      .filter(Dedup.qualityAdmits)
      .select(col("doc_id"), col("source"), col("quality"))

  /** s16's batch twin: per-source admission summary under the SAME d24
    * cutoffs — what the gate would do to the whole corpus, as one
    * partial-aggregated pass (histogram agg + broadcast cutoffs + count
    * rollup; the corpus crosses one exchange).
    */
  def streamQualityBatch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val scored = Tables.documents(s, dir)
      .select($"doc_id", $"source", TextOps.qualityCol.as("quality"))
    admissionSummary(Dedup.withQualityCutoffs(scored, Dedup.histogramQualityCutoffs(scored)),
      !Dedup.qualityAdmits)
  }

  /** s18: per-source token budget for the admission window (soft cap —
    * the doc that crosses the line is admitted; everything after is
    * refused). Sized so both verdict classes exist at every SF (min
    * per-source mass is ~1.3k tokens at the smallest SF).
    */
  val SourceTokenBudget: Long = 800L

  /** s18 streaming fold: d25's token-budget contract applied at INGEST —
    * a live feed admits docs per source until the source's budget is
    * spent, then refuses. State is ONE long per source (tokens spent),
    * so state-store size is |sources| regardless of stream length — the
    * constant-state shape every unbounded-ingest gate here shares (s13/
    * s16 are stateless; this one genuinely needs memory: "how much did I
    * already admit" is not computable from the current row).
    *
    * Soft-cap semantics (admit iff spent-so-far < budget, THEN add) make
    * the fold prefix-stable: refusals never change `spent`, so the
    * verdict stream is identical to the batch window twin below —
    * [[budgetAdmissionBatch]] — which the spec proves by driving the
    * same rows through 3 micro-batches. Within a batch, per-source rows
    * are folded in doc_id order (the deterministic arrival order the
    * spec and oracle replay).
    */
  def budgetAdmissionStream(docs: Dataset[BudgetDoc]): Dataset[BudgetVerdict] = {
    import docs.sparkSession.implicits._
    docs.groupByKey(_.source)
      .flatMapGroupsWithState[Long, BudgetVerdict](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (source: String, rows: Iterator[BudgetDoc], state: GroupState[Long]) =>
          var spent = state.getOption.getOrElse(0L)
          val out = rows.toSeq.sortBy(_.doc_id).map { d =>
            val v = BudgetVerdict(d.doc_id, source, d.n_tokens, spent,
                                  spent < SourceTokenBudget)
            if (v.admitted) spent += d.n_tokens
            v
          }
          state.update(spent)
          out.iterator
      }
  }

  /** s18's batch twin (the oracled key): the same soft-cap admission as
    * one window pass. `admitted` is decidable from the ALL-previous
    * cumsum (before the budget line every prior doc was admitted, after
    * it the verdict is refused either way), and `spent_before` then
    * re-sums the admitted-only mass — two stacked frames over ONE
    * (source, doc_id) sort, so the corpus crosses a single exchange.
    * Token count is t04's ws_tokens via the codegen'd regex_count kernel
    * (provably equal to size(split(trim, \s+)) — see qualityCol).
    */
  def budgetAdmissionBatch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.GraftFunctions.regexCount
    val wPrev = Window.partitionBy($"source").orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.documents(s, dir)
      .select($"doc_id", $"source",
              (regexCount(trim($"text"), lit("\\s+")) + lit(1L))
                .cast("long").as("n_tokens"))
      .withColumn("admitted",
        coalesce(sum($"n_tokens").over(wPrev), lit(0L)) < lit(SourceTokenBudget))
      .withColumn("spent_before",
        coalesce(sum(when($"admitted", $"n_tokens")).over(wPrev), lit(0L)))
      .select($"doc_id", $"source", $"n_tokens", $"spent_before", $"admitted")
      .orderBy($"doc_id")
  }

  /** s19 streaming fold: m06's shard layout maintained at INGEST — each
    * arriving blob is assigned its (source, shard_idx) slot from a running
    * per-source byte counter (fixed-boundary rule: shard = exclusive
    * byte-prefix / ShardBytes, identical to the batch manifest's window
    * arithmetic), so a live feed can append to the CURRENT tar shard and
    * roll to the next one exactly where a batch re-layout would. State is
    * ONE long per source (bytes seen) — the s18 constant-state shape; the
    * assignment is total (no refusals), so unlike s18 the counter always
    * advances and the fold is a plain prefix sum, trivially equal to the
    * batch window twin under per-source arrival order (spec-proven across
    * micro-batches).
    */
  def shardAssignStream(docs: Dataset[ShardDoc]): Dataset[ShardAssign] = {
    import docs.sparkSession.implicits._
    docs.groupByKey(_.source)
      .flatMapGroupsWithState[Long, ShardAssign](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (source: String, rows: Iterator[ShardDoc], state: GroupState[Long]) =>
          var seen = state.getOption.getOrElse(0L)
          val out = rows.toSeq.sortBy(_.doc_id).map { d =>
            val v = ShardAssign(d.doc_id, source, d.byte_len,
                                seen / graft.operators.Multimodal.ShardBytes)
            seen += d.byte_len
            v
          }
          state.update(seen)
          out.iterator
      }
  }

  /** s19's batch twin (the oracled key): per-blob shard assignment as the
    * m06 exclusive-cumsum window — one source-keyed exchange; re-aggregating
    * this by (source, shard_idx) IS the m06 manifest (spec-asserted).
    */
  def shardAssignBatch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val wPrev = Window.partitionBy($"source").orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.documents(s, dir)
      .select($"doc_id", $"source",
              // byte length, matching m06's length(blob) (octet, not chars)
              (octet_length($"text") + lit(4L)).cast("long").as("byte_len"))
      .withColumn("shard_idx",
        floor(coalesce(sum($"byte_len").over(wPrev), lit(0L))
          / lit(graft.operators.Multimodal.ShardBytes)).cast("long"))
      .orderBy($"doc_id")
  }

  /** s22: p30's global contiguous example numbering maintained at INGEST —
    * each arriving micro-batch gets gap-free global indices continuing
    * exactly where the previous batch stopped. Inside a batch the
    * assignment is p30's two-phase shape (range-partition, per-partition
    * counts, offsets, partition-parallel rank — NO single-reducer sort);
    * ACROSS batches the only state is one long (the next offset) riding in
    * the [[StateDir]] manifest. A contiguous global sequence is inherently
    * serial at the counter — this fold makes the serial part exactly one
    * long per batch, never a row. Numbered rows append per batch as one new
    * live directory; re-numbering never happens, so an example's id is
    * stable for the life of the corpus (what a training-manifest consumer
    * requires).
    */
  def indexSink(docs: DataFrame,
                statePath: String): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        indexApply(batch, StateDir.queryWriter(batch.sparkSession), batchId, statePath)
      }
      .start()

  /** The indexSink fold body, exactly-once under foreachBatch's at-least-once
    * delivery: the batch's rows and the advanced offset publish in ONE
    * [[StateDir]] commit, so a re-delivered `(writer, batchId)` is a no-op
    * and a crash before the swap leaves the prior offset, whose retry writes
    * identical ids (same offset in ⇒ same ids out). Rows committed by
    * earlier batches are never touched, preserving the stable-id contract.
    */
  private[graft] def indexApply(batch: DataFrame, writer: String, batchId: Long,
                                statePath: String): Unit =
    StateDir.commit(batch.sparkSession, statePath, writer, batchId) { prior =>
      val offset = prior.fold(0L)(_.scalars("next_offset"))
      val (assigned, n) = graft.operators.PipelineOps.twoPhaseIndex(
        batch.select(col("doc_id"), col("source")), offset)
      StateDir.Version(assigned, keep = prior.toSeq.flatMap(_.dirs),
                       scalars = Map("next_offset" -> (offset + n)))
    }

  /** s22's oracled replay: the indexSink fold over 3 deterministic batches
    * (doc_id mod 3), offset carried between folds exactly as the sink
    * persists it. The oracle rebuilds the same numbering in one window
    * (ORDER BY batch, source, doc_id) — hash equality proves the
    * incremental fold assigns precisely the numbers a from-scratch global
    * enumeration in arrival order would, i.e. the fold is gap-free and
    * batch-monotone (exactly-once, s17's associativity argument).
    */
  val IndexReplayBatches = 3
  def indexReplayBatch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir).select($"doc_id", $"source")
    var offset = 0L
    val parts = (0 until IndexReplayBatches).map { b =>
      val batch = docs.filter(pmod($"doc_id", lit(IndexReplayBatches.toLong)) === b)
      val (assigned, n) = graft.operators.PipelineOps.twoPhaseIndex(batch, offset)
      offset += n
      Materialize(assigned.withColumn("batch_idx", lit(b.toLong)))
    }
    parts.reduce(_ unionByName _)
      .select($"doc_id", $"source", $"batch_idx", $"global_idx")
      .orderBy($"doc_id")
  }

  /** s23: the CDC chunk store maintained at INGEST — t28 decomposes the
    * corpus once; a live lake never sees "the corpus", it sees batches,
    * and the dedup-storage question is "which of this batch's chunks do I
    * already hold". State is one row per DISTINCT chunk digest (n_copies +
    * the arrival-first owner), merged per batch by a full-outer
    * digest join: counts add, the owner is the LEAST (batch, doc, idx)
    * struct — addition and least are associative/commutative, so ANY
    * batch partitioning folds to the same store (the s17 exactly-once
    * contract; the spec re-folds under a different split and the oracle
    * hash-compares against a one-shot global rebuild). Per batch the
    * chunking itself stays scan-local ([[graft.operators.TextOps
    * .chunkRows]]); only batch-distinct digests reach the join, so each
    * fold moves O(batch + store-overlap) rows — d20's incremental-index
    * shape at sub-document granularity. State persists between folds as
    * [[StateDir]] versions PARTITIONED by a digest-prefix column
    * ([[chunkFold]]): a fold reads only the partitions its batch touches
    * (partition-pruned scan) and commits them as a new version that keeps
    * every untouched partition listed, so per-fold WRITE volume is the
    * touched partitions — O(batch + the store rows co-resident with it) —
    * never O(store). The trade against a full-store bucketed rewrite is a
    * touched-rows-only exchange in the merge join instead of the
    * exchange-free bucketed read — exactly the LSM bargain. Reference
    * contract: state_manager.py:84-102's upsert touches only processed
    * pages, never the whole state file.
    */
  val ChunkReplayBatches = 3
  def chunkStoreMerge(batchChunks: DataFrame): DataFrame = {
    val s = batchChunks.sparkSession
    import s.implicits._
    batchChunks.groupBy($"chunk_hash").agg(
      count(lit(1)).as("n_copies"),
      min(struct($"batch", $"doc_id", $"chunk_idx")).as("first"))
  }

  /** Full-outer merge of two aggregated stores (counts add, owner is the
    * least struct) — the associative/commutative fold core. */
  private def chunkMergeAgg(st: DataFrame, inc: DataFrame): DataFrame = {
    val s = st.sparkSession
    import s.implicits._
    st.as("s").join(inc.as("i"), Seq("chunk_hash"), "full_outer")
      .select($"chunk_hash",
        (coalesce($"s.n_copies", lit(0L)) + coalesce($"i.n_copies", lit(0L)))
          .as("n_copies"),
        least($"s.first", $"i.first").as("first"))
  }

  /** Digest-prefix partition count of the persisted chunk store. It bounds
    * the rewrite grain: a fold rewrites only the partitions containing its
    * batch's digests. 32 at test scale; in production it scales with store
    * size (more partitions ⇒ finer-grained rewrites), the same knob as
    * an LSM's level fan-out.
    */
  val ChunkStatePartitions = 32

  private[graft] def chunkStatePath(key: String): String = sys.props("java.io.tmpdir") +
    s"/graft_state/graft_chunk_store_${java.lang.Integer.toHexString(key.hashCode)}"

  /** Digest-prefix partition id — a pure function of the digest, so both
    * sides of any merge agree on it without exchanging. */
  private[graft] def chunkPb(digest: Column): Column =
    pmod(hash(digest), lit(ChunkStatePartitions))

  /** One incremental fold of the persisted chunk store, committed as one
    * [[StateDir]] version under writer `key`: a re-driven `batchId` is a
    * no-op, and `firstFold` starts from an empty store.
    *
    * First fold: every `pb` partition written, rows sorted by digest within
    * partitions for parquet min/max locality.
    *
    * Later folds: (1) aggregate the batch ONCE ([[graft.Materialize]] — it
    * feeds the merge, and the SAME job carries the touched-partition probe
    * as an observed bit_or mask over [[chunkPb]], so no second pass over the
    * batch exists); (2) the touched-pb list decodes from that ≤64-bit mask
    * on the driver — bounded metadata, the twoPhaseIndex offsets rule;
    * (3) read back ONLY the live `pb` directories the batch touches
    * (partition-pruned scan); (4) merge and write the touched partitions
    * as `v=<seq>/pb=<p>` — untouched partitions stay listed from the prior
    * manifest, their files NEVER rewritten (spec-asserted at the file level).
    * Returns the whole store as of this commit.
    */
  private[graft] def chunkFold(s: SparkSession, key: String,
                               batchChunks: DataFrame, batchId: Long,
                               firstFold: Boolean): DataFrame = {
    import s.implicits._
    val root = chunkStatePath(key)
    StateDir.commit(s, root, key, batchId, fresh = firstFold) { prior =>
      val inc = chunkStoreMerge(batchChunks)
      val (merged, keep) = prior.fold((inc, Seq.empty[String])) { m =>
        require(ChunkStatePartitions <= 64, "chunkFold: the pb mask needs <= 64 partitions")
        val obs = org.apache.spark.sql.Observation()
        val incM = inc.observe(obs, bit_or(call_function("shiftleft", lit(1L),
            chunkPb($"chunk_hash"))).as("pb_mask"))
          .transform(Materialize(_))
        // an empty batch's bit_or over zero rows is null
        val mask = Option(obs.get("pb_mask")).fold(0L)(_.asInstanceOf[Long])
        val touched = (0 until ChunkStatePartitions)
          .filter(p => (mask & (1L << p)) != 0L).map(p => s"pb=$p").toSet
        val hit = (d: String) => touched(d.substring(d.indexOf('/') + 1))
        val st = StateDir.read(s, root, m, hit).select($"chunk_hash", $"n_copies", $"first")
        (chunkMergeAgg(st, incM), m.dirs.filterNot(hit))
      }
      StateDir.Version(merged.withColumn("pb", chunkPb($"chunk_hash"))
          .repartition($"pb").sortWithinPartitions($"chunk_hash"),
        partitionBy = Some("pb"), keep = keep)
    }
    StateDir.read(s, root).get
  }

  def chunkIngestBatch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val chunks = TextOps.chunkRows(Tables.documents(s, dir))
      .withColumn("batch", pmod($"doc_id", lit(ChunkReplayBatches.toLong)))
    (0 until ChunkReplayBatches).map { b =>
      chunkFold(s, dir, chunks.filter($"batch" === b.toLong), b.toLong, firstFold = b == 0)
    }.last
      .select($"chunk_hash", $"n_copies",
        $"first.batch".as("first_batch"),
        $"first.doc_id".cast("long").as("first_doc"),
        ($"n_copies" > 1L).as("is_dup"))
      .orderBy($"chunk_hash")
  }

  /** s25: erasure propagation into the chunk store — the APPLY side of
    * p36's impact analysis, closing the right-to-be-forgotten loop:
    * the store builds by s23's additive fold, then a deletion batch
    * (p36's law, doc_id ≡ 13 mod 101) arrives as tombstones and folds in
    * as per-digest DECREMENTS; digests whose count reaches zero leave
    * the store (orphaned boilerplate disappears with its last copy).
    * Counts are an abelian group under add/subtract, so the
    * delete-after-build fold hash-equals a from-scratch rebuild over the
    * SURVIVING docs — the oracle proves exactly that. Deliberately NOT in
    * the contract: the arrival-first owner column — re-electing an owner
    * whose doc was deleted needs survivor occurrence data the counting
    * state cannot hold; a real store re-elects lazily from the chunk
    * table (the same reason d22 joins the materialized cluster artifact).
    * Per-fold work: batch-distinct digests only — O(deletion + overlap).
    */
  def erasureFoldBatch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val chunks = TextOps.chunkRows(Tables.documents(s, dir))
      .withColumn("batch", pmod($"doc_id", lit(ChunkReplayBatches.toLong)))
    val deleted = pmod($"doc_id", lit(graft.operators.EndToEnd.ErasureMod)) ===
      graft.operators.EndToEnd.ErasureResidue
    val store = Materialize(chunkStoreMerge(chunks).select($"chunk_hash", $"n_copies"))
    val tombstones = chunks.filter(deleted)
      .groupBy($"chunk_hash").agg(count(lit(1)).as("n_del"))
    store.join(tombstones, Seq("chunk_hash"), "left")
      .select($"chunk_hash",
        ($"n_copies" - coalesce($"n_del", lit(0L))).as("n_copies"))
      .filter($"n_copies" > 0L)
      .withColumn("is_dup", $"n_copies" > 1L)
      .orderBy($"chunk_hash")
  }

  /** s24: d37's drift monitor maintained at INGEST — composition counts
    * are additive, so the monitor state is one row per (dimension,
    * bucket) pair of conditional counts, and each micro-batch folds its
    * own counts in with a full-outer add (commutative/associative ⇒ any
    * batch partitioning reaches the one-shot report bit-for-bit, which
    * the shared d37 oracle SQL proves by hash). The ppm read-out (and the
    * alert threshold it feeds) is computed from state at READ time, never
    * folded — the q45 derived-columns-at-read-out rule. State size is
    * |buckets|, independent of stream volume.
    */
  val DriftReplayBatches = 4
  def driftFoldBatch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = Dedup.driftBase(s, dir)
    // Per-batch partials from ONE scan.
    val partials = Dedup.driftCounts(base,
        extraKeys = Seq("b" -> pmod($"doc_id", lit(DriftReplayBatches.toLong))))
    val state = Fold.replayPartials(DriftReplayBatches, partials)(fullOuterAdd("dim", "bucket"))
    Dedup.driftReadout(state)
  }

  /** s26: t30's unigram census maintained at INGEST — the language-model
    * reference a perplexity-style quality gate scores against is itself
    * corpus state, and token counts are ADDITIVE, so the census folds
    * batch by batch exactly like s24's composition counts (full-outer add
    * per term — commutative/associative ⇒ any batch partitioning reaches
    * the one-shot census bit-for-bit). Scoring happens at READ-OUT against
    * the final census (the q45 derived-at-read rule: surprisal depends on
    * GLOBAL counts, so folding scores would bake in arrival order — the
    * read-out scores every doc against the same finished model, which is
    * what t30 computes in one shot and what the SHARED oracle hashes).
    * State size is |vocabulary| counts; per fold only batch-distinct terms
    * cross the join — d20's incremental-index shape on the token key.
    */
  val CensusReplayBatches = 3
  def censusFoldBatch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = TextOps.surprisalToks(Tables.documents(s, dir))
    // Per-batch term partials from ONE tokenization pass — tokenization is
    // the expensive side here, so the corpus is never re-tokenized per batch.
    val partials = toks
      .groupBy(pmod($"doc_id", lit(CensusReplayBatches.toLong)).as("b"), $"term")
      .agg(count(lit(1)).as("cnt"))
    val census = Fold.replayPartials(CensusReplayBatches, partials)(fullOuterAdd("term"))
    TextOps.surprisalReadout(toks, census)
  }

  /** s29: the SAME census contract as s26, driven through Spark 4's
    * arbitrary-state API in BATCH mode — `transformWithState` plans over a
    * batch Dataset too (SPARK-50190): the operator shuffles by key,
    * instantiates a per-partition RocksDB state store, and hands each
    * key's rows to the SAME `handleInputRows` a streaming census runs per
    * micro-batch, so the state-migration property (typed ValueState fold ≡
    * batch aggregate) is exercised by the production API rather than a
    * spec-only MemoryStream. The finished census then feeds the shared
    * surprisal read-out — hash-equal to s26/t30 through the SHARED oracle.
    * The census is materialized (|vocabulary| rows — the documented s26
    * state bound) under the RocksDB conf, which is restored after.
    *
    * NOT REENTRANT ACROSS THE SESSION: the provider conf is session-global,
    * so any OTHER stateful query launched on the same session while this
    * one materializes silently runs under the RocksDB provider too. Fine
    * for the single-threaded verify/bench harness; a concurrent deployment
    * should scope the conf to a cloned session (`s.newSession()` shares the
    * catalog but isolates runtime conf) before flipping the provider.
    */
  def censusTwsBatch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = TextOps.surprisalToks(Tables.documents(s, dir))
    val prev = s.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    val census = try {
      s.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      touchStateStoreCoordinator(s)
      toks.select($"term").as[String]
        .groupByKey(identity)
        .transformWithState(new TermCensusProcessor,
          org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append())
        .toDF()
        .transform(Materialize(_))
    } finally prev match {
      case Some(v) => s.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None => s.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
    TextOps.surprisalReadout(toks, census)
  }

  /** Batch `transformWithState` loads per-partition state stores that
    * report to the driver's StateStoreCoordinator RPC endpoint, but Spark
    * creates that endpoint lazily on the STREAMING path only (a
    * private[sql] accessor on the streams manager) — a pure-batch plan
    * must poke it into existence first or state loading fails with
    * CANNOT_LOAD_STATE_STORE (probe-verified on 4.1.2).
    */
  private def touchStateStoreCoordinator(s: SparkSession): Unit =
    s.streams.getClass.getMethods
      .find(m => m.getName == "stateStoreCoordinator" && m.getParameterCount == 0)
      .getOrElse(throw new IllegalStateException(
        "graft: StreamingQueryManager.stateStoreCoordinator accessor not found — " +
          "this Spark version needs a new way to initialize the coordinator " +
          "for batch transformWithState (s29 would otherwise die later with " +
          "the opaque CANNOT_LOAD_STATE_STORE)"))
      .invoke(s.streams)

  /** s27: watermark design audit — every watermarked operator in this
    * engine (s01-s26's streaming twins) asks the user for ONE number, the
    * watermark delay, and that number is a bet: too small and late events
    * are silently dropped, too large and state lingers (the s21 state bound
    * is watermark-proportional). This key measures the bet against the
    * feed's OWN disorder: replaying each event type in arrival order
    * (event_id — the ingest sequence the stream would deliver), an event's
    * lateness is how far the per-type event-time high-water mark had
    * already passed it (exactly the quantity Spark's watermark compares
    * against), and the report gives per type the observed disorder rate,
    * the worst lateness, and the exact ppm of events a 1-minute / 10-minute
    * / 1-hour watermark would have dropped — the loss-vs-state curve read
    * off the data instead of guessed. All integers (µs lateness, whole-sec
    * max, ppm rates) ⇒ bit-exact oracle. One event_type exchange for the
    * high-water-mark window, then a partial-aggregated rollup to |types|
    * rows; at 100 TB this runs per ingest shard and the per-type rollup
    * merges, because max/count/ppm numerators are all additive.
    */
  def watermarkAudit(s: SparkSession, dir: String): DataFrame =
    watermarkAuditOf(Tables.events(s, dir))

  /** The audit core on any events frame — spec-driven with a planted
    * disorder pattern whose loss curve is computed by hand. */
  private[graft] def watermarkAuditOf(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    val byArrival = Window.partitionBy($"event_type").orderBy($"event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    events
      .select($"event_type", $"event_id", unix_micros($"ts").as("ts_us"))
      .withColumn("late_us",
        greatest(lit(0L), coalesce(max($"ts_us").over(byArrival) - $"ts_us", lit(0L))))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(when($"late_us" > 0L, 1L).otherwise(0L)).as("late_events"),
        expr("max(late_us) div 1000000").as("max_late_sec"),
        sum(when($"late_us" > 60L * 1000000L, 1L).otherwise(0L)).as("d1m"),
        sum(when($"late_us" > 600L * 1000000L, 1L).otherwise(0L)).as("d10m"),
        sum(when($"late_us" > 3600L * 1000000L, 1L).otherwise(0L)).as("d1h"))
      .select($"event_type", $"n_events", $"late_events",
        expr("late_events * 1000000 div n_events").as("late_ppm"),
        $"max_late_sec",
        expr("d1m * 1000000 div n_events").as("drop_ppm_1m"),
        expr("d10m * 1000000 div n_events").as("drop_ppm_10m"),
        expr("d1h * 1000000 div n_events").as("drop_ppm_1h"))
      .orderBy($"event_type")
  }

  /** s28: gap fill maintained at ingest — q46's resample as a fold. The
    * state is the OBSERVED hourly table only: (type, hour) → (count,
    * DECIMAL sum), merged additively per micro-batch (s01's watermarked
    * hourly aggregate is the stream-side producer of exactly these rows),
    * and the dense axis + forward fill DERIVE from state at read time
    * (fill-on-read — materializing filled gap rows into state would make
    * state grow with silent time instead of with data, and a late event
    * landing in a "gap" hour would have to retract fabricated rows; as a
    * derivation, a late arrival just flips that hour on the next read).
    * Counts and DECIMAL sums are associative+commutative, so ANY batch
    * split folds to the same state — the 3-batch replay's readout
    * hash-equals the one-shot q46 through the SHARED oracle text, proving
    * the ingest loop and the batch resample can never drift. State is
    * |types|×|observed hours| regardless of corpus size; the fill axis
    * never touches the corpus.
    */
  val FillReplayBatches = 3
  def fillFoldBatch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // Per-batch partials from ONE corpus scan. Counts and DECIMAL sums
    // regroup exactly.
    val partials = Tables.events(s, dir)
      .select($"event_type", expr("unix_micros(ts) div 3600000000").as("hb"),
              $"value".cast("decimal(18,6)").as("v"),
              pmod($"event_id", lit(FillReplayBatches.toLong)).as("b"))
      .groupBy($"b", $"event_type", $"hb")
      .agg(count(lit(1)).as("n_events"), sum($"v").as("sum_v"))
    val state = Fold.replayPartials(FillReplayBatches, partials)(sumByKeys("event_type", "hb"))
    graft.operators.Relational.fillFromHourly(
      state.select($"event_type", $"hb", $"n_events",
                   $"sum_v".cast("double").as("sum_value")))
  }
}
