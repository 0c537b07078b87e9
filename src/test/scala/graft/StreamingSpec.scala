package graft

import java.sql.Timestamp
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.{Event, Fold, StateDir, Streams}

class StreamingSpec extends SparkSpec {

  private def ts(minute: Int): Timestamp = new Timestamp(1700000000000L + minute * 60000L)

  /** sf0.001's events in arrival order, (ts, event_id). */
  private lazy val arrivals: Seq[Event] = {
    val s = spark
    import s.implicits._
    Tables.events(s, sfDir).select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[Event].collect().toSeq.sortBy(e => (Streams.microsOf(e.ts), e.event_id))
  }

  /** The reference-table replay: `rows`, already in arrival order, reach
    * `q` in 3 deterministic micro-batches; `add` feeds one batch to the
    * query's source(s), and each batch drains before the next, so no row
    * arrives behind the watermark of an earlier one.
    */
  private def replay[T](q: org.apache.spark.sql.streaming.StreamingQuery, rows: Seq[T])(
      add: Seq[T] => Unit): Unit =
    rows.grouped((rows.length + 2) / 3).foreach { b => add(b); q.processAllAvailable() }

  /** A doc stream's admitted count per source, next to a batch twin's
    * non-zero `n_admitted` per source. */
  private def admittedPerSource(streamed: org.apache.spark.sql.DataFrame,
      twin: org.apache.spark.sql.DataFrame): (Map[String, Long], Map[String, Long]) =
    (streamed.groupBy("source").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap,
     twin.filter(col("n_admitted") > 0).collect()
       .map(r => r.getAs[String]("source") -> r.getAs[Long]("n_admitted")).toMap)

  test("s01 streaming windowed agg equals the batch transform on same data") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[Event]
    val events = Seq(
      Event(1, ts(0), 1, "view", 1.0), Event(2, ts(10), 1, "click", 2.0),
      Event(3, ts(70), 2, "view", 3.0), Event(4, ts(500), 2, "error", 4.0))
    input.addData(events: _*)
    val q = Streams.windowedCounts(input.toDF().withWatermark("ts", "1 hour"))
      .writeStream.format("memory").queryName("s01_out").outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamed = s.table("s01_out")
        .select("window_start", "event_type", "event_count", "sum_value")
        .collect().map(_.toSeq).toSet
      val batch = Streams.windowedCounts(events.toDF()).collect().map(_.toSeq).toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("s29 transformWithState census: ValueState fold equals the batch aggregate") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val prev = s.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[Event]
      // tsSub carries a non-zero microsecond remainder BELOW the millisecond
      // (123456 µs within the second): the fold must match unix_micros(ts)
      // on it, which a millis-scaled fold (getTime * 1000) cannot.
      val tsSub = { val t = ts(6); t.setNanos(123456000); t }
      val b1 = Seq(Event(1, ts(0), 1, "view", 1.0), Event(2, ts(1), 2, "view", 2.0),
                   Event(3, ts(2), 1, "click", 3.0))
      val b2 = Seq(Event(4, ts(3), 3, "view", 4.0), Event(5, ts(4), 2, "click", 5.0),
                   Event(6, ts(5), 1, "view", 6.0), Event(7, tsSub, 2, "view", 7.0))
      val q = Streams.censusStateStream(input.toDS())
        .writeStream.format("memory").queryName("tws_census")
        .outputMode("update").start()
      try {
        input.addData(b1: _*); q.processAllAvailable()
        input.addData(b2: _*); q.processAllAvailable()
        // latest state per type: counts are monotone, so max picks it
        val folded = s.table("tws_census").groupBy($"event_type")
          .agg(max($"n_events").as("n"), max($"sum_micros").as("sm"))
          .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
        val batch = (b1 ++ b2).toDF().groupBy($"event_type")
          .agg(count(lit(1)).as("n"),
               sum(expr("unix_micros(ts)")).as("sm"))
          .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
        assert(folded == batch,
          s"transformWithState fold must equal batch census: $folded vs $batch")
        // update mode emitted one row per (type, trigger) it saw
        assert(s.table("tws_census").count() >= folded.size)
      } finally q.stop()
      // the reference table: no key computes this census, so the batch
      // aggregate over the same events is the twin
      val ref = MemoryStream[Event]
      val rq = Streams.censusStateStream(ref.toDS())
        .writeStream.format("memory").queryName("tws_census_ref").outputMode("update").start()
      try {
        replay(rq, arrivals)(b => ref.addData(b: _*))
        val folded = s.table("tws_census_ref").groupBy($"event_type")
          .agg(max($"n_events"), max($"sum_micros")).as[(String, Long, Long)].collect().toSet
        val batch = Tables.events(s, sfDir).groupBy($"event_type")
          .agg(count(lit(1)), sum(expr("unix_micros(ts)"))).as[(String, Long, Long)].collect().toSet
        assert(folded == batch)
      } finally rq.stop()
    } finally prev match {
      case Some(v) => s.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None => s.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("s30 anomaly fold: folded hourly counts derive the one-shot q49 verdicts bit-for-bit") {
    val s = spark
    val fold = SparkEntry.queries("s30_anomaly_fold")(s, sfDir)
    val oneShot = SparkEntry.queries("q49_anomaly_mad")(s, sfDir)
    assert(fold.except(oneShot).isEmpty && oneShot.except(fold).isEmpty,
      "verdicts derived from folded state must equal the batch law")
  }

  test("s02 streaming sessionizer closes sessions in-stream and via watermark") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[Event]
    val q = Streams.sessionizeStream(
        input.toDS().withWatermark("ts", "1 hour"))
      .writeStream.format("memory").queryName("s02_out").outputMode("append").start()
    try {
      // batch 1: user 1 has an in-stream 45-min gap -> first session closes
      // immediately; user 2's session stays open in state.
      input.addData(
        Event(1, ts(0), 1, "view", 1.0), Event(2, ts(5), 1, "click", 2.0),
        Event(3, ts(50), 1, "view", 3.0),
        Event(4, ts(0), 2, "view", 5.0))
      q.processAllAvailable()
      val afterB1 = s.table("s02_out").as[graft.streaming.Session].collect()
      assert(afterB1.length == 1)
      assert(afterB1.head.user_id == 1 && afterB1.head.n_events == 2 &&
             afterB1.head.total_value == 3.0 &&
             afterB1.head.session_start == ts(0) && afterB1.head.session_end == ts(5))
      // batch 2: a far-future event advances the watermark past every open
      // session's gap horizon -> event-time timeouts flush them.
      input.addData(Event(5, ts(600), 3, "view", 7.0))
      q.processAllAvailable()
      val all = s.table("s02_out").as[graft.streaming.Session].collect()
      val flushedUsers = all.map(_.user_id).toSet
      assert(flushedUsers == Set(1L, 2L), s"got $flushedUsers")
      assert(all.length == 3) // user1 x2 (gap + flush), user2 x1; user3 still open
    } finally q.stop()
    // the reference table, then a far-future sentinel that flushes every
    // open session: the stream's sessions are the s02 key's, to the
    // microsecond and the exact decimal total
    val ref = MemoryStream[Event]
    val rq = Streams.sessionizeStream(ref.toDS().withWatermark("ts", "1 hour"))
      .writeStream.format("memory").queryName("s02_ref").outputMode("append").start()
    val cols = Seq("user_id", "session_start", "session_end", "n_events", "total_value").map(col)
    try {
      replay(rq, arrivals)(b => ref.addData(b: _*))
      ref.addData(Event(-1, ts(10000000), -1, "view", 0.0))
      rq.processAllAvailable()
      val streamed = s.table("s02_ref").select(cols: _*).collect().map(_.toSeq).toSet
      val key = SparkEntry.queries("s02_sessionize")(s, sfDir).select(cols: _*)
        .collect().map(_.toSeq).toSet
      assert(streamed == key,
        s"stream-only ${(streamed -- key).take(3)}, key-only ${(key -- streamed).take(3)}")
    } finally rq.stop()
  }

  test("s03 watermarked streaming dedup drops in-stream duplicates") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[Event]
    input.addData(
      Event(1, ts(0), 1, "view", 1.0), Event(1, ts(0), 1, "view", 1.0),
      Event(2, ts(1), 1, "click", 2.0), Event(1, ts(0), 1, "view", 1.0))
    val q = Streams.dedupEvents(input.toDF(), watermark = Some("1 hour"))
      .writeStream.format("memory").queryName("s03_out").outputMode("append").start()
    try {
      q.processAllAvailable()
      val ids = s.table("s03_out").select("event_id").collect().map(_.getLong(0)).sorted
      assert(ids.toSeq == Seq(1L, 2L))
    } finally q.stop()
    // the reference table: the stream keeps exactly the s03 key's rows
    val ref = MemoryStream[Event]
    val rq = Streams.dedupEvents(ref.toDF(), watermark = Some("1 hour"))
      .writeStream.format("memory").queryName("s03_ref").outputMode("append").start()
    val cols = Seq("event_id", "ts", "user_id", "event_type").map(col)
    try {
      replay(rq, arrivals)(b => ref.addData(b: _*))
      val streamed = s.table("s03_ref").select(cols: _*).collect().map(_.toSeq).toSet
      val key = SparkEntry.queries("s03_stream_dedup")(s, sfDir).select(cols: _*)
        .collect().map(_.toSeq).toSet
      assert(streamed.size == arrivals.size && streamed == key)
    } finally rq.stop()
  }

  test("s06 streaming approx-distinct merges sketch state across batches") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[Event]
    val q = Streams.distinctUsersWindowed(
        input.toDF().withWatermark("ts", "1 hour"))
      .writeStream.format("memory").queryName("s06_out").outputMode("update").start()
    try {
      // same window arrives in two batches; the sketch must merge in state,
      // counting user 1 once and users {1,2,3} overall
      input.addData(Event(1, ts(0), 1, "view", 1.0), Event(2, ts(5), 2, "view", 1.0))
      q.processAllAvailable()
      input.addData(Event(3, ts(10), 1, "view", 1.0), Event(4, ts(20), 3, "view", 1.0))
      q.processAllAvailable()
      val latest = s.table("s06_out")
        .groupBy("window_start", "event_type")
        .agg(max("approx_users").as("approx_users"))
        .collect()
      assert(latest.length == 1)
      assert(latest.head.getAs[Long]("approx_users") == 3L,
        "HLL at 2% rsd is exact at cardinality 3; state merge lost or double-counted users")
    } finally q.stop()
  }

  test("s07 foreachBatch upsert sink maintains max-version state across batches") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val statePath = java.nio.file.Files.createTempDirectory("graft_state").toString + "/st"
    val input = MemoryStream[Event]
    val q = Streams.upsertSink(input.toDF(), statePath)
    try {
      input.addData(Event(1, ts(0), 1, "v", 1.0), Event(2, ts(0), 2, "v", 1.0))
      q.processAllAvailable()
      input.addData(Event(3, ts(5), 2, "v", 2.0), Event(4, ts(5), 3, "v", 1.0))
      q.processAllAvailable()
      val state = s.read.parquet(statePath)
        .select("key", "version").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toMap
      assert(state == Map(1L -> 1.0, 2L -> 2.0, 3L -> 1.0),
        s"state after two merged batches was $state")
    } finally q.stop()
  }

  test("Fold.sink over 3 micro-batches leaves the state Fold.replay folds from the same batches") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val statePath = java.nio.file.Files.createTempDirectory("graft_fold").toString + "/st"
    // batch 3 carries a late op OLDER than batch 2's tombstone for user 1
    val batches = Seq(
      Seq(Event(1, ts(0), 1, "signup", 1.0), Event(2, ts(0), 2, "signup", 1.0)),
      Seq(Event(3, ts(10), 1, "error", 0.0), Event(4, ts(10), 3, "signup", 1.0)),
      Seq(Event(5, ts(5), 1, "purchase", 9.0), Event(6, ts(20), 2, "view", 2.0)))
    def cdcRows(df: org.apache.spark.sql.DataFrame) = df.select($"event_id",
      $"user_id".as("key"), $"event_type".as("op"), $"value".as("version"), $"ts")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("event_id", "key", "op", "version", "ts").collect().map(_.toSeq).toSet
    val input = MemoryStream[Event]
    val q = Fold.sink(cdcRows(input.toDF()), statePath, "update")(Streams.cdcMerge)
    try batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
    finally q.stop()
    val replayed = Fold.replay(batches.size)(b => cdcRows(batches(b).toDF()))(Streams.cdcMerge)
    val sunk = rows(s.read.parquet(statePath))
    assert(sunk == rows(replayed), s"sink state $sunk diverged from the replay")
    assert(sunk.map(_.head) == Set(3L, 4L, 6L),
      s"expected winners: user 1's tombstone, user 3's signup, user 2's view; got $sunk")
  }

  test("s17 CDC replay equals the one-window global latest-wins rebuild") {
    val s = spark
    import s.implicits._
    val fold = SparkEntry.queries("s17_cdc_replay")(s, sfDir)
    val latest = org.apache.spark.sql.expressions.Window.partitionBy($"user_id")
      .orderBy($"ts".desc, $"value".desc, $"event_id".desc)
    val rebuild = Tables.events(s, sfDir)
      .withColumn("rn", row_number().over(latest)).filter($"rn" === 1)
      .select($"user_id".as("key"), $"event_type".as("op"), $"value".as("version"),
              $"ts", ($"event_type" =!= "error").as("live"))
    assert(fold.count() == rebuild.count())
    assert(fold.exceptAll(rebuild).isEmpty && rebuild.exceptAll(fold).isEmpty,
      "3-batch CDC fold diverged from the global latest-wins rebuild")
    // tombstones stay in state: some keys end on a retained delete
    assert(!fold.filter(!$"live").isEmpty, "fixture has no tombstone winner")
  }

  test("s10 CDC sink: tombstones delete keys and block late resurrections") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val statePath = java.nio.file.Files.createTempDirectory("graft_cdc").toString + "/st"
    val input = MemoryStream[Event]
    val q = Streams.cdcSink(input.toDF(), statePath)
    try {
      // batch 1: insert users 1 and 2
      input.addData(Event(1, ts(0), 1, "signup", 1.0), Event(2, ts(0), 2, "signup", 1.0))
      q.processAllAvailable()
      // batch 2: delete user 1 (tombstone), insert user 3
      input.addData(Event(3, ts(10), 1, "error", 0.0), Event(4, ts(10), 3, "signup", 1.0))
      q.processAllAvailable()
      def live = Streams.cdcLiveState(s, statePath)
        .select("key").collect().map(_.getLong(0)).toSet
      assert(live == Set(2L, 3L), s"tombstone must hide user 1, got $live")
      // batch 3: a LATE update for user 1 OLDER than its tombstone must NOT
      // resurrect it; a genuinely newer re-insert must
      input.addData(Event(5, ts(5), 1, "purchase", 9.0))
      q.processAllAvailable()
      assert(live == Set(2L, 3L), s"stale pre-delete update resurrected user 1: $live")
      input.addData(Event(6, ts(20), 1, "signup", 2.0))
      q.processAllAvailable()
      assert(live == Set(1L, 2L, 3L), s"newer re-insert must revive user 1, got $live")
    } finally q.stop()
  }

  test("s22 index sink: gap-free contiguous ids across micro-batches, one-long state") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val statePath = java.nio.file.Files.createTempDirectory("graft_gidx").toString + "/st"
    import graft.streaming.IndexDoc
    val input = MemoryStream[IndexDoc]
    val q = Streams.indexSink(input.toDF(), statePath)
    try {
      // batch sizes 3/2/2; ids arrive out of canonical order WITHIN batches
      input.addData(IndexDoc(9, "b"), IndexDoc(4, "a"), IndexDoc(7, "a"))
      q.processAllAvailable()
      input.addData(IndexDoc(1, "b"), IndexDoc(2, "a"))
      q.processAllAvailable()
      input.addData(IndexDoc(8, "a"), IndexDoc(3, "b"))
      q.processAllAvailable()
      def rows = StateDir.read(s, statePath).get
        .select($"global_idx", $"doc_id", $"source")
        .as[(Long, Long, String)].collect().sortBy(_._1)
      assert(rows.map(_._1).toSeq == (0L until 7L), s"ids not gap-free: ${rows.toSeq}")
      // within each batch the numbering follows the canonical (source, doc_id)
      // order, and each batch's ids all precede the next batch's
      assert(rows.map(r => (r._3, r._2)).toSeq == Seq(
        ("a", 4L), ("a", 7L), ("b", 9L),          // batch 1
        ("a", 2L), ("b", 1L),                     // batch 2
        ("a", 8L), ("b", 3L)),                    // batch 3
        s"canonical-within-batch order violated: ${rows.toSeq}")
      val st = StateDir.manifest(s, statePath).get
      assert(st.scalars == Map("next_offset" -> 7L),
        s"state must carry next_offset=7, got ${st.scalars}")
      // exactly-once under at-least-once delivery: re-applying the last
      // batch (foreachBatch redelivery after a restart) must be a no-op —
      // no double-appended rows, no moved offset
      val replay = Seq((8L, "a"), (3L, "b")).toDF("doc_id", "source")
      Streams.indexApply(replay, st.writer, st.batch, statePath)
      assert(rows.length == 7, "re-delivered batch must not double-append rows")
      assert(StateDir.manifest(s, statePath).get.scalars("next_offset") == 7L,
        "re-delivered batch must not advance the offset")
      // crash-repair: rows written but the manifest swap lost → the retry of
      // the SAME batch id rewrites that batch's rows with identical ids
      val priorManifest = new java.io.File(statePath, s"_manifest-${st.seq}")
      val priorBytes = java.nio.file.Files.readAllBytes(priorManifest.toPath)
      Streams.indexApply(replay, st.writer, st.batch + 1, statePath)
      def lastRows = rows.filter(_._1 >= 7L).map(r => (r._1, r._2)).toSet
      val before = lastRows
      // simulate the lost commit: drop the newest manifest, the prior one is
      // newest again and the batch's rows are an orphan version
      new java.io.File(statePath, s"_manifest-${st.seq + 1}").delete()
      java.nio.file.Files.write(priorManifest.toPath, priorBytes)
      assert(rows.length == 7, "an orphan version must be invisible to reads")
      Streams.indexApply(replay, st.writer, st.batch + 1, statePath)
      val after = lastRows
      assert(after == before && after.map(_._1) == Set(7L, 8L),
        s"retry after a lost manifest swap must rewrite identical ids: $before vs $after")
      assert(rows.length == 9, s"the retry must apply exactly once: ${rows.toSeq}")
    } finally q.stop()
  }

  test("s22 index sink: a second query on one state path continues the ids") {
    // every new query (no checkpointLocation) restarts batch ids at 0; the
    // re-drive gate is per query, so q2's batch 0 must fold, not be skipped
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val statePath = java.nio.file.Files.createTempDirectory("graft_gidx2").toString + "/st"
    import graft.streaming.IndexDoc
    def run(batches: Seq[Seq[IndexDoc]]): Unit = {
      val input = MemoryStream[IndexDoc]
      val q = Streams.indexSink(input.toDF(), statePath)
      try batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
      finally q.stop()
    }
    run(Seq(Seq(IndexDoc(1, "a"), IndexDoc(2, "a")), Seq(IndexDoc(3, "a"))))
    run(Seq(Seq(IndexDoc(4, "a"), IndexDoc(5, "a"))))
    val rows = StateDir.read(s, statePath).get.select($"global_idx", $"doc_id")
      .as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(rows == (0L until 5L).zip(1L to 5L), s"second query lost or renumbered docs: $rows")
    assert(StateDir.manifest(s, statePath).get.scalars("next_offset") == 5L)
  }

  test("s07 upsert sink: a second query on one state path folds its batches") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val statePath = java.nio.file.Files.createTempDirectory("graft_state2").toString + "/st"
    def run(batches: Seq[Seq[Event]]): Unit = {
      val input = MemoryStream[Event]
      val q = Streams.upsertSink(input.toDF(), statePath)
      try batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
      finally q.stop()
    }
    run(Seq(Seq(Event(1, ts(0), 1, "v", 1.0)), Seq(Event(2, ts(0), 2, "v", 1.0))))
    run(Seq(Seq(Event(3, ts(5), 2, "v", 2.0), Event(4, ts(5), 3, "v", 1.0))))
    val state = s.read.parquet(statePath).select("key", "version").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(state == Map(1L -> 1.0, 2L -> 2.0, 3L -> 1.0),
      s"second query's batch must fold into the state: $state")
  }

  test("s23 chunk ingest: incremental fold equals single merge and t28's copy counts") {
    val s = spark
    import s.implicits._
    val df = SparkEntry.queries("s23_chunk_ingest")(spark, sfDir).cache()
    // one row per distinct digest
    assert(df.select($"chunk_hash").distinct().count() == df.count())
    // 3-batch incremental fold ≡ ONE merge over the same labeled rows
    // (associativity: the join-based fold adds nothing and loses nothing)
    val labeled = graft.operators.TextOps
      .chunkRows(Tables.documents(spark, sfDir))
      .withColumn("batch", pmod($"doc_id", lit(Streams.ChunkReplayBatches.toLong)))
    val oneShot = Streams.chunkStoreMerge(labeled)
      .select($"chunk_hash", $"n_copies",
        $"first.batch".as("first_batch"), $"first.doc_id".cast("long").as("first_doc"),
        ($"n_copies" > 1L).as("is_dup"))
    assert(df.join(oneShot.withColumnRenamed("n_copies", "nc2")
        .withColumnRenamed("first_batch", "fb2").withColumnRenamed("first_doc", "fd2")
        .select($"chunk_hash", $"nc2", $"fb2", $"fd2"), Seq("chunk_hash"), "full")
      .filter($"n_copies".isNull || $"nc2".isNull ||
        $"n_copies" =!= $"nc2" || $"first_batch" =!= $"fb2" || $"first_doc" =!= $"fd2")
      .isEmpty, "incremental fold diverged from the one-shot merge")
    // the store's copy counts are exactly t28's per-chunk window counts
    val t28 = SparkEntry.queries("t28_cdc_chunks")(spark, sfDir)
      .groupBy($"chunk_hash").agg(count(lit(1)).as("n"), max($"n_copies").as("nc"))
    assert(t28.filter($"n" =!= $"nc").isEmpty, "t28 window self-consistency")
    assert(df.join(t28, "chunk_hash").filter($"n_copies" =!= $"n").isEmpty,
      "store counts must equal the corpus report's")
    df.unpersist()
  }

  test("s29 batch transformWithState census scores identically to t30 and restores the conf") {
    val s = spark
    val confKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = s.conf.getOption(confKey)
    val tws = SparkEntry.queries("s29_census_tws")(s, sfDir)
    assert(s.conf.getOption(confKey) == prev,
      "the RocksDB provider conf must be restored after the census materializes")
    val oneShot = SparkEntry.queries("t30_surprisal")(s, sfDir)
    assert(tws.except(oneShot).isEmpty && oneShot.except(tws).isEmpty,
      "StatefulProcessor census must reach the one-shot model bit-for-bit")
  }

  test("s26 census fold: 3-batch additive census scores identically to t30") {
    val s = spark
    val fold = SparkEntry.queries("s26_census_fold")(s, sfDir)
    val oneShot = SparkEntry.queries("t30_surprisal")(s, sfDir)
    assert(fold.except(oneShot).isEmpty && oneShot.except(fold).isEmpty,
      "ingest-folded census must reach the one-shot model bit-for-bit")
  }

  test("s23 store reads are partition-pruned to the touched digest prefixes") {
    val s = spark
    import s.implicits._
    SparkEntry.queries("s23_chunk_ingest")(s, sfDir).collect()
    val store = StateDir.read(s, Streams.chunkStatePath(sfDir)).get
    val nPart = store.select($"pb").distinct().count()
    assert(nPart > 1, "store must span multiple digest-prefix partitions")
    val somePb = store.select($"pb").head.getInt(0)
    val pruned = store.filter($"pb" === somePb)
    pruned.collect()
    val scans = physical(pruned).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
    assert(scans.nonEmpty, "expected a file scan over the store")
    assert(scans.head.selectedPartitions.partitionCount.toLong < nPart,
      s"a touched-pb filter must prune the store scan (read " +
        s"${scans.head.selectedPartitions.partitionCount} of $nPart partitions)")
  }

  /** Synthetic chunk rows with chosen digests — the chunkStoreMerge input shape. */
  private def chunksOf(s: org.apache.spark.sql.SparkSession,
                       hashes: Seq[String], batch: Long): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    hashes.zipWithIndex.toDF("chunk_hash", "idx")
      .select($"chunk_hash", lit(batch).as("batch"),
        ($"idx" + batch * 100000L).as("doc_id"), lit(0L).as("chunk_idx"))
  }

  test("s23 fold write volume is O(touched partitions): untouched files never rewritten") {
    val s = spark
    import s.implicits._
    val key = "s23_spec_incremental_store"
    val loc = Streams.chunkStatePath(key)
    // fold 0: 2000 digests spanning every digest-prefix partition
    val baseHashes = (0 until 2000).map(i => s"digest_$i")
    Streams.chunkFold(s, key, chunksOf(s, baseHashes, 0L), 0L, firstFold = true)
    def store = StateDir.read(s, loc).get
    val storeRows = store.count()
    // fold 1's batch confined to ONE pb: 10 overlap digests from that
    // partition plus new digests that hash into the same partition
    val targetPb = store.select($"pb").head.getInt(0)
    val overlap = store.filter($"pb" === targetPb)
      .select($"chunk_hash").limit(10).as[String].collect().toSeq
    val fresh = (0 until 500).map(i => s"new_$i").toDF("h")
      .filter(pmod(hash($"h"), lit(Streams.ChunkStatePartitions)) === targetPb)
      .limit(5).as[String].collect().toSeq
    assert(overlap.size == 10 && fresh.nonEmpty, "fixture must populate both classes")
    // pb=<p> -> its live directory and that directory's parquet files
    def snapshot(): Map[String, (String, Seq[(String, Long, Long)])] =
      StateDir.manifest(s, loc).get.dirs.map { d =>
        d.substring(d.indexOf('/') + 1) -> (d, new java.io.File(loc, d).listFiles
          .filter(_.getName.endsWith(".parquet"))
          .map(f => (f.getName, f.length, f.lastModified)).sorted.toSeq)
      }.toMap
    val before = snapshot()
    Streams.chunkFold(s, key, chunksOf(s, overlap ++ fresh, 1L), 1L, firstFold = false)
    val after = snapshot()
    val touchedDir = s"pb=$targetPb"
    assert((before.keySet - touchedDir).forall(d => before(d) == after(d)),
      "untouched partitions must keep their exact files (names, sizes, mtimes)")
    assert(before(touchedDir) != after(touchedDir), "the touched partition was rewritten")
    // write volume: the rewritten partition holds ~store/P + batch rows — a
    // fold must never rewrite O(store)
    val written = store.filter($"pb" === targetPb).count()
    assert(written < storeRows / 4,
      s"per-fold write volume must be O(touched), got $written of $storeRows store rows")
    // merge correctness on the partial rewrite: overlap counts bumped, the
    // rest of the store intact
    val merged = store
    assert(merged.count() == storeRows + fresh.size)
    assert(merged.filter($"chunk_hash".isin(overlap: _*))
      .filter($"n_copies" =!= 2L).isEmpty, "overlap digests must fold to 2 copies")
    assert(merged.filter($"n_copies" === 1L).count() == storeRows - 10 + fresh.size)
    // no scratch debris next to the store (a commit stages inside its own
    // version directory)
    val debris = new java.io.File(loc).getParentFile.listFiles
      .filter(_.getName.startsWith(new java.io.File(loc).getName + "."))
    assert(debris.isEmpty, s"unexpected scratch dirs: ${debris.mkString(",")}")
  }

  test("s23 incremental fold runs no separate touched-partition probe job") {
    // r14: the touched-pb set rides the inc-checkpoint job as an observed
    // bit_or mask, so a non-first fold's job budget is exactly (1) the batch
    // aggregate + checkpoint (carrying the mask), (2) the merge + version
    // write; the re-drive gate reads the manifest on the driver. The r13 shape
    // paid one more: a distinct+collect probe over the checkpointed batch.
    // Asserting the measured ceiling pins the probe job OUT — a regression
    // that reintroduces a per-fold pass over the batch trips this.
    val s = spark
    import s.implicits._
    val key = "s23_spec_jobcount_store"
    Streams.chunkFold(s, key, chunksOf(s, (0 until 200).map(i => s"jc_$i"), 0L),
      0L, firstFold = true)
    val cur = jobsRun("s23jc")(Streams.chunkFold(s, key,
      chunksOf(s, (0 until 50).map(i => s"jc_new_$i"), 1L), 1L, firstFold = false))
    // measured on this fixture (AQE splits each query into several jobs):
    // r13 shape with the probe = 10 jobs, r14 observe shape = 8, the
    // manifest commit (no marker read, no catalog refresh) = 6. The bound
    // pins the 2-job probe out while tolerating AQE's own job accounting.
    assert(cur <= 8, s"non-first fold ran $cur jobs — a probe job is back?")
  }

  test("s23 re-driving a committed fold is a no-op (crash between commit and progress record)") {
    // the at-least-once seam: the fold's manifest swap COMMITS, the caller
    // dies before recording progress, restarts, and re-drives the same
    // batch. The (writer, batch) the manifest records must turn the replay
    // into a no-op — file-level identical store, no double-counted digests
    // — while a LATER batch still folds normally.
    val s = spark
    import s.implicits._
    val key = "s23_spec_redrive_store"
    val loc = Streams.chunkStatePath(key)
    val base = (0 until 300).map(i => s"rd_base_$i")
    val batch1 = (0 until 40).map(i => s"rd_base_$i") ++ (0 until 30).map(i => s"rd_new_$i")
    Streams.chunkFold(s, key, chunksOf(s, base, 0L), 0L, firstFold = true)
    Streams.chunkFold(s, key, chunksOf(s, batch1, 1L), 1L, firstFold = false)
    // every file under the store (data and manifest): path, size, mtime
    def snapshot(): Seq[(String, Long, Long)] = {
      val files = java.nio.file.Files.walk(java.nio.file.Paths.get(loc))
      try files.iterator().asScala.map(_.toFile).filter(_.isFile)
        .map(f => (f.getPath, f.length, f.lastModified)).toSeq.sorted
      finally files.close()
    }
    val committedState = snapshot()
    // the crash-replay: same batch id, same rows, driven again
    val replayed = Streams.chunkFold(s, key, chunksOf(s, batch1, 1L), 1L, firstFold = false)
    assert(snapshot() == committedState,
      "re-driving a committed fold must not write a single file (manifest included)")
    assert(replayed.filter($"chunk_hash".isin(batch1.take(40): _*))
      .filter($"n_copies" =!= 2L).isEmpty,
      "overlap digests must stay at 2 copies after the replay (no double count)")
    // the fold's own return holds store rows only (no NULL-digest row)
    assert(replayed.filter($"chunk_hash".isNull).isEmpty)
    // the gate is monotonic, not sticky: the NEXT batch still folds
    Streams.chunkFold(s, key, chunksOf(s, Seq("rd_late_0"), 2L), 2L, firstFold = false)
    val st = StateDir.read(s, loc).get
    assert(st.filter($"chunk_hash" === "rd_late_0").count() == 1L,
      "a later batch must fold normally after a replayed one")
  }

  test("s23 crash before the manifest swap: prior version readable, re-drive converges") {
    // a fold that dies after writing its version directory but before the
    // manifest rename leaves an orphan v=<next>. Reads resolve the manifest,
    // so they never see it; the next fold clears it, commits, and retires
    // every directory its manifest does not list.
    val s = spark
    import s.implicits._
    val key = "s23_spec_torn_store"
    val loc = Streams.chunkStatePath(key)
    Streams.chunkFold(s, key, chunksOf(s, (0 until 200).map(i => s"tc_$i"), 0L), 0L,
      firstFold = true)
    val orphan = new java.io.File(loc, s"v=${StateDir.manifest(s, loc).get.seq + 1}/pb=3")
    orphan.mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(orphan.getPath, "part-junk.parquet"), Array[Byte](9, 9))
    val before = StateDir.read(s, loc).get.count()
    assert(before == 200L, s"orphan version leaked into the read: $before rows")
    // the re-drive completes and merges correctly over the crashed store
    val merged = Streams.chunkFold(s, key,
      chunksOf(s, Seq("tc_0", "tc_1", "tc_new"), 1L), 1L, firstFold = false)
    assert(merged.filter($"chunk_hash" === "tc_0").head.getAs[Long]("n_copies") == 2L)
    assert(merged.filter($"chunk_hash" === "tc_new").count() == 1L)
    assert(merged.count() == 201L)
    // no unlisted directory survives the fold
    val onDisk = new java.io.File(loc).listFiles.filter(_.getName.startsWith("v="))
      .flatMap(v => v.listFiles.filter(_.isDirectory).map(p => s"${v.getName}/${p.getName}"))
      .toSet
    assert(onDisk == StateDir.manifest(s, loc).get.dirs.toSet,
      s"unlisted version directories survived: $onDisk")
    assert(!new java.io.File(orphan, "part-junk.parquet").exists, "the orphan's junk survived")
    // between completed commits a plain read of the root is exact too
    assert(s.read.parquet(loc).count() == 201L)
  }

  test("s25 erasure fold equals the survivor rebuild; orphaned digests vanish") {
    val s = spark
    import s.implicits._
    val fold = SparkEntry.queries("s25_erasure_fold")(spark, sfDir).cache()
    val deleted = pmod($"doc_id", lit(graft.operators.EndToEnd.ErasureMod)) ===
      graft.operators.EndToEnd.ErasureResidue
    // in-engine survivor rebuild
    val rebuild = graft.operators.TextOps
      .chunkRows(Tables.documents(spark, sfDir))
      .filter(!deleted)
      .groupBy($"chunk_hash").agg(count(lit(1)).as("nc2"))
    assert(fold.join(rebuild, Seq("chunk_hash"), "full")
      .filter($"n_copies".isNull || $"nc2".isNull || $"n_copies" =!= $"nc2")
      .isEmpty, "decrement fold diverged from the survivor rebuild")
    // digests held ONLY by deleted docs are gone from the store
    val chunks = graft.operators.TextOps
      .chunkRows(Tables.documents(spark, sfDir)).cache()
    val orphanOnly = chunks.groupBy($"chunk_hash")
      .agg(max(when(deleted, 0L).otherwise(1L)).as("has_survivor"))
      .filter($"has_survivor" === 0L)
    assert(orphanOnly.limit(1).count() == 1L, "fixture has no orphaned digest")
    assert(fold.join(orphanOnly, Seq("chunk_hash"), "left_semi").isEmpty,
      "an orphaned digest survived erasure")
    // and the store genuinely shrank
    assert(fold.count() < chunks.select($"chunk_hash").distinct().count())
    chunks.unpersist(); fold.unpersist()
  }

  test("s24 drift fold reaches d37's one-shot report exactly") {
    val s = spark
    import s.implicits._
    val fold = SparkEntry.queries("s24_drift_fold")(spark, sfDir)
    val oneShot = SparkEntry.queries("d37_drift_monitor")(spark, sfDir)
      .withColumnRenamed("a_ppm", "a2").withColumnRenamed("b_ppm", "b2")
      .withColumnRenamed("abs_diff_ppm", "d2")
    assert(fold.join(oneShot, Seq("dim", "bucket"), "full")
      .filter($"a_ppm".isNull || $"a2".isNull ||
        $"a_ppm" =!= $"a2" || $"b_ppm" =!= $"b2" || $"abs_diff_ppm" =!= $"d2")
      .isEmpty, "ingest fold diverged from the one-shot drift report")
  }

  test("s20 sketch sink: per-type state, batch-split invariance, exact on small sets") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val statePath = java.nio.file.Files.createTempDirectory("graft_hll").toString + "/st"
    val input = MemoryStream[Event]
    val q = Streams.sketchSink(input.toDF(), statePath)
    try {
      // three micro-batches; users overlap across batches so a broken merge
      // (double-count) would overshoot the exact distinct
      input.addData(Event(1, ts(0), 1, "view", 0), Event(2, ts(1), 2, "view", 0),
                    Event(3, ts(2), 1, "click", 0))
      q.processAllAvailable()
      input.addData(Event(4, ts(3), 1, "view", 0), Event(5, ts(4), 3, "view", 0))
      q.processAllAvailable()
      input.addData(Event(6, ts(5), 2, "view", 0), Event(7, ts(6), 4, "click", 0))
      q.processAllAvailable()
      val state = s.read.parquet(statePath)
      assert(state.count() == 2, "state must hold ONE sketch row per event_type")
      val est = state.select($"event_type", hll_sketch_estimate($"sketch").as("e"))
        .as[(String, Double)].collect().toMap
      // tiny cardinalities sit in the sketch's exact range: view {1,2,3},
      // click {1,4}
      assert(est("view") == 3.0 && est("click") == 2.0,
        s"folded estimates drifted from exact: $est")
      // batch-split invariance: the same rows folded as ONE batch reach the
      // same estimates (union registers are partitioning-invariant)
      val all = Seq((1L, "view"), (2L, "view"), (1L, "click"), (1L, "view"),
                    (3L, "view"), (2L, "view"), (4L, "click"))
        .toDF("user_id", "event_type")
      val oneShot = Streams.sketchMerge(None, all)
        .select($"event_type", hll_sketch_estimate($"sketch").as("e"))
        .as[(String, Double)].collect().toMap
      assert(oneShot == est, s"fold must be batch-split invariant: $oneShot vs $est")
    } finally q.stop()
  }

  test("s21 stream-stream interval join equals the batch twin on identical rows") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val clicks = MemoryStream[Event]
    val purchases = MemoryStream[Event]
    val q = Streams.attributionStream(clicks.toDF(), purchases.toDF())
      .writeStream.format("memory").queryName("s21_out").outputMode("append").start()
    try {
      // user 1: purchase 30 min after click (match) and one 2 h later (no);
      // user 2: purchase 10 min BEFORE the click (no) and at +60 min (match,
      // boundary inclusive); user 3: click with no purchase
      clicks.addData(Event(1, ts(0), 1, "click", 0), Event(2, ts(0), 2, "click", 0),
                     Event(3, ts(5), 3, "click", 0))
      purchases.addData(Event(10, ts(30), 1, "purchase", 0),
                        Event(11, ts(120), 1, "purchase", 0))
      q.processAllAvailable()
      purchases.addData(Event(12, ts(-10), 2, "purchase", 0),
                        Event(13, ts(60), 2, "purchase", 0))
      q.processAllAvailable()
      val got = s.table("s21_out")
        .select($"user_id", $"click_id", $"purchase_id", $"lag_s")
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(got == Set((1L, 1L, 10L, 1800L), (2L, 2L, 13L, 3600L)),
        s"stream join emitted $got")
    } finally q.stop()
    // the reference table through two watermarked streams: the stream
    // emits exactly the s21 key's pairs, every lag within [0, 3600]
    val refClicks = MemoryStream[Event]
    val refPurchases = MemoryStream[Event]
    val rq = Streams.attributionStream(refClicks.toDF(), refPurchases.toDF())
      .writeStream.format("memory").queryName("s21_ref").outputMode("append").start()
    try {
      replay(rq, arrivals) { b =>
        refClicks.addData(b.filter(_.event_type == "click"): _*)
        refPurchases.addData(b.filter(_.event_type == "purchase"): _*)
      }
      val streamed = s.table("s21_ref")
        .select($"user_id", $"click_id", $"purchase_id", $"lag_s")
        .as[(Long, Long, Long, Long)].collect().toSet
      val key = SparkEntry.queries("s21_stream_join")(spark, sfDir)
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(key.nonEmpty && streamed == key)
      assert(key.forall(p => p._4 >= 0 && p._4 <= 3600),
        "every attributed pair must convert within the window")
    } finally rq.stop()
  }

  test("s08 custom topk_agg merges through the streaming state store") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    functions.GraftFunctions.register(s)
    val input = MemoryStream[Event]
    // the SAME transform as the s09 driver key, driven as a stream
    val q = graft.streaming.Streams.topkWindowed(input.toDF().withWatermark("ts", "1 hour"))
      .writeStream.format("memory").queryName("s08_out").outputMode("update").start()
    try {
      input.addData(Event(1, ts(0), 1, "v", 5.0), Event(2, ts(1), 1, "v", 9.0))
      q.processAllAvailable()
      input.addData(Event(3, ts(2), 1, "v", 7.0), Event(4, ts(3), 1, "v", 1.0))
      q.processAllAvailable()
      // the buffer must survive the state store between batches: top-3 of
      // {5, 9} merged with {7, 1} is [9, 7, 5]
      val last = s.table("s08_out").groupBy("event_type")
        .agg(max_by(col("topv"), size(col("topv"))).as("topv"))
        .head().getSeq[Double](1)
      assert(last == Seq(9.0, 7.0, 5.0), s"got $last")
    } finally q.stop()
  }

  test("s12 sessionized top-k: session merge and heap merge share one streaming aggregate") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    functions.GraftFunctions.register(s)
    val input = MemoryStream[Event]
    // the SAME transform as the s12 driver key, driven as a stream; session
    // windows stream in APPEND mode only — a session emits once the
    // watermark proves its gap has passed
    val q = Streams.sessionTopkWindowed(input.toDF().withWatermark("ts", "10 minutes"))
      .writeStream.format("memory").queryName("s12_out").outputMode("append").start()
    try {
      // session A: two batches 10 min apart (same session, heap must merge);
      // session B: 40 min after A's last event (new session)
      input.addData(Event(1, ts(0), 1, "v", 5.0), Event(2, ts(10), 1, "v", 9.0))
      q.processAllAvailable()
      input.addData(Event(3, ts(20), 1, "v", 7.0), Event(4, ts(25), 1, "v", 8.0))
      q.processAllAvailable()
      input.addData(Event(5, ts(65), 1, "v", 2.0))
      q.processAllAvailable()
      // watermark-advancing sentinels on another user flush A (closes at
      // ts(55)) and B (closes at ts(95)); two batches because the watermark
      // computed at batch N applies from batch N+1
      input.addData(Event(98, ts(120), 2, "v", 0.0))
      q.processAllAvailable()
      input.addData(Event(99, ts(121), 2, "v", 0.0))
      q.processAllAvailable()
      val out = s.table("s12_out").filter($"user_id" === 1)
        .orderBy($"session_start")
        .collect().map(r => r.getTimestamp(1) -> r.getSeq[Double](2))
      assert(out.length == 2, out.mkString(", "))
      assert(out(0)._1 == ts(0) && out(0)._2 == Seq(9.0, 8.0, 7.0),
        s"merged session A wrong: ${out.toSeq}")
      assert(out(1)._1 == ts(65) && out(1)._2 == Seq(2.0), s"session B wrong: ${out.toSeq}")
    } finally q.stop()
  }

  test("s13 stream-static decontamination gate refuses blocklisted docs statelessly") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    // blocklist = fingerprints of two known texts
    val blockTexts = Seq("leaked eval question one", "another held out prompt")
    val blockFps = blockTexts.toDF("text")
      .select(graft.operators.TextOps.contentFp.as("fp"))
    val input = MemoryStream[(Long, String, String)]
    input.addData(
      (1L, "srcA", "a perfectly clean document"),
      (2L, "srcA", "Leaked  EVAL question one"), // normalizes onto blocklist entry
      (3L, "srcB", "another held out prompt"),
      (4L, "srcB", "more clean text here"))
    val q = Streams.decontaminateStream(
        input.toDF().toDF("doc_id", "source", "text"), blockFps)
      .writeStream.format("memory").queryName("s13_out").outputMode("append").start()
    try {
      q.processAllAvailable()
      // second micro-batch: the gate must keep filtering with no state carried
      input.addData(
        (5L, "srcC", "ANOTHER held  out prompt"), // still blocked
        (6L, "srcC", "fresh clean content"))
      q.processAllAvailable()
      val admitted = s.table("s13_out").select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(admitted == Set(1L, 4L, 6L),
        s"gate admitted $admitted, expected clean docs only")
      // stateless: no state store rows accumulate across batches
      assert(q.lastProgress.stateOperators.isEmpty ||
             q.lastProgress.stateOperators.forall(_.numRowsTotal == 0),
        "stream-static anti-join must hold no streaming state")
    } finally q.stop()
    // batch twin invariants: admissions + blocks partition each source's docs
    val twin = SparkEntry.queries("s13_stream_decontaminate")(spark, sfDir).cache()
    assert(twin.filter(col("n_admitted") + col("n_blocked") =!= col("n_docs")).isEmpty)
    // eval-convention rows guarantee at least one block overall
    assert(twin.agg(sum("n_blocked")).head().getLong(0) >= 1)
    // the reference table against its own eval blocklist: the stream admits
    // exactly the twin's count per source
    val docs = Tables.documents(s, sfDir).select($"doc_id", $"source", $"text")
      .as[(Long, String, String)].collect().toSeq.sortBy(_._1)
    val refBlock = graft.operators.Dedup.evalFingerprints(
      Tables.documents(s, sfDir).withColumn("fp", graft.operators.TextOps.contentFp), $"fp")
    val ref = MemoryStream[(Long, String, String)]
    val rq = Streams.decontaminateStream(ref.toDF().toDF("doc_id", "source", "text"), refBlock)
      .writeStream.format("memory").queryName("s13_ref").outputMode("append").start()
    try {
      replay(rq, docs)(b => ref.addData(b: _*))
      val (streamed, batch) = admittedPerSource(s.table("s13_ref"), twin)
      assert(streamed == batch)
    } finally { rq.stop(); twin.unpersist() }
  }

  test("s16 stream quality gate refuses below-cutoff docs statelessly, passes uncalibrated sources") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    // calibrated cutoffs for two known sources; srcC is uncalibrated.
    // quality of a short all-punct doc is far below 0.9; a 500+ char prose
    // doc with stopwords scores well above 0.2
    val cutoffs = Seq(("srcA", 0.9), ("srcB", 0.2)).toDF("source", "cutoff")
    val prose = ("the quick brown fox jumps over the lazy dog and runs to " +
      "the old mill in the valley where the miller grinds the grain ") * 5
    val junk = "!!! ??? *** %%% $$$"
    val input = MemoryStream[(Long, String, String)]
    input.addData(
      (1L, "srcA", prose), // above srcB's bar but BELOW srcA's 0.9 → refused
      (2L, "srcB", prose), // admitted
      (3L, "srcB", junk))  // refused
    val q = Streams.qualityGateStream(
        input.toDF().toDF("doc_id", "source", "text"), cutoffs)
      .writeStream.format("memory").queryName("s16_out").outputMode("append").start()
    try {
      q.processAllAvailable()
      // second micro-batch: still gating, and an uncalibrated source passes
      input.addData(
        (4L, "srcC", junk),  // no cutoff row → admitted by policy
        (5L, "srcA", junk))  // refused
      q.processAllAvailable()
      val admitted = s.table("s16_out").select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(admitted == Set(2L, 4L),
        s"gate admitted $admitted, expected Set(2, 4)")
      assert(q.lastProgress.stateOperators.isEmpty ||
             q.lastProgress.stateOperators.forall(_.numRowsTotal == 0),
        "stream-static quality gate must hold no streaming state")
    } finally q.stop()
    // batch twin: admissions + blocks partition each source, admitted
    // matches the d24 survivor set exactly (same cutoffs, same rule)
    val twin = SparkEntry.queries("s16_stream_quality_gate")(spark, sfDir)
    assert(twin.filter(col("n_admitted") + col("n_blocked") =!= col("n_docs")).isEmpty)
    val d24PerSource = SparkEntry.queries("d24_histogram_quality_gate")(spark, sfDir)
      .groupBy(col("source")).agg(org.apache.spark.sql.functions.count(lit(1)).as("n24"))
    assert(twin.join(d24PerSource, "source")
      .filter(col("n_admitted") =!= col("n24")).isEmpty,
      "the gate's admissions must equal d24's survivors per source")
    // the reference table under its own d24 cutoffs: the stream admits
    // exactly the twin's count per source
    val docs = Tables.documents(s, sfDir).select($"doc_id", $"source", $"text")
      .as[(Long, String, String)].collect().toSeq.sortBy(_._1)
    val refCutoffs = graft.operators.Dedup.histogramQualityCutoffs(Tables.documents(s, sfDir)
      .select($"source", graft.operators.TextOps.qualityCol.as("quality")))
    val ref = MemoryStream[(Long, String, String)]
    val rq = Streams.qualityGateStream(ref.toDF().toDF("doc_id", "source", "text"), refCutoffs)
      .writeStream.format("memory").queryName("s16_ref").outputMode("append").start()
    try {
      replay(rq, docs)(b => ref.addData(b: _*))
      val (streamed, batch) = admittedPerSource(s.table("s16_ref"), twin)
      assert(streamed == batch)
    } finally rq.stop()
  }

  test("s15 windowed CMS merges sketch state across batches and never undercounts") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    functions.GraftFunctions.register(s)
    val input = MemoryStream[Event]
    val q = graft.streaming.Streams.cmsWindowed(input.toDF().withWatermark("ts", "1 hour"))
      .writeStream.format("memory").queryName("s15_out").outputMode("update").start()
    try {
      input.addData(Event(1, ts(0), 7, "v", 1.0), Event(2, ts(1), 7, "v", 1.0),
                    Event(3, ts(2), 9, "v", 1.0))
      q.processAllAvailable()
      input.addData(Event(4, ts(3), 7, "v", 1.0), Event(5, ts(4), 9, "v", 1.0))
      q.processAllAvailable()
      // latest emission for the window: user 7 seen 3x across batches, user
      // 9 seen 2x — estimates must be >= true counts (state-store merge)
      val est = s.table("s15_out")
        .groupBy($"window_start")
        .agg(max_by($"cms", size($"cms")).as("cms"))
        .select(
          functions.GraftFunctions.cmsQuery($"cms", lit("7")).as("u7"),
          functions.GraftFunctions.cmsQuery($"cms", lit("9")).as("u9"))
        .head()
      assert(est.getLong(0) >= 3L, s"user 7 undercounted: ${est.getLong(0)}")
      assert(est.getLong(1) >= 2L, s"user 9 undercounted: ${est.getLong(1)}")
    } finally q.stop()
    // batch twin: the one-sided guarantee holds on the full dataset
    val twin = SparkEntry.queries("s15_window_heavy_hitters")(spark, sfDir)
    assert(twin.filter(col("cms_n") < col("true_n")).isEmpty)
    assert(twin.filter(!col("is_overestimate")).isEmpty)
  }

  test("s14 signature-index sink indexes new docs and refuses cross-batch near-dups") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val statePath = java.nio.file.Files.createTempDirectory("graft_sigidx").toString + "/state"
    val input = MemoryStream[(Long, String)]
    val q = graft.streaming.Streams.signatureIndexSink(
      input.toDF().toDF("doc_id", "text"), statePath)
    try {
      input.addData(
        (1L, "alpha beta gamma delta epsilon zeta"),
        (2L, "totally different text content goes here"))
      q.processAllAvailable()
      val afterOne = s.read.parquet(statePath)
      assert(afterOne.select("doc_id").distinct().collect().map(_.getLong(0)).toSet
        == Set(1L, 2L))
      // batch 2: doc 3 duplicates doc 1 (case/spacing noise only — the
      // kernel normalizes), doc 4 is genuinely new
      input.addData(
        (3L, "ALPHA beta  gamma Delta epsilon zeta"),
        (4L, "yet another unrelated document entirely new"))
      q.processAllAvailable()
      val afterTwo = s.read.parquet(statePath)
      assert(afterTwo.select("doc_id").distinct().collect().map(_.getLong(0)).toSet
        == Set(1L, 2L, 4L),
        "the index must grow by exactly the non-duplicate doc")
      // 8 bands per indexed doc, none lost in the merge
      assert(afterTwo.count() == 3 * 8)
    } finally q.stop()
  }

  test("s18 soft-cap boundary: the crossing doc admits, everything after refuses") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    import graft.streaming.BudgetDoc
    val input = MemoryStream[BudgetDoc]
    val q = Streams.budgetAdmissionStream(input.toDS())
      .writeStream.format("memory").queryName("s18_fix").outputMode("append").start()
    try {
      // budget 800: 700 admits (spent 0), 200 CROSSES but admits (700<800),
      // then the counter is frozen at 900 — 50 and even a 1-token doc refuse
      input.addData(
        BudgetDoc(1, "srcA", 700), BudgetDoc(2, "srcA", 200),
        BudgetDoc(3, "srcA", 50))
      q.processAllAvailable()
      input.addData(BudgetDoc(4, "srcA", 1), BudgetDoc(5, "srcB", 900))
      q.processAllAvailable()
      val r = s.table("s18_fix")
        .collect().map(x => x.getLong(0) -> ((x.getLong(3), x.getBoolean(4)))).toMap
      assert(r(1L) == ((0L, true)))
      assert(r(2L) == ((700L, true)), "the crossing doc is admitted (soft cap)")
      assert(r(3L) == ((900L, false)), "after the line the counter is frozen")
      assert(r(4L) == ((900L, false)), "refusal is permanent across micro-batches")
      assert(r(5L) == ((0L, true)), "a fresh source starts at zero spent")
    } finally q.stop()
  }

  test("s18 streaming fold over 3 micro-batches equals the batch window twin") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    import graft.streaming.{BudgetDoc, BudgetVerdict}
    val batch = SparkEntry.queries("s18_budget_admission")(spark, sfDir).cache()
    val docs = batch.select($"doc_id", $"source", $"n_tokens").as[BudgetDoc]
      .collect().sortBy(_.doc_id)
    assert(docs.length > 100)
    val input = MemoryStream[BudgetDoc]
    val q = Streams.budgetAdmissionStream(input.toDS())
      .writeStream.format("memory").queryName("s18_out").outputMode("append").start()
    try {
      // 3 micro-batches in doc_id order — the deterministic arrival order
      // the oracle replays; state must carry spent across the batch cuts
      replay(q, docs.toSeq)(b => input.addData(b: _*))
      val streamed = s.table("s18_out").as[BudgetVerdict].collect()
        .map(v => (v.doc_id, v.source, v.n_tokens, v.spent_before, v.admitted)).toSet
      val fromBatch = batch.collect()
        .map(x => (x.getLong(0), x.getString(1), x.getLong(2), x.getLong(3), x.getBoolean(4))).toSet
      assert(streamed == fromBatch,
        "incremental fold must equal the global window rebuild")
      // both verdict classes genuinely exercised
      assert(fromBatch.exists(_._5) && fromBatch.exists(!_._5))
    } finally { q.stop(); batch.unpersist() }
  }

  test("s19 streaming shard assignment equals the batch twin and re-aggregates to m06") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    import graft.streaming.{ShardAssign, ShardDoc}
    val batch = SparkEntry.queries("s19_shard_assign")(spark, sfDir).cache()
    val docs = batch.select($"doc_id", $"source", $"byte_len").as[ShardDoc]
      .collect().sortBy(_.doc_id)
    val input = MemoryStream[ShardDoc]
    val q = Streams.shardAssignStream(input.toDS())
      .writeStream.format("memory").queryName("s19_out").outputMode("append").start()
    try {
      replay(q, docs.toSeq)(b => input.addData(b: _*))
      val streamed = s.table("s19_out").as[ShardAssign].collect()
        .map(v => (v.doc_id, v.source, v.byte_len, v.shard_idx)).toSet
      val fromBatch = batch.collect()
        .map(x => (x.getLong(0), x.getString(1), x.getLong(2), x.getLong(3))).toSet
      assert(streamed == fromBatch,
        "per-source byte counter across micro-batches must equal the window rebuild")
      // the per-blob assignment re-aggregates to exactly the m06 manifest
      // (counts, byte masses, id ranges — the digest needs the blobs)
      val reagg = batch.groupBy($"source", $"shard_idx")
        .agg(count(lit(1)).as("n_blobs"), sum($"byte_len").as("shard_bytes"),
             min($"doc_id").as("doc_lo"), max($"doc_id").as("doc_hi"))
      val manifest = SparkEntry.queries("m06_shard_manifest")(spark, sfDir)
        .select($"source", $"shard_idx", $"n_blobs", $"shard_bytes", $"doc_lo", $"doc_hi")
      assert(reagg.except(manifest).isEmpty && manifest.except(reagg).isEmpty,
        "s19 assignments must re-aggregate to the m06 manifest")
      assert(fromBatch.exists(_._4 > 0), "multi-shard sources must exist")
    } finally { q.stop(); batch.unpersist() }
  }

  test("s27 watermark audit: planted disorder yields the hand-computed loss curve") {
    val s = spark
    import s.implicits._
    def t(sec: Long) = new Timestamp(1700000000000L + sec * 1000L)
    val events = Seq(
      Event(1, t(10000), 1, "x", 0.0),
      Event(2, t(20000), 1, "x", 0.0),
      Event(3, t(19970), 1, "x", 0.0), // 30 s late: disorder, no candidate drops it
      Event(4, t(16000), 1, "x", 0.0), // 4000 s late: dropped by 1m/10m/1h alike
      Event(5, t(21000), 1, "x", 0.0),
      Event(6, t(50), 2, "y", 0.0)) // single in-order type: all-zero row
    val out = Streams.watermarkAuditOf(events.toDF()).collect()
      .map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
    assert(out("x") == Seq(5L, 2L, 400000L, 4000L, 200000L, 200000L, 200000L))
    assert(out("y") == Seq(1L, 0L, 0L, 0L, 0L, 0L, 0L))
    // on the real feed: the audit must cover every event type, and every
    // ppm column is a valid rate
    val real = SparkEntry.queries("s27_watermark_audit")(spark, sfDir).cache()
    try {
      val nTypes = Tables.events(spark, sfDir).select("event_type").distinct().count()
      assert(real.count() == nTypes)
      Seq("late_ppm", "drop_ppm_1m", "drop_ppm_10m", "drop_ppm_1h").foreach { c =>
        assert(real.filter(col(c) < 0 || col(c) > 1000000).isEmpty, s"$c out of range")
      }
      // loss curve must be monotone: a longer delay never drops MORE events
      assert(real.filter(col("drop_ppm_1m") < col("drop_ppm_10m") ||
        col("drop_ppm_10m") < col("drop_ppm_1h")).isEmpty)
    } finally real.unpersist()
  }

  test("s02 batch sessionizer: session stats are internally consistent") {
    val df = SparkEntry.queries("s02_sessionize")(spark, sfDir)
    assert(df.filter(col("session_end") < col("session_start")).isEmpty)
    assert(df.filter(col("n_events") <= 0).isEmpty)
    val events = Tables.events(spark, sfDir).count()
    val inSessions = df.agg(sum("n_events")).head().getLong(0)
    assert(inSessions == events, s"sessionizer lost rows: $inSessions != $events")
  }

  test("s28 fill fold: folded hourly state derives the one-shot q46 resample bit-for-bit") {
    val s = spark
    val fold = SparkEntry.queries("s28_fill_fold")(s, sfDir)
    val oneShot = SparkEntry.queries("q46_gap_fill")(s, sfDir)
    assert(fold.except(oneShot).isEmpty && oneShot.except(fold).isEmpty,
      "fill derived from folded state must equal the batch resample")
    // fill-on-read: state carries only OBSERVED hours — the fold's axis
    // size equals the batch one, but its pre-derivation state is bounded
    // by distinct (type, hour) pairs, which the observed table pins
    val observed = Tables.events(s, sfDir)
      .select(col("event_type"), expr("unix_micros(ts) div 3600000000"))
      .distinct().count()
    val filled = fold.count()
    assert(observed <= filled, s"state rows $observed exceed dense axis $filled")
  }
}
