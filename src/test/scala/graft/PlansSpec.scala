package graft

import org.apache.spark.sql.functions._
// collation spec lives here with the other engine-feature pins
import graft.operators.AsOf
import graft.plans.{AsOfJoinDF, AsOfJoinExec}

/** The custom whole-operator path: AsOfJoin logical node -> strategy ->
  * sort-merge exec (graft.plans.AsOfJoinPlan).
  */
class PlansSpec extends SparkSpec {

  test("native as-of join matches the composed union+window variant") {
    val native = AsOf.asofJoinNative(spark, sfDir).collect().map(_.toSeq)
    val composed = AsOf.asofJoin(spark, sfDir).collect().map(_.toSeq)
    assert(native.length === composed.length)
    assert(native.toSeq === composed.toSeq)
    assert(native.nonEmpty)
  }

  test("p29 nearest as-of picks the closer side, ties backward, nulls when no match") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(sec: Int) = new Timestamp(1700000000000L + sec * 1000L)
    // user 1: error at 100 with purchases at 90 (d=10) and 105 (d=5) -> forward;
    //         error at 200 with purchases at 195/205 (d=5 both) -> tie -> backward
    // user 2: error at 50, only a LATER purchase at 60 -> forward (backward-only
    //         as-of would return null here)
    // user 3: error at 10, only an EARLIER purchase at 4 -> backward
    // user 4: error with no purchases at all -> null verdict
    val ev = Seq(
      (1L, ts(90), 1L, "purchase", 1.0), (2L, ts(105), 1L, "purchase", 1.0),
      (3L, ts(100), 1L, "error", 0.0),
      (4L, ts(195), 1L, "purchase", 1.0), (5L, ts(205), 1L, "purchase", 1.0),
      (6L, ts(200), 1L, "error", 0.0),
      (7L, ts(60), 2L, "purchase", 1.0), (8L, ts(50), 2L, "error", 0.0),
      (9L, ts(4), 3L, "purchase", 1.0), (10L, ts(10), 3L, "error", 0.0),
      (11L, ts(0), 4L, "error", 0.0),
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val r = AsOf.asofJoinNearestOf(ev).collect()
      .map(x => x.getLong(0) ->
        ((Option(x.get(3)).map(_.asInstanceOf[Long]), x.getString(5)))).toMap
    assert(r(3L) == ((Some(2L), "forward")), "closer forward purchase wins")
    assert(r(6L) == ((Some(4L), "backward")), "equal distance ties to backward")
    assert(r(8L) == ((Some(7L), "forward")), "forward-only match found")
    assert(r(10L) == ((Some(9L), "backward")), "backward-only match found")
    assert(r(11L)._1.isEmpty && r(11L)._2 == null, "no purchase -> null verdict")
  }

  test("physical plan uses AsOfJoinExec with one exchange per side and no window") {
    val df = AsOf.asofJoinNative(spark, sfDir)
    val planned = df.queryExecution.executedPlan
    val s = planned.toString
    assert(s.contains("AsOfJoin"), s"expected AsOfJoinExec in:\n$s")
    assert(!s.contains("Window"), s"native path must not fall back to window:\n$s")
  }

  test("as-of exec handles keys with no right-side rows (left outer nulls)") {
    import spark.implicits._
    AsOfJoinDF.ensureStrategy(spark)
    val l = Seq((1L, 10L, "a"), (1L, 20L, "b"), (2L, 5L, "c"), (3L, 7L, "d"))
      .toDF("k", "t", "tag")
    val r = Seq((1L, 9L, "r1"), (1L, 15L, "r2"), (3L, 8L, "r3"))
      .toDF("rk", "rt", "rtag")
    val out = AsOfJoinDF.asofLeft(l, r, Seq(l("k")), Seq(r("rk")), l("t"), r("rt"))
      .select($"k", $"t", $"tag", $"rt", $"rtag").orderBy($"k", $"t")
      .collect().map(_.toSeq)
    assert(out.toSeq === Seq(
      Seq(1L, 10L, "a", 9L, "r1"),   // greatest rt <= 10 is 9
      Seq(1L, 20L, "b", 15L, "r2"),  // greatest rt <= 20 is 15
      Seq(2L, 5L, "c", null, null),  // key 2 absent on the right
      Seq(3L, 7L, "d", null, null))) // key 3 exists but rt=8 > 7
  }

  test("null join keys never match (NULL = NULL is not a hit)") {
    import spark.implicits._
    val l = Seq((Option(1L), 10L, "a"), (Option.empty[Long], 10L, "b"))
      .toDF("k", "t", "tag")
    val r = Seq((Option(1L), 9L, "r1"), (Option.empty[Long], 5L, "rnull"))
      .toDF("rk", "rt", "rtag")
    val out = AsOfJoinDF.asofLeft(l, r, Seq(l("k")), Seq(r("rk")), l("t"), r("rt"))
      .select($"tag", $"rtag").orderBy($"tag").collect().map(_.toSeq)
    assert(out.toSeq === Seq(
      Seq("a", "r1"),   // non-null key matches normally
      Seq("b", null)))  // null left key matches nothing, incl. null right key
  }

  test("equal timestamps match (<= bound, not <)") {
    import spark.implicits._
    val l = Seq((1L, 10L)).toDF("k", "t")
    val r = Seq((1L, 10L, "exact")).toDF("rk", "rt", "v")
    val out = AsOfJoinDF.asofLeft(l, r, Seq(l("k")), Seq(r("rk")), l("t"), r("rt"))
      .select($"v").collect().map(_.getString(0))
    assert(out.toSeq === Seq("exact"))
  }

  test("rejects overlapping column names") {
    import spark.implicits._
    val l = Seq((1L, 10L)).toDF("k", "t")
    val r = Seq((1L, 10L)).toDF("k", "rt")
    intercept[IllegalArgumentException] {
      AsOfJoinDF.asofLeft(l, r, Seq(l("k")), Seq(r("k")), l("t"), r("rt"))
    }
  }

  test("d12 pq plan: two capped window exchanges, re-rank rides broadcasts") {
    val planned = physical(operators.Similarity.annPq(spark, sfDir))
    // exactly two hash exchanges: (1) the compressed-scan shortlist window —
    // its literal prank pre-cap keeps the WindowGroupLimit map-side limit on
    // the corpus-sized input; (2) the exact re-rank top-k window over the
    // fraction-sized shortlist. Encode, LUT scoring, and the shortlist's
    // return trip into the second corpus scan all ride broadcasts.
    val corpusShuffles = planned.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if e.outputPartitioning
            .isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] => e
    }
    assert(corpusShuffles.length == 2,
      s"expected 2 hash shuffles (shortlist + re-rank windows), got ${corpusShuffles.length}:\n$planned")
    val s = planned.toString
    assert(s.contains("WindowGroupLimit"),
      s"literal rank caps must push partial group limits below the windows:\n$s")
    // the full-precision re-rank join must be broadcast, never a corpus shuffle
    assert(s.contains("BroadcastHashJoin"),
      s"shortlist must broadcast back into the corpus scan:\n$s")
  }

  test("q31 custom aggregate partial-aggregates below the exchange and works from SQL") {
    val planned = physical(operators.Relational.topkAggQuery(spark, sfDir))
    val txt = planned.toString
    assert(txt.contains("partial_topk_agg"),
      s"TypedImperativeAggregate must run a map-side partial pass:\n$txt")
    // registry: the same aggregate resolves from SQL text
    functions.GraftFunctions.register(spark)
    Tables.events(spark, sfDir).createOrReplaceTempView("ev_topk")
    val viaSql = spark.sql(
      "SELECT event_type, topk_agg(value, 3) AS t FROM ev_topk GROUP BY event_type")
    assert(viaSql.collect().forall(_.getSeq[Double](1).length <= 3))
  }

  test("optimizer rule collapses idempotent NFC normalization chains") {
    import spark.implicits._
    functions.GraftFunctions.register(spark)
    graft.plans.GraftOptimizations.ensure(spark)
    import functions.GraftFunctions.nfcNorm
    // parquet-backed input: a local Seq would be evaluated away wholesale by
    // ConvertToLocalRelation, hiding what the rule did
    val docs = Tables.documents(spark, sfDir)
    val chained = docs.select(nfcNorm(nfcNorm(nfcNorm($"text"))).as("n"))
    def countNfc(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Int = {
      var n = 0
      p.foreach(_.expressions.foreach(_.foreach {
        case e: functions.KernelExpr if e.key == nfcNorm.name => n += 1
        case _ => ()
      }))
      n
    }
    assert(countNfc(chained.queryExecution.analyzed) == 3)
    assert(countNfc(chained.queryExecution.optimizedPlan) == 1,
      s"fixed-point batch must collapse the whole chain:\n${chained.queryExecution.optimizedPlan}")
    // semantics preserved vs the single-pass form
    val single = docs.select(nfcNorm($"text").as("n"))
    assert(chained.collect().map(_.getString(0)).toSeq ===
           single.collect().map(_.getString(0)).toSeq)
  }

  test("topk_agg rejects k < 1 at analysis time and NaN cannot block the buffer") {
    import spark.implicits._
    functions.GraftFunctions.register(spark)
    Seq(1.0).toDF("v").createOrReplaceTempView("tk_guard")
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT topk_agg(v, 0) FROM tk_guard").collect()
    }
    assert(e.getMessage.contains("k must be >= 1"), e.getMessage)
    // one invalid literal per aggregate row, each an analysis error with
    // that row's message (numHashes = 0 would build a filter that
    // contains every string)
    Seq((1.0, "s", 0.5f)).toDF("v", "s", "x").selectExpr("v", "s", "array(x, x) AS e")
      .createOrReplaceTempView("agg_guard")
    for ((call, msg) <- Seq(
        "bloom_agg(s, 1024, 0)" -> "bloom_agg: numHashes must be >= 1, got 0",
        "cms_agg(s, 1L, 0, 512)" -> "cms_agg: depth must be in [1, 64]",
        "vec_mean_agg(e, 0)" -> "vec_mean_agg: dim must be positive")) {
      val err = intercept[org.apache.spark.sql.AnalysisException](
        spark.sql(s"SELECT $call FROM agg_guard"))
      assert(err.getMessage.contains(msg), err.getMessage)
    }
    // Double.compare's total order ranks NaN above everything — it occupies
    // one slot but later larger values still displace the true minimum
    val top = Seq(Double.NaN, 5.0, 3.0, 4.0).toDF("v")
      .agg(functions.GraftFunctions.topkAgg(col("v"), lit(2)).as("t"))
      .collect()(0).getSeq[Double](0)
    assert(top.length == 2 && top(0).isNaN && top(1) == 5.0, top.mkString(","))
  }

  test("d08/d15 ivf cell assignment: corpus rows cross no exchange") {
    import spark.implicits._
    functions.GraftFunctions.register(spark)
    val emb = Tables.embeddings(spark, sfDir).select($"vec_id", $"embedding")
    val assigned = operators.Similarity.assignCells(
      emb, operators.Similarity.collapseCodebook(operators.Similarity.sampledCentroids(emb)))
    val planned = physical(assigned)
    // the only shuffle allowed is a SinglePartition collapse of the
    // constant-capped codebook (and the hash-ranked sampling's
    // TakeOrderedAndProject collapses it with NO exchange at all); the
    // corpus side must go scan -> project with no exchange and no window
    val exchanges = planned.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.forall(_.outputPartitioning ==
             org.apache.spark.sql.catalyst.plans.physical.SinglePartition),
      s"assignment may only shuffle the codebook collapse (SinglePartition):\n$planned")
    val s = planned.toString
    assert(!s.contains("Window"), s"assignment must not use a windowed argmax:\n$s")

    // semantics: the projected argmax agrees with a driver-side brute force
    val cents = operators.Similarity.sampledCentroids(emb)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)
    def cosine(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
        i += 1
      }
      if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val got = assigned.select($"vec_id", $"embedding", $"centroid_id").collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val v = r.getSeq[Float](1).toArray
      val want = cents.maxBy { case (_, ce) => cosine(v, ce) }._1
      assert(r.getLong(2) === want, s"vec ${r.getLong(0)} assigned to wrong cell")
    }
  }

  test("q17 skew-join plan: generate sits only on the dim side, fact unexploded") {
    val planned = physical(operators.Relational.saltedJoin(spark, sfDir))
    val generates = planned.collect {
      case g: org.apache.spark.sql.execution.GenerateExec => g
    }
    assert(generates.length == 1,
      s"exactly one explode (the salted dim), got ${generates.length}")
    // the generate emits only dim columns + salt: the fact side computes its
    // salt arithmetically and is never replicated (the broadcast hot-key
    // sketch beneath the generate references lineitem, but only as a
    // per-key count — no fact payload rides through the explode)
    val outCols = generates.head.output.map(_.name).toSet
    assert(outCols("o_orderkey") && outCols("salt") &&
           !outCols.exists(_.startsWith("l_")),
      s"explode must emit dim columns only, got $outCols")
  }

  test("dynamic partition pruning: a runtime dim filter prunes the partitioned scan") {
    import spark.implicits._
    // fact: documents laid out partition-per-source (the p10 sink layout);
    // dim: a sidecar table whose FLAG — not the join key — selects two
    // sources, so static pushdown cannot prune the fact and only a runtime
    // (DPP) subquery can skip partitions at scan time
    val base = java.nio.file.Files.createTempDirectory("graft_dpp").toString
    Tables.documents(spark, sfDir).write.mode("overwrite")
      .partitionBy("source").parquet(s"$base/fact")
    Tables.documents(spark, sfDir).select($"source").distinct()
      .withColumn("flag", when($"source".isin("src3", "src7"), 1).otherwise(0))
      .write.mode("overwrite").parquet(s"$base/dim")
    val fact = spark.read.parquet(s"$base/fact")
    val dim = spark.read.parquet(s"$base/dim").filter($"flag" === 1)
    val joined = fact.join(dim, "source").groupBy($"source").count()
    val planTxt = joined.queryExecution.executedPlan.toString
    assert(planTxt.contains("dynamicpruning"),
      s"expected a dynamicpruning subquery in the partitioned scan:\n$planTxt")
    val rows = joined.collect()
    assert(rows.map(_.getString(0)).toSet == Set("src3", "src7"))
    // the scan must actually have skipped the other sources' files
    // (descend into AQE query stages — their children lists are empty)
    def scans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
      p.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => scans(q.plan)
      }.flatten
    val factScan = scans(physical(joined))
      .find(_.relation.location.rootPaths.exists(_.toString.contains("fact"))).get
    val totalSources = Tables.documents(spark, sfDir)
      .select($"source").distinct().count()
    val numFiles = factScan.metrics("numFiles").value
    assert(numFiles > 0 && numFiles < totalSources,
      s"DPP did not prune: scanned $numFiles files across $totalSources partitions")
  }

  test("collated strings: UTF8_LCASE groups/joins case-insensitively, engine-native") {
    import spark.implicits._
    // Spark 4 collation: grouping under UTF8_LCASE must merge case variants
    // WITHOUT a lower() rewrite — the collation travels with the type
    val df = Seq("Spark", "SPARK", "spark", "flink", "Flink", "beam")
      .toDF("name")
      .select(expr("collate(name, 'UTF8_LCASE')").as("name"))
    val grouped = df.groupBy($"name").count()
      .collect().map(r => r.getString(0).toLowerCase -> r.getLong(1)).toMap
    assert(grouped == Map("spark" -> 3L, "flink" -> 2L, "beam" -> 1L),
      s"collated grouping wrong: $grouped")
    // equi-join under the collation matches across case
    val dim = Seq(("SPARK", 1L), ("BEAM", 2L)).toDF("name", "id")
      .select(expr("collate(name, 'UTF8_LCASE')").as("name"), $"id")
    val joined = df.join(dim, "name").groupBy($"id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(joined == Map(1L -> 3L, 2L -> 1L), s"collated join wrong: $joined")
    // comparison semantics: equality ignores case, binary identity doesn't
    val eq = Seq(("a", "A")).toDF("x", "y")
      .select((expr("collate(x, 'UTF8_LCASE')") === expr("collate(y, 'UTF8_LCASE')")).as("ci"),
              ($"x" === $"y").as("bin")).head()
    assert(eq.getBoolean(0) && !eq.getBoolean(1))
  }
}
