package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{GraftSqlShim, SparkSession}
import org.apache.spark.sql.functions._

/** Dev measurement loops, one main: `runMain graft.Probe <subcommand> ...`.
  *
  *   time <sfDir> <key...> [reps]   times registered queries repeatedly
  *                                  (default 3 reps; several keys share one
  *                                  JVM — query keys never parse as integers)
  *   margin <sfDir>                 per-codebook cohesion margins (d17)
  *   recall <sfDir...> [pqDepth...] per-method ANN recall@K values
  *   dedup-scale <sfDir>            LSH band-bucket occupancy + minhash stage
  *                                  timings (SURVEY §7f)
  *   plans <sfDir> [key...]         each key's formatted physical plan (default:
  *                                  all keys, sorted), through [[maskPlan]]
  *   jobs <sfDir> [key...]          each key's job, stage and task counts as
  *                                  one JSON line (default: all keys, sorted)
  *
  * Every subcommand runs under the [[Session]] profile; an unknown one
  * prints usage and exits 2.
  */
object Probe {
  private val Usage =
    "usage: graft.Probe time <sfDir> <key...> [reps] | margin <sfDir> | " +
      "recall <sfDir...> [pqDepth...] | dedup-scale <sfDir> | plans <sfDir> [key...] | " +
      "jobs <sfDir> [key...]"

  def main(args: Array[String]): Unit = {
    val run: (SparkSession, Seq[String]) => Unit = args.headOption match {
      case Some("time")        => time
      case Some("margin")      => margin
      case Some("recall")      => recall
      case Some("dedup-scale") => dedupScale
      case Some("plans")       => plans
      case Some("jobs")        => jobs
      case _ =>
        System.err.println(Usage)
        sys.exit(2)
    }
    val spark = Session.local()
    try run(spark, args.toSeq.drop(1)) finally spark.stop()
  }

  /** Runs `f` once and prints `<label>: <seconds>s<note(result)>`. */
  private def timed[T](label: String, note: T => String = (_: T) => "")(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    println(f"$label: ${(System.nanoTime() - t0) / 1e9}%.2fs${note(r)}")
    r
  }

  /** Complements Bench when iterating on a single hot operator. */
  private def time(spark: SparkSession, args: Seq[String]): Unit = {
    val dir = args.head
    val (names, reps) = args.tail.lastOption.flatMap(_.toIntOption) match {
      case Some(r) => (args.tail.dropRight(1), r)
      case None    => (args.tail, 3)
    }
    for (name <- names) {
      val fn = SparkEntry.queries(name)
      (1 to reps).foreach { i =>
        timed(s"[time] $name rep $i", (n: Long) => s" ($n rows)")(fn(spark, dir).count())
      }
    }
  }

  private def margin(spark: SparkSession, args: Seq[String]): Unit =
    operators.Similarity.cohesionMargins(spark, args.head).collect()
      .foreach(r => System.err.println(s"[margin] ${r.getString(0)} = ${r.getDouble(1)}"))

  /** Per-method ANN recall@K values (not just the d13 floor booleans) for
    * each sf dir — the measurement loop behind tuning
    * [[graft.operators.Similarity]] probe parameters and setting
    * RecallFloors. Trailing integer args add forced-depth PQ rows: the
    * PqMaxDepth binding-regime measurement — a forced depth d on an
    * n-vector corpus reads out the recall a (PqReRankFrac·N / d)·n-vector
    * production corpus would get once the cap binds at depth d.
    */
  private def recall(spark: SparkSession, args: Seq[String]): Unit = {
    import operators.Similarity
    val (dirs, depthArgs) = args.span(_.toLongOption.isEmpty)
    val pqDepths = depthArgs.map(_.toLong)
    for (dir <- dirs) {
      val exact = Similarity.cosineTopK(spark, dir)
        .select(col("query_id"), col("neighbor_id")).cache()
      val methods = Seq(
        "lsh" -> Similarity.annLsh(spark, dir),
        "ivf" -> Similarity.annIvf(spark, dir),
        "ivf2" -> Similarity.annIvfTrained(spark, dir),
        "pq" -> Similarity.annPq(spark, dir)) ++
        pqDepths.map(d => s"pq@$d" -> Similarity.annPqAtDepth(spark, dir, Some(d)))
      for ((name, df) <- methods) {
        val hits = df.select(col("query_id"), col("neighbor_id"))
          .join(exact, Seq("query_id", "neighbor_id"), "left_semi").count()
        val total = Similarity.K * Similarity.NumQueries
        System.err.println(f"[recall] $dir $name%-5s ${hits.toDouble / total}%.2f")
      }
      exact.unpersist()
    }
  }

  /** Prints `========== <key> ==========` and the key's masked
    * `.explain("formatted")`, one key at a time: the before/after evidence
    * that a refactor left every plan as it was. The plans carry the
    * session's shuffle-partition count, so compare runs at the same
    * `SPARK_GRAFT_CPUS`. [[graft.Explain]] is this loop on a 4-core session.
    */
  private[graft] def plans(spark: SparkSession, args: Seq[String]): Unit = {
    val dir = args.head
    val keys = if (args.length > 1) args.tail else SparkEntry.queries.keys.toSeq.sorted
    for (key <- keys) {
      println(s"========== $key ==========")
      println(maskPlan(SparkEntry.queries(key)(spark, dir).queryExecution
        .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))))
    }
  }

  /** Prints, per key, `{"key", "build_jobs", "jobs", "stages", "tasks"}` on
    * one line: the jobs run while the DataFrame is built, then the jobs,
    * completed stages and ended tasks of build plus a `noop`-sink consume.
    * The listener bus is drained before each read. Keys run one at a time,
    * so every event between two reads belongs to the key in between. With
    * [[plans]], the before/after evidence that a refactor left the work
    * each key does as it was.
    */
  private def jobs(spark: SparkSession, args: Seq[String]): Unit = {
    val dir = args.head
    val keys = if (args.length > 1) args.tail else SparkEntry.queries.keys.toSeq.sorted
    val sc = spark.sparkContext
    val (jobN, stageN, taskN) = (new AtomicLong, new AtomicLong, new AtomicLong)
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobN.incrementAndGet()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stageN.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = taskN.incrementAndGet()
    })
    def counts: (Long, Long, Long) = {
      GraftSqlShim.drainListenerBus(sc)
      (jobN.get, stageN.get, taskN.get)
    }
    for (key <- keys) {
      val (j0, s0, t0) = counts
      val df = SparkEntry.queries(key)(spark, dir)
      val built = counts._1
      df.write.format("noop").mode("overwrite").save()
      val (j1, s1, t1) = counts
      println(s"""{"key": "$key", "build_jobs": ${built - j0}, "jobs": ${j1 - j0}, """ +
        s""""stages": ${s1 - s0}, "tasks": ${t1 - t0}}""")
    }
  }

  /** Masks what differs between two runs of the same plan: expression ids,
    * exchange `plan_id`s, Scala lambda object names, RDD ids together with
    * their `<op> at <File>.scala:<line>` call sites, and the `v=<seq>`
    * version directories of persisted fold state.
    */
  def maskPlan(plan: String): String = plan
    .replaceAll("#\\d+", "#N")
    .replaceAll("plan_id=\\d+", "plan_id=N")
    .replaceAll("\\$Lambda[^@\\s]*@[0-9a-f]+", "\\$Lambda")
    .replaceAll("RDD\\[\\d+\\] at (\\w+) at ([\\w$.]+\\.scala):\\d+", "RDD[N] at $1 at $2:N")
    .replaceAll("/v=\\d+/", "/v=N/")

  /** Measurement loop behind the d02/m09 band-bucket occupancy analysis
    * (SURVEY §7f): reports the LSH band-bucket size distribution and times
    * each stage of the minhash pair view at a given scale point, so the
    * "collision density grows with the corpus" trend is measured, not
    * guessed.
    */
  private def dedupScale(spark: SparkSession, args: Seq[String]): Unit = {
    import spark.implicits._
    val dir = args.head

    val sigs = operators.Dedup.probeSignatures(spark, dir).cache()
    val nDocs = timed("[probe] signatures")(sigs.count())
    println(s"[probe] docs: $nDocs")

    val banded = operators.Dedup.probeBands(sigs).cache()
    timed("[probe] banding")(banded.count())

    val occ = banded.groupBy($"band_id", $"band_key").agg(count(lit(1)).as("c")).cache()
    timed("[probe] bucket occupancy") {
      val stats = occ.agg(
        count(lit(1)).as("n_buckets"),
        max($"c").as("max_c"),
        expr("percentile_approx(c, array(0.5, 0.9, 0.99, 0.999), 10000)").as("q"),
        sum(when($"c" > 1, $"c" * (operators.Dedup.NeighborWindow: Int))
          .otherwise(0L)).as("pair_upper_bound"),
        // what an EXHAUSTIVE bucket self-join (successorWindow = None — the
        // d31-class pair views) would materialize: sum c·(c−1)/2. The gap
        // between this and pair_upper_bound is the quadratic-vs-linear
        // spread that decides which keys are gateable at a scale point.
        sum($"c" * ($"c" - 1) / 2).cast("long").as("exhaustive_pairs"),
        sum(when($"c" > 1000, 1L).otherwise(0L)).as("buckets_gt_1k"),
        sum(when($"c" > 10000, 1L).otherwise(0L)).as("buckets_gt_10k"),
        sum(when($"c" > 100000, 1L).otherwise(0L)).as("buckets_gt_100k")
      ).head()
      println(s"[probe] occupancy: $stats")
      occ.orderBy($"c".desc).limit(10).collect()
        .foreach(r => println(s"[probe] hot bucket: $r"))
    }

    timed("[probe] full d02")(operators.Dedup.minhashLsh(spark, dir).count())
  }
}
