package graftbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** graft's benchmark harness.
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --root <fresh run dir> --home <benchmark dir>
  *
  * One process, one client, closed loop: each operation starts after the
  * previous one has finished. Set-up generates the inputs (several times,
  * reporting the median) and runs one warm pass. The untraced run then runs
  * at least two timed passes, more until `--seconds` have elapsed, and
  * reports the end-to-end metrics from each op's best time. The traced run
  * runs a traced pass between two untraced ones and reports the per-layer
  * metrics of the traced pass; its wall minus the untraced walls' mean is the
  * tracing overhead. Every run writes the outputs it observed under
  * `<root>/trace/`, traced runs their spans and per-op counters too. The last
  * stdout line is the result object.
  */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        root: File, home: File)

  /** Set-up repetitions; set-up time is the median. */
  val SetupReps = 3
  /** Timed passes of an untraced run, at least; each op reports its best. */
  val MinPasses = 2

  def parse(args: Array[String]): Opts = {
    val kv = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }
      .toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      new File(need("root")).getAbsoluteFile, new File(need("home")).getAbsoluteFile)
  }

  /** Worker threads: `SPARK_GRAFT_CPUS` (graft's own setting, which
    * ScaleGen reads too), else every available core.
    */
  lazy val cores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors())

  /** Bench's session settings and nothing more. */
  def session(): SparkSession = {
    val cpus = cores.toString
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.size)

  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(Double.NaN)

  def main(args: Array[String]): Unit = {
    val jvmS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val o = parse(args)
    val wl: Workload = o.workload match {
      case "operator_suite" => new KeySuite.OperatorSuite(o)
      case "incremental_publish" => new Incremental(o)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }

    // set-up: fresh inputs SetupReps times, then one warm pass
    var spark: SparkSession = null
    val genS = (1 to SetupReps).map { r =>
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = session()
      val dir = new File(o.root, s"data-$r")
      spark = wl.generate(spark, dir)
      (System.nanoTime() - t0) / 1e9
    }
    val t0 = System.nanoTime()
    val warm = new Pass(spark, -1, None)
    wl.pass(warm)
    warm.done()
    val warmS = (System.nanoTime() - t0) / 1e9
    val setupS = jvmS + median(genS) + warmS
    System.err.println(f"[perfbench] ${o.workload} set-up: jvm $jvmS%.2f s, " +
      f"generate ${genS.map(g => f"$g%.2f").mkString("/")} s, warm $warmS%.2f s")

    val passes = mutable.ArrayBuffer.empty[Pass]
    val tracer = if (o.trace) Some(new Tracer(spark)) else None
    val tStart = System.nanoTime()
    def runPass(tr: Option[Tracer]): Pass = {
      val p = new Pass(spark, passes.size, tr)
      wl.pass(p)
      p.done()
      passes += p
      System.err.println(f"[perfbench] pass ${p.index}${if (tr.isDefined) " (traced)" else ""}: " +
        f"${p.wallS}%.3f s, ${p.ops.size} ops, ${p.ops.count(_.error.isDefined)} failed")
      p
    }
    if (o.trace) {
      // untraced passes on both sides of the traced one, so warm-up over
      // the run does not read as (negative) tracing overhead
      runPass(None)
      tracer.foreach(_.attach())
      runPass(tracer)
      tracer.foreach(_.detach())
      runPass(None)
    } else {
      while (passes.size < MinPasses || (System.nanoTime() - tStart) / 1e9 < o.seconds) runPass(None)
    }

    val ops = passes.flatMap(_.ops)
    val finalErrors = wl.finish(spark, passes.toSeq)
    val errors = ops.flatMap(_.error) ++ finalErrors
    errors.distinct.take(20).foreach(e => System.err.println(s"[perfbench] FAILED $e"))
    wl.observed.foreach(j => Json.write(new File(o.root, s"trace/${o.workload}-outputs.json"), j))

    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) {
        // each op's best time over the passes, as graft.Bench does
        val best = ops.filter(_.counted).groupBy(_.name).values.map(_.map(_.seconds).min).toSeq
        Seq(("setup_s", setupS, "s"),
          ("wall_s", passes.map(_.wallS).min, "s"),
          ("op_p50_s", median(best), "s"),
          ("op_geomean_s", geomean(best), "s"))
      } else {
        val untracedS = (passes(0).wallS + passes(2).wallS) / 2
        val traced = passes(1)
        val t = tracer.get
        val c = traced.ops.flatMap(op => t.ops.get(op.id)).toSeq
        def sum(f: OpCounters => Double) = c.map(f).sum
        val layer = Seq(
          ("trace.wall_s", traced.wallS, "s"),
          ("trace.untraced_wall_s", untracedS, "s"),
          ("trace.overhead_s", traced.wallS - untracedS, "s"),
          ("operators.build_s", traced.ops.map(_.buildS).sum, "s"),
          ("operators.action_s", traced.ops.map(_.actionS).sum, "s"),
          ("driver.analysis_s", sum(_.analysisS), "s"),
          ("driver.optimize_s", sum(_.optimizeS), "s"),
          ("driver.plan_s", sum(_.planS), "s"),
          ("codegen.compiles", sum(_.compiles.toDouble), "count"),
          ("codegen.compile_s", sum(_.compileS), "s"),
          ("scheduler.jobs", sum(_.jobs.toDouble), "count"),
          ("scheduler.stages", sum(_.stages.toDouble), "count"),
          ("scheduler.tasks", sum(_.tasks.toDouble), "count"),
          ("scheduler.delay_s", sum(_.delayS), "s"),
          ("scheduler.task_failures", sum(_.taskFailures.toDouble), "count"),
          ("executor.run_s", sum(_.runS), "s"),
          ("executor.cpu_s", sum(_.cpuS), "s"),
          ("executor.gc_s", sum(_.gcS), "s"),
          ("executor.cpu_util", sum(_.cpuS) / (traced.wallS * cores), "ratio"),
          ("shuffle.write_bytes", sum(_.shuffleWrite.toDouble), "B"),
          ("shuffle.read_bytes", sum(_.shuffleRead.toDouble), "B"),
          ("shuffle.spill_bytes", sum(_.spill.toDouble), "B"),
          ("shuffle.fetch_wait_s", sum(_.fetchWaitS), "s"),
          ("io.input_bytes", sum(_.inputBytes.toDouble), "B"),
          ("storage.blocks_end", if (c.isEmpty) 0.0 else c.map(_.blocksEnd.toDouble).max, "count"),
          ("storage.bytes_end", if (c.isEmpty) 0.0 else c.map(_.bytesEnd.toDouble).max, "B"),
          ("setup.generate_s", median(genS), "s"),
          ("setup.warm_s", warmS, "s"),
          ("jvm.peak_rss_mb", peakRssMb(), "MB"))
        val baseline = Baseline.check(o, traced, t)
        layer ++ wl.layerMetrics(traced, t) ++ Seq(("counters.changed_ops", baseline, "count"))
      }
    if (o.trace) writeTrace(o, tracer.get, passes(1))

    spark.stop()
    val attempted = ops.size
    val failed = ops.count(_.error.isDefined) + finalErrors.size
    val m = metrics.map { case (k, v, u) =>
      k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) }
    println(Json.obj(Seq("correct" -> (if (errors.isEmpty) "true" else "false"),
      "attempted" -> attempted.toString, "failed" -> failed.toString, "metrics" -> Json.obj(m))))
  }

  /** Spans and per-op counters of the traced pass, written at the end. */
  private def writeTrace(o: Opts, t: Tracer, traced: Pass): Unit = {
    val dir = new File(o.root, "trace")
    Json.write(new File(dir, s"${o.workload}-spans.jsonl"), t.spans.map(_.json).mkString("\n"))
    Json.write(new File(dir, s"${o.workload}-counters.json"), Baseline.render(o, traced, t))
    System.err.println(s"[perfbench] ${t.spans.size} spans written to $dir")
  }
}

/** One operation's outcome. `counted` ops feed the per-op latency metrics. */
final case class OpRun(id: String, name: String, seconds: Double, buildS: Double,
                       actionS: Double, error: Option[String], counted: Boolean)

/** One pass over a workload's operations. Index -1 is the warm pass. */
final class Pass(val spark: SparkSession, val index: Int, val tracer: Option[Tracer]) {
  val ops = mutable.ArrayBuffer.empty[OpRun]
  private val t0 = System.nanoTime()
  private var t1 = 0L
  def wallS: Double = ((if (t1 == 0L) System.nanoTime() else t1) - t0) / 1e9
  def done(): Unit = t1 = System.nanoTime()

  final class Phases(val counters: Option[OpCounters]) {
    var buildS, actionS = 0.0
    private def timed[T](kind: String, name: String)(f: => T): (T, Double) = {
      val t = System.nanoTime()
      val r = tracer match {
        case Some(tr) => tr.phase(kind, name)(f)
        case None => f
      }
      (r, (System.nanoTime() - t) / 1e9)
    }
    /** The public-function call, with whatever eager work it does. */
    def build[T](name: String)(f: => T): T = { val (r, s) = timed("build", name)(f); buildS += s; r }
    /** Consume, publish or fold. */
    def action[T](kind: String)(f: => T): T = { val (r, s) = timed(kind, kind)(f); actionS += s; r }
  }

  /** Runs one operation; `body` returns an output-check failure, if any. */
  def op(name: String, counted: Boolean = true)(body: Phases => Option[String]): OpRun = {
    val id = s"p$index.${ops.size}.$name"
    val startMs = tracer.map(_.nowMs).getOrElse(0.0)
    val ph = new Phases(tracer.map(_.beginOp(id, name)))
    val t = System.nanoTime()
    val err = try body(ph) catch {
      case e: Throwable => Some(s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}".take(400))
    }
    val secs = (System.nanoTime() - t) / 1e9
    tracer.foreach(_.endOp(name, startMs))
    val run = OpRun(id, name, secs, ph.buildS, ph.actionS, err, counted)
    System.err.println(f"[perfbench] op $id%-40s $secs%8.3f s${err.fold("")(" FAILED " + _)}")
    ops += run
    run
  }
}

trait Workload {
  def name: String
  /** Writes fresh inputs under `dir`; returns the live session. */
  def generate(spark: SparkSession, dir: File): SparkSession
  def pass(p: Pass): Unit
  /** Checks that need the whole run; each string is a failure. */
  def finish(spark: SparkSession, passes: Seq[Pass]): Seq[String] = Nil
  def layerMetrics(traced: Pass, t: Tracer): Seq[(String, Double, String)]
  /** The outputs this run observed, in the form of the stored expected ones. */
  def observed: Option[String] = None
}

/** The committed per-op deterministic counters and their check. */
object Baseline {
  /** Counters known not to repeat, as `counter` (every op) or `op.counter`.
    * `varyByRun` ones change between runs at the same seed and are never
    * checked: Spark's codegen cache holds 100 entries and is filled from
    * several threads, so whether a plan compiles depends on timing.
    * `varyBySeed` ones change with the seed: some shuffle outputs depend on
    * the key order, and the seed sets how many pages a delta day changes.
    * They are checked at the baseline's own seed only.
    */
  val varyByRun: Map[String, Seq[String]] =
    Seq("operator_suite", "incremental_publish").map(_ -> Seq("compiles")).toMap
  val varyBySeed: Map[String, Seq[String]] = Map(
    "operator_suite" -> Seq("s25_erasure_fold.shuffle_write_bytes",
      "s25_erasure_fold.shuffle_read_bytes", "t31_html_sections.shuffle_write_bytes",
      "t31_html_sections.shuffle_read_bytes"),
    "incremental_publish" -> Seq("files_published", "shuffle_write_bytes", "shuffle_read_bytes"))

  def file(o: Main.Opts) = new File(o.home, s"expected/counters_${o.workload}.json")

  def render(o: Main.Opts, traced: Pass, t: Tracer): String = {
    val perOp = traced.ops.flatMap(op => t.ops.get(op.id).map(c => op.name -> c)).map {
      case (name, c) => name -> Json.obj(c.deterministic.map { case (k, v) => k -> v.toString })
    }
    def list(m: Map[String, Seq[String]]) = Json.arr(m.getOrElse(o.workload, Nil).map(Json.str))
    Json.obj(Seq("seed" -> o.seed.toString, "vary_by_seed" -> list(varyBySeed),
      "vary_by_run" -> list(varyByRun), "ops" -> Json.obj(perOp.toSeq)))
  }

  /** Number of ops whose checked counters differ from the committed ones. */
  def check(o: Main.Opts, traced: Pass, t: Tracer): Double = {
    val base = Json.read(file(o))
    def names(k: String) = base.get(k).elements().asScala.map(_.asText).toSet
    val skip = names("vary_by_run") ++ (if (base.get("seed").asLong == o.seed) Nil else names("vary_by_seed"))
    val want = base.get("ops")
    traced.ops.count { op =>
      val w = Option(want.get(op.name))
      val diffs = t.ops.get(op.id).toSeq.flatMap(_.deterministic).filter { case (k, v) =>
        !skip(k) && !skip(s"${op.name}.$k") && !w.exists(n => n.has(k) && n.get(k).asLong == v)
      }
      diffs.foreach { case (k, v) =>
        System.err.println(s"[perfbench] counter ${op.name}.$k = $v, baseline " +
          w.flatMap(n => Option(n.get(k))).map(_.asText).getOrElse("none"))
      }
      diffs.nonEmpty
    }.toDouble
  }
}
