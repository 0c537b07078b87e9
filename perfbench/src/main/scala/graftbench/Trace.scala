package graftbench

import scala.collection.mutable

import org.apache.spark.graftbench.BusShim
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-operation counters of the traced run. Times are in seconds. */
final class OpCounters {
  var jobs, stages, tasks, taskFailures = 0L
  var delayS, runS, cpuS, gcS = 0.0
  var shuffleWrite, shuffleRead, spill, inputBytes = 0L
  var fetchWaitS = 0.0
  var analysisS, optimizeS, planS = 0.0
  var compiles = 0L
  var compileS = 0.0
  var blocksEnd, bytesEnd = 0L
  var publishFiles = 0L
  var foldS, triggerS = 0.0

  /** The counters the committed baseline holds per operation; the ones
    * that do not repeat are named in [[Baseline]].
    */
  def deterministic: Seq[(String, Long)] = Seq(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "compiles" -> compiles,
    "shuffle_write_bytes" -> shuffleWrite, "shuffle_read_bytes" -> shuffleRead,
    "files_published" -> publishFiles)
}

final case class Span(op: String, id: String, parent: String, kind: String, name: String,
                      startMs: Double, endMs: Double) {
  def json: String = Json.obj(Seq("op" -> Json.str(op), "id" -> Json.str(id),
    "parent" -> Json.str(parent), "kind" -> Json.str(kind), "name" -> Json.str(name),
    "start_ms" -> f"$startMs%.3f", "end_ms" -> f"$endMs%.3f"))
}

/** Outside instrumentation for the traced run: a SparkListener (jobs,
  * stages, tasks, task metrics), a QueryExecutionListener (planning phase
  * timings), codegen metric deltas and the block manager's storage report,
  * all attributed to the benchmark operation that was running.
  *
  * The benchmark's own code opens the spans: op -> build (the public-function
  * call) -> action (consume, publish or fold). Jobs hang under the phase span
  * that submitted them and stages under their job. The benchmark sets the
  * operation's id as the Spark job group, which links each job to its op;
  * jobs of a streaming query carry the query's own group and are linked to
  * the op that was running. Spans are kept in memory and written at the end.
  */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  val ops = mutable.LinkedHashMap.empty[String, OpCounters]

  // listener-thread state, guarded by `this`
  private var current: (String, OpCounters) = _
  private val phases = mutable.ArrayBuffer.empty[Span]
  private val jobOp = mutable.HashMap.empty[Int, (String, OpCounters)]
  private val jobStart = mutable.HashMap.empty[Int, (Long, String, String)]
  private val stageJob = mutable.HashMap.empty[Int, Int]

  private val epochMs0 = System.currentTimeMillis().toDouble
  private val nanos0 = System.nanoTime()
  def nowMs: Double = epochMs0 + (System.nanoTime() - nanos0) / 1e6

  private var codegen0 = (0L, 0L)

  def attach(): Unit = {
    sc.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(): Unit = {
    BusShim.drain(sc)
    spark.listenerManager.unregister(this)
    sc.removeSparkListener(this)
  }

  def beginOp(opId: String, name: String): OpCounters = synchronized {
    val c = new OpCounters
    ops(opId) = c
    current = (opId, c)
    phases.clear()
    sc.setJobGroup(opId, name, interruptOnCancel = false)
    codegen0 = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
    c
  }

  /** A phase span of the running op; jobs submitted inside it hang under it. */
  def phase[T](kind: String, name: String)(f: => T): T = {
    val (opId, _) = synchronized(current)
    val id = s"$opId/$kind"
    sc.setLocalProperty(Tracer.SpanProp, id)
    val t0 = nowMs
    // open until it ends, so jobs that start meanwhile find it
    val open = Span(opId, id, opId, kind, name, t0, Double.MaxValue)
    synchronized(phases += open)
    try f finally {
      val sp = open.copy(endMs = nowMs)
      synchronized { phases(phases.indexOf(open)) = sp; spans += sp }
      sc.setLocalProperty(Tracer.SpanProp, null)
    }
  }

  def endOp(name: String, startMs: Double): OpCounters = {
    BusShim.drain(sc)
    val (opId, c) = synchronized(current)
    c.compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - codegen0._1
    c.compileS = (CodeGenerator.compileTime - codegen0._2) / 1e9
    val storage = sc.getRDDStorageInfo
    c.blocksEnd = storage.map(_.numCachedPartitions.toLong).sum
    c.bytesEnd = storage.map(r => r.memSize + r.diskSize).sum
    sc.clearJobGroup()
    synchronized {
      spans += Span(opId, opId, "", "op", name, startMs, nowMs)
      current = null
    }
    c
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (current != null) {
      val props = Option(e.properties)
      val group = props.flatMap(p => Option(p.getProperty(SparkContextGroupProp)))
      val op = group.flatMap(g => ops.get(g).map(g -> _)).getOrElse(current)
      op._2.jobs += 1
      jobOp(e.jobId) = op
      // a job from another thread (a streaming query's) may carry a stale
      // span property; it hangs under the phase it started in
      val parent = props.flatMap(p => Option(p.getProperty(Tracer.SpanProp)))
        .filter(sp => group.contains(op._1) && sp.startsWith(op._1 + "/"))
        .orElse(phases.findLast(s => s.startMs <= e.time + 1 && e.time <= s.endMs + 1).map(_.id))
        .orElse(phases.lastOption.map(_.id))
        .getOrElse(op._1)
      jobStart(e.jobId) = (e.time, parent, op._1)
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (t0, parent, opId) =>
      spans += Span(opId, s"$opId/job-${e.jobId}", parent, "job", s"job ${e.jobId}",
        t0.toDouble, e.time.toDouble)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    for (job <- stageJob.get(si.stageId); (opId, c) <- jobOp.get(job)) {
      c.stages += 1
      spans += Span(opId, s"$opId/stage-${si.stageId}.${si.attemptNumber()}",
        s"$opId/job-$job", "stage", si.name,
        si.submissionTime.getOrElse(0L).toDouble, si.completionTime.getOrElse(0L).toDouble)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (job <- stageJob.get(e.stageId); (_, c) <- jobOp.get(job)) {
      c.tasks += 1
      val info = e.taskInfo
      if (info.failed) c.taskFailures += 1
      val m = e.taskMetrics
      if (m != null) {
        c.runS += m.executorRunTime / 1e3
        c.cpuS += m.executorCpuTime / 1e9
        c.gcS += m.jvmGCTime / 1e3
        c.delayS += math.max(0L, info.duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - (if (info.gettingResultTime > 0)
            info.finishTime - info.gettingResultTime else 0L)) / 1e3
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.fetchWaitS += m.shuffleReadMetrics.fetchWaitTime / 1e3
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.inputBytes += m.inputMetrics.bytesRead
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      if (current != null) {
        val c = current._2
        val p = qe.tracker.phases
        def s(k: String) = p.get(k).map(_.durationMs / 1e3).getOrElse(0.0)
        c.analysisS += s("analysis")
        c.optimizeS += s("optimization")
        c.planS += s("planning")
      }
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  private val SparkContextGroupProp = "spark.jobGroup.id"
}

object Tracer {
  val SpanProp = "graftbench.span"
}
