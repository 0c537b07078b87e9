package graftbench

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}

import graft.SparkEntry

/** Workloads whose operations are `SparkEntry.queries` keys. One op is the
  * key's public function (build) plus a full consume of its result through
  * the `noop` sink (action). The seed sets the order of the keys.
  */
abstract class KeySuite(o: Main.Opts) extends Workload {
  def keys: Seq[String]
  protected var dataDir: String = _

  private lazy val order = new scala.util.Random(o.seed).shuffle(keys)
  private lazy val expected: (Map[String, Check.Expected], Set[String]) = {
    val j = Json.read(new File(o.home, s"expected/outputs_$name.json"))
    val ops = j.get("ops")
    (ops.fieldNames().asScala.map { k =>
      k -> Check.Expected(ops.get(k).get("rows").asLong, ops.get(k).get("fp").asText)
    }.toMap, j.get("rows_only").elements().asScala.map(_.asText).toSet)
  }
  private val seen = scala.collection.mutable.Map.empty[String, Check.Outcome]

  def pass(p: Pass): Unit = order.foreach { k =>
    p.op(k) { ph =>
      val df = ph.build(k)(SparkEntry.queries(k)(p.spark, dataDir))
      // the result's own analysis ran eagerly inside the build
      ph.counters.foreach(_.analysisS +=
        df.queryExecution.tracker.phases.get("analysis").map(_.durationMs / 1e3).getOrElse(0.0))
      val obs = Observation(s"fp_${p.index}_$k")
      ph.action("consume")(KeySuite.consume(Check.observed(df, obs)))
      val got = Check.outcome(obs)
      seen.get(k).filter(_ != got).foreach(prev =>
        System.err.println(s"[perfbench] $k: output differs between passes: $prev vs $got"))
      seen(k) = got
      Check.mismatch(k, got, expected._1.get(k), expected._2(k))
    }
  }

  def layerMetrics(traced: Pass, t: Tracer): Seq[(String, Double, String)] =
    Incremental.absent

  /** The outputs seen in this run, in the form of the expected-outputs file. */
  override def observed: Option[String] = {
    val ops = keys.sorted.flatMap(k => seen.get(k).map(g =>
      k -> Json.obj(Seq("rows" -> g.rows.toString, "fp" -> Json.str(g.fp)))))
    Some(Json.obj(Seq(
      "rows_only" -> Json.arr(KeySuite.RowsOnly.toSeq.sorted.map(Json.str)),
      "ops" -> Json.obj(ops))))
  }
}

object KeySuite {
  /** Evaluates every output column and keeps the final sort, unlike
    * `count()`, under which Catalyst prunes every computed column.
    */
  def consume(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Approximate-nearest-neighbour keys whose result rows are not unique
    * (ties between equal distances break by partition order), so only the
    * row count is checked.
    */
  val RowsOnly: Set[String] = Set("d06_ann_lsh", "d08_ann_ivf", "d12_ann_pq", "d15_ann_ivf_trained")

  /** Keys that keep fixture stores at fixed paths outside the data directory. */
  val OutsideWriters: Set[String] = Set("m03_binary_ingest", "m04_attachment_dedup",
    "p21_tolerant_ingest")

  /** graft's sf0.001 reference tables, kept with the benchmark. */
  def referenceData(o: Main.Opts): File = new File(o.home, "data/sf0.001")

  /** Copies the reference tables into `dir`, a fresh directory, so the
    * stores graft keys to its data directory start empty on every run.
    */
  def copyReference(o: Main.Opts, dir: File): Unit = {
    dir.mkdirs()
    referenceData(o).listFiles().sortBy(_.getName).foreach(f =>
      Files.copy(f.toPath, new File(dir, f.getName).toPath))
  }

  final class OperatorSuite(o: Main.Opts) extends KeySuite(o) {
    val name = "operator_suite"
    /** A systematic sample: every 18th key of the sorted registry. The whole
      * registry takes minutes per pass, far longer than one run may take.
      */
    def keys: Seq[String] =
      SparkEntry.queries.keys.toSeq.sorted.filterNot(OutsideWriters).drop(17).grouped(18).map(_.head).toSeq
    def generate(spark: SparkSession, dir: File): SparkSession = {
      copyReference(o, dir)
      dataDir = dir.getPath
      spark
    }
  }
}
