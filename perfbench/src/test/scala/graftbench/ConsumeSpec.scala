package graftbench

import org.apache.spark.graftbench.BusShim
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry

/** The benchmark's consume step must run the work a user gets: for the text
  * transforms t01 and t09 the per-row `regexp_replace` projections survive
  * into the consumed plan, while `count()` (what `graft.Bench` times) prunes
  * them away.
  */
class ConsumeSpec extends AnyFunSuite {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** graft's sf0.001 reference tables, kept with the benchmark. */
  private val dir = new java.io.File("data/sf0.001").getAbsolutePath

  /** The optimized plan of the one query `action` runs. */
  private def planOf(action: => Unit): String = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = plans.add(qe.optimizedPlan.toString)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try { action; BusShim.drain(spark.sparkContext) }
    finally spark.listenerManager.unregister(l)
    assert(plans.size == 1)
    plans.peek()
  }

  for (key <- Seq("t01_html_clean", "t09_pii_redact")) {
    test(s"$key: the consumed plan keeps regexp_replace and the sort; count() drops them") {
      val d = dir
      def df: DataFrame = SparkEntry.queries(key)(spark, d)
      val consumed = planOf(KeySuite.consume(df))
      val counted = planOf(df.count())
      assert(consumed.contains("regexp_replace"), consumed)
      assert(consumed.contains("Sort "), consumed)
      assert(!counted.contains("regexp_replace"), counted)
    }
  }
}
