package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (the [[Session]] profile at 4
  * cpus); sf0.001 data. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  val sfDir = "/root/testdata/sf0.001"
  lazy val spark: SparkSession = SparkSpec.session

  /** Formatted physical plan of a registered query, for plan-shape asserts. */
  def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.queryExecution.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
  }

  /** Jobs `body` ran, counted under job group `group` once the listener bus
    * has drained (the status tracker is listener-fed). */
  def jobsRun(group: String)(body: => Any): Int = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try body finally sc.clearJobGroup()
    org.apache.spark.sql.GraftSqlShim.drainListenerBus(sc)
    sc.statusTracker.getJobIdsForGroup(group).length
  }

  /** Physical plan with the AQE wrapper peeled (pre-execution initial plan). */
  def physical(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.execution.SparkPlan =
    df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }

  /** All shuffle exchanges, recursing into AQE query stages (whose children
    * lists are empty). */
  def deepExchanges(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec] =
    p.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => Seq(e)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => deepExchanges(q.plan)
    }.flatten

  /** Whether any leaf scan under p (recursing into query stages) reads a
    * table/path whose description contains `marker`. */
  def scansTable(p: org.apache.spark.sql.execution.SparkPlan, marker: String): Boolean =
    p.collectLeaves().exists(_.toString.contains(marker)) ||
      p.collect {
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          scansTable(q.plan, marker)
      }.exists(identity)
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = Session.builder(4)
      .appName("graft-test")
      .config("spark.sql.warehouse.dir",
              java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
