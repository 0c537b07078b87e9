package graft

import org.apache.spark.sql.execution.LogicalRDD
import scala.jdk.CollectionConverters._

/** Pins [[Materialize]]'s contract: eager, lineage-truncating, and the only
  * materialization path in `src/main`.
  */
class MaterializeSpec extends SparkSpec {

  test("Materialize is eager: its jobs run before any action on the result") {
    // the scan-only frame has no exchange, so no AQE stage runs it early
    val docs = Tables.documents(spark, sfDir)
    Seq("agg" -> docs.groupBy("source").count(), "scan" -> docs.select("doc_id")).foreach {
      case (shape, df) =>
        val n = jobsRun(s"materialize-eager-$shape")(Materialize(df))
        assert(n >= 1, s"Materialize ran $n jobs while the $shape frame was built")
    }
  }

  test("Materialize truncates lineage: every leaf is a LogicalRDD, no file scan") {
    val plan = Materialize(Tables.documents(spark, sfDir).groupBy("source").count())
      .queryExecution.analyzed
    assert(plan.collectLeaves().forall(_.isInstanceOf[LogicalRDD]), plan.treeString)
  }

  test("Probe plans prints the plan of each query a key's build ran, materialized frames included") {
    import org.apache.spark.sql.execution.ExplainMode
    // d25 counts tokens with array_remove inside its materialized `scored`
    // frame, which the key's own plan reads only as a checkpointed RDD scan
    val key = "d25_token_budget_mix"
    val out = new java.io.ByteArrayOutputStream
    Console.withOut(out)(Probe.plans(spark, Seq(sfDir, key)))
    val printed = out.toString
    val own = SparkEntry.queries(key)(spark, sfDir).queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    assert(!own.contains("array_remove"), own)
    assert(printed.contains("---------- build 1: localCheckpoint ----------"), printed)
    assert(printed.contains("array_remove"), printed)
  }

  test("maskPlan masks what a same-tree rerun changes") {
    val plan = "filter(t#12, lambdafunction(lambda x_58#13 IN (a), lambda x_58#13, false)), " +
      "graft.streaming.TermCensusProcessor@24a5c49e, state info [ checkpoint = , " +
      "runId = 3cc57d63-9ddf-4409-a27a-385ff01f41d8, opId = 0] stateStoreCkptIds = None, " +
      "1792469690245, false"
    assert(Probe.maskPlan(plan) ==
      "filter(t#N, lambdafunction(lambda x_N#N IN (a), lambda x_N#N, false)), " +
      "graft.streaming.TermCensusProcessor@N, state info [ checkpoint = , " +
      "runId = N, opId = 0] stateStoreCkptIds = None, N, false")
  }

  test("Materialize.scala is the only source file in src/main that checkpoints") {
    val root = java.nio.file.Paths.get("src/main")
    val stream = java.nio.file.Files.walk(root)
    val callers = try stream.iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .filter(p => java.nio.file.Files.readString(p).contains("localCheckpoint("))
        .map(root.relativize(_).toString).toSet
      finally stream.close()
    assert(callers == Set("scala/graft/Materialize.scala"), callers.mkString(", "))
  }
}
