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
