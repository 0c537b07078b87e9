package graft

/** Bench's timing loop, called directly: its mains stop the session, which
  * would kill the shared spec session.
  */
class BenchSpec extends SparkSpec {

  test("a failed query never reads as a fast success: Bench marks it -1") {
    val Seq(("q01_agg_pricing", ok)) =
      Bench.timeRoundRobin(spark, sfDir, Seq("q01_agg_pricing"), reps = 1)
    assert(ok > 0, s"q01 on $sfDir read $ok")
    val missing = java.nio.file.Files.createTempDirectory("graft_bench").resolve("absent")
    val Seq(("q01_agg_pricing", failed)) =
      Bench.timeRoundRobin(spark, missing.toString, Seq("q01_agg_pricing"), reps = 1)
    assert(failed == -1.0)
  }
}
