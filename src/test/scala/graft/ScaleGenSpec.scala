package graft

/** ScaleGen's argument checks fire before it builds a session, and an
  * in-process run leaves the caller's session running. */
class ScaleGenSpec extends SparkSpec {

  test("ScaleGen with fewer than 3 args fails with its usage line") {
    val e = intercept[IllegalArgumentException](ScaleGen.main(Array("a", "b")))
    assert(e.getMessage.contains("usage"), e.getMessage)
  }

  test("ScaleGen run in-process leaves the caller's session running") {
    val s = spark
    val out = java.nio.file.Files.createTempDirectory("graft_scalegen").toFile
    try {
      ScaleGen.main(Array(sfDir, out.getPath, "2", "replica", "region,customer"))
      assert(!s.sparkContext.isStopped, "ScaleGen stopped a session it did not build")
      val base = s.read.parquet(s"$sfDir/customer.parquet").count()
      assert(s.read.parquet(s"${out.getPath}/customer.parquet").count() == 2 * base)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(out)
  }
}
