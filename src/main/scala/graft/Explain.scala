package graft

/** Plan inspector: `runMain graft.Explain <sfDir> [queryName ...]` prints the
  * formatted physical plan of each named query (default: all) on a 4-core
  * session, through the same loop as `graft.Probe plans`. Used to keep
  * pushdown/broadcast/codegen properties honest while iterating.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Session.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    try Probe.plans(spark, sfDir +: args.drop(1).toSeq) finally spark.stop()
  }
}
