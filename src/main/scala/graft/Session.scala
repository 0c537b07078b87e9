package graft

import org.apache.spark.sql.SparkSession

/** The one Spark session profile: every graft main and the spec suite
  * build their session here, so the conf behind a measurement, a verify
  * dump and a plan-shape assert cannot drift apart.
  *
  * `local[cpus]`, shuffle partitions = cpus, a UTC session time zone (NTZ
  * casts are TZ-sensitive), `nanosAsLong` (see [[Tables.events]]) and the
  * UI off. These are also the parquet-inference confs [[Tables]]' schema
  * memo relies on being the same for every session in the JVM.
  */
object Session {
  /** `SPARK_GRAFT_CPUS`, else 32. */
  private def defaultCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  def builder(cpus: Int = defaultCpus): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")

  def local(cpus: Int = defaultCpus): SparkSession = {
    val spark = builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
