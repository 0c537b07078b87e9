package graft

import org.apache.spark.sql.SparkSession

/** Filesystem helpers that behave on non-local filesystems. */
object Fs {

  /** Existence check through Hadoop's FileSystem API.
    *
    * `new java.io.File(path).exists()` is ALWAYS false for HDFS/S3 URIs, so
    * a state-merging sink gated on it would silently treat every micro-batch
    * as the first — skipping the merge-with-prior-state read and overwriting
    * the state with only the current batch. Resolving through the session's
    * Hadoop conf makes the check correct on any filesystem the cluster can
    * read (local, HDFS, s3a, ...).
    */
  def exists(s: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(s.sessionState.newHadoopConf()).exists(p)
  }
}
