package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization

/** The one commit protocol for graft's persisted fold state ([[Fold.sink]],
  * [[Streams.indexSink]], [[Streams.chunkFold]]): versioned directories under
  * `root`, published by one manifest rename.
  *  - A commit writes under `root/v=<seq>/`, `seq` being the next manifest
  *    number (never the caller's batch id, which restarts at 0 for every new
  *    streaming query), after clearing an orphan left there by a crash.
  *  - It publishes by renaming a temp manifest onto a fresh `_manifest-<seq>`
  *    (atomic on local FS and HDFS) that lists the live directories, their
  *    schema, the `(writer, batch)` last applied and the fold's scalars.
  *  - It then retires everything under `root` the manifest does not list, so
  *    between commits the `v=*` directories are exactly the live set and a
  *    plain `read.parquet(root)` returns the committed rows plus a `v` column.
  *    A frame read from a version is valid until a later commit retires it.
  *  - A commit at or below the manifest's `(writer, batch)` is a no-op.
  *  - A crash before the rename leaves the prior version readable.
  * One writer per root at a time. Filesystem calls go through Hadoop's API:
  * `java.io.File` is wrong on HDFS/S3 URIs (`exists` is always false there,
  * so a sink gated on it would overwrite its state with each batch alone).
  */
object StateDir {

  /** A published version; `dirs` are relative to the root. */
  final case class Manifest(seq: Long, writer: String, batch: Long, dirs: Seq[String],
                            schema: String, scalars: Map[String, Long])

  /** What a commit publishes: `data` as the new version (one directory per
    * `partitionBy` value if given), plus prior dirs it keeps and scalars. */
  final case class Version(data: DataFrame, partitionBy: Option[String] = None,
                           keep: Seq[String] = Nil, scalars: Map[String, Long] = Map.empty)

  private implicit val formats: Formats = DefaultFormats
  private val Prefix = "_manifest-"

  private def fsOf(s: SparkSession, root: String): (FileSystem, Path) = {
    val r = new Path(root)
    (r.getFileSystem(s.sessionState.newHadoopConf()), r)
  }

  /** The writer id of the streaming query running the current batch. */
  def queryWriter(s: SparkSession): String =
    Option(s.sparkContext.getLocalProperty("sql.streaming.queryId"))
      .getOrElse(throw new IllegalStateException("StateDir: not inside a streaming batch"))

  /** The newest published manifest under `root`; None = empty state. */
  def manifest(s: SparkSession, root: String): Option[Manifest] = {
    val (fs, r) = fsOf(s, root)
    fs.globStatus(new Path(r, s"$Prefix*"))
      .flatMap(_.getPath.getName.stripPrefix(Prefix).toLongOption).maxOption.map { seq =>
      val in = fs.open(new Path(r, Prefix + seq))
      try Serialization.read[Manifest](new String(in.readAllBytes(), UTF_8)) finally in.close()
    }
  }

  /** The newest version's rows, without the `v` column; None = empty state. */
  def read(s: SparkSession, root: String): Option[DataFrame] =
    manifest(s, root).map(read(s, root, _))

  /** `m`'s rows from the live dirs `select` picks (a pruned read). */
  def read(s: SparkSession, root: String, m: Manifest,
           select: String => Boolean = _ => true): DataFrame = {
    val schema = DataType.fromJson(m.schema).asInstanceOf[StructType]
    val dirs = m.dirs.filter(select).map(new Path(root, _).toString)
    if (dirs.isEmpty) s.createDataFrame(s.sparkContext.emptyRDD[Row], schema)
    else s.read.schema(schema).option("basePath", root).parquet(dirs: _*).drop("v")
  }

  /** Commit the version `next` builds from the newest manifest (None when
    * there is none, or when `fresh` starts from an empty state). Returns
    * false, writing nothing, when `(writer, batch)` was already applied;
    * `fresh` skips that gate. */
  def commit(s: SparkSession, root: String, writer: String, batch: Long,
             fresh: Boolean = false)(next: Option[Manifest] => Version): Boolean = {
    val (fs, r) = fsOf(s, root)
    val prior = manifest(s, root)
    val applied = !fresh && prior.exists(m => m.writer == writer && batch <= m.batch)
    if (!applied) {
      val seq = prior.fold(0L)(_.seq + 1)
      val out = new Path(r, s"v=$seq")
      fs.delete(out, true)
      val v = next(prior.filterNot(_ => fresh))
      v.data.write.partitionBy(v.partitionBy.toSeq: _*).parquet(out.toString)
      val written = v.partitionBy.fold(Seq(out.getName))(p =>
        fs.globStatus(new Path(out, s"$p=*")).map(d => s"v=$seq/${d.getPath.getName}").toSeq)
      val m = Manifest(seq, writer, batch, v.keep ++ written, v.data.schema.json, v.scalars)
      val tmp = new Path(r, s".$Prefix$seq")
      val os = fs.create(tmp, true)
      try os.write(Serialization.write(m).getBytes(UTF_8)) finally os.close()
      if (!fs.rename(tmp, new Path(r, Prefix + seq)))
        throw new java.io.IOException(s"StateDir: manifest swap onto $r/$Prefix$seq failed")
      retire(fs, r, m.dirs.toSet + (Prefix + seq))
    }
    !applied
  }

  /** Delete everything under `dir` but `live` (a directory holding live dirs
    * keeps only those). */
  private def retire(fs: FileSystem, dir: Path, live: Set[String], rel: String = ""): Unit =
    fs.listStatus(dir).foreach { st =>
      val p = rel + st.getPath.getName
      if (live.exists(_.startsWith(p + "/"))) retire(fs, st.getPath, live, p + "/")
      else if (!live(p)) fs.delete(st.getPath, true)
    }
}
