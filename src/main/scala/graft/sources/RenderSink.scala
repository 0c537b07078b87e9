package graft.sources

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The WRITE side of the custom-connector story (PagedSource is the read
  * side): a DSv2 batch sink modeling the reference's rendered-output store
  * (/root/reference/output_generator/html_generator.py:24-200 writes one
  * HTML file per page; /root/reference/master_script.py:157-211 organizes
  * them into per-space directories). Spark-first mapping:
  *
  *   - one page            -> one file `space=<space>/doc_<id>.html`,
  *                            written by whichever executor holds the row
  *                            (the reference writes sequentially)
  *   - output dirs by space-> the same layout a partitioned sink produces,
  *                            so downstream readers partition-prune on it
  *   - "did the run finish"-> a commit protocol instead of hope: tasks
  *                            stage into per-attempt directories, the job
  *                            commit publishes them and writes a _MANIFEST
  *                            with the file count; failed/speculative
  *                            attempts abort and leave nothing behind
  *   - filename safety     -> t02's sanitization rule applied to the space
  *                            component (the reference sanitizes titles the
  *                            same way, html_generator.py:284)
  *
  * mode("overwrite") maps to DSv2 truncate: the commit replaces existing
  * space dirs atomically-per-directory; mode("append") adds files. On an
  * object store the staging dir becomes a key prefix and the publish step
  * a manifest swap — the protocol shape is unchanged.
  *
  * Usage:
  *   df.select($"doc_id", $"space", $"html")
  *     .write.format("graft.sources.RenderSink")
  *     .option("path", dir).mode("overwrite").save()
  */
class RenderSink extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = RenderSink.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table = {
    val path = properties.get("path")
    if (path == null || path.isEmpty)
      throw new IllegalArgumentException("graft.sources.RenderSink requires option 'path'")
    new RenderTable(path)
  }
}

object RenderSink {
  val Schema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("space", StringType, nullable = false),
    StructField("html", StringType, nullable = false)))

  private[sources] def requireWritableShape(schema: StructType): Unit = {
    val ok = Schema.fields.forall { f =>
      schema.fields.exists(g => g.name == f.name && g.dataType == f.dataType)
    } && schema.fields.length == Schema.fields.length
    if (!ok)
      throw new UnsupportedOperationException(
        s"graft.sources.RenderSink expects ${Schema.simpleString}, got ${schema.simpleString}")
  }

  /** t02's filename rule, applied to path components we fabricate. */
  private[sources] def sanitize(s: String): String =
    s.replaceAll("[^A-Za-z0-9._-]", "_")
}

class RenderTable(path: String) extends Table with SupportsWrite {
  override def name(): String = s"graft_render_sink($path)"
  override def schema(): StructType = RenderSink.Schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    RenderSink.requireWritableShape(info.schema())
    // column order in the incoming rows may differ from the canonical
    // schema — resolve the accessors by name once, at planning time
    val idx = RenderSink.Schema.fields.map(f => info.schema().fieldIndex(f.name))
    new WriteBuilder with SupportsTruncate {
      private var doTruncate = false
      override def truncate(): WriteBuilder = { doTruncate = true; this }
      override def build(): Write = new Write {
        override def toBatch: BatchWrite = new RenderBatchWrite(
          path, info.queryId(), idx(0), idx(1), idx(2), doTruncate)
      }
    }
  }
}

/** Commit protocol: tasks stage files under
  * `<path>/.staging-<queryId>/<task>-<attempt>/space=<s>/doc_<id>.html`;
  * the driver-side commit (optionally truncating prior space dirs first)
  * moves every COMMITTED attempt's space dirs into place and writes
  * `_MANIFEST` with the published file count. Uncommitted attempts are
  * never visible; abort removes the whole staging prefix.
  */
class RenderBatchWrite(path: String, queryId: String, idI: Int, spaceI: Int,
                       htmlI: Int, truncate: Boolean)
    extends BatchWrite with Serializable {
  private def staging = new java.io.File(path, s".staging-$queryId")

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new RenderWriterFactory(path, queryId, idI, spaceI, htmlI)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val target = new java.io.File(path)
    target.mkdirs()
    if (truncate)
      Option(target.listFiles()).getOrElse(Array.empty[java.io.File])
        .filter(f => f.getName.startsWith("space=") || f.getName == "_MANIFEST")
        .foreach(FileUtils.deleteQuietly)
    var published = 0L
    messages.collect { case m: RenderCommitMessage => m }.foreach { m =>
      val attempt = new java.io.File(m.attemptDir)
      Option(attempt.listFiles()).getOrElse(Array.empty[java.io.File]).foreach { spaceDir =>
        val dst = new java.io.File(target, spaceDir.getName)
        dst.mkdirs()
        Option(spaceDir.listFiles()).getOrElse(Array.empty[java.io.File]).foreach { f =>
          val to = new java.io.File(dst, f.getName)
          if (!f.renameTo(to)) {
            // same-name collision can only be a duplicate of the same row
            // (file names are keyed by doc_id); last-in wins deterministically
            to.delete()
            if (!f.renameTo(to))
              throw new java.io.IOException(s"publish failed: $f -> $to")
          }
          published += 1
        }
      }
    }
    java.nio.file.Files.writeString(new java.io.File(target, "_MANIFEST").toPath,
      s"""{"files": $published, "query_id": "$queryId"}""" + "\n")
    FileUtils.deleteQuietly(staging)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = FileUtils.deleteQuietly(staging)
}

class RenderWriterFactory(path: String, queryId: String, idI: Int, spaceI: Int,
                          htmlI: Int) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new RenderDataWriter(path, queryId, partitionId, taskId, idI, spaceI, htmlI)
}

case class RenderCommitMessage(attemptDir: String) extends WriterCommitMessage

class RenderDataWriter(path: String, queryId: String, partitionId: Int,
                       taskId: Long, idI: Int, spaceI: Int, htmlI: Int)
    extends DataWriter[InternalRow] {
  // taskId is unique per attempt, so speculative/retried attempts stage
  // side by side and only the committed one is ever published
  private val attemptDir =
    new java.io.File(new java.io.File(path, s".staging-$queryId"), s"$partitionId-$taskId")

  override def write(row: InternalRow): Unit = {
    val space = RenderSink.sanitize(row.getUTF8String(spaceI).toString)
    val dir = new java.io.File(attemptDir, s"space=$space")
    dir.mkdirs()
    java.nio.file.Files.write(
      new java.io.File(dir, s"doc_${row.getLong(idI)}.html").toPath,
      row.getUTF8String(htmlI).getBytes)
  }

  override def commit(): WriterCommitMessage = RenderCommitMessage(attemptDir.getPath)

  override def abort(): Unit = FileUtils.deleteQuietly(attemptDir)

  override def close(): Unit = ()
}
