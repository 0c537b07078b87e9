package graftbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.ScaleGen
import graft.operators.Render
import graft.streaming.Streams

/** The reference's nightly run. Day 0 publishes the whole corpus: graft's
  * sf0.001 reference documents, scaled up by `ScaleGen` in `realistic` mode.
  * Each seeded delta day edits ~5% of the pages (version + 1) and adds ~0.5%
  * new pages, written as that day's `documents.parquet`; an edited or new
  * page takes its text from a seeded pick of the day-0 pages. Per day the op
  * renders the day's pages with `Render.htmlRender`, appends them through
  * `graft.sources.RenderSink` (one file per page, driver-side commit), and
  * folds the day's (page, version, ts) updates into the `Streams.upsertSink`
  * state with one micro-batch. Every pass starts from an empty output tree
  * and state.
  */
final class Incremental(o: Main.Opts) extends Workload {
  val name = "incremental_publish"
  val Days = 6
  /** ScaleGen replicas of the 500 reference documents: the day-0 corpus. */
  val Scale = 6
  val EditPerMille = 50
  val NewPerMille = 5

  private var dir: File = _
  /** Per day: pages written that day, as (doc_id, version, ts micros). */
  private var updates: IndexedSeq[Seq[(Long, Long, Long)]] = _
  /** The latest rendered page per doc id: the published tree must equal it. */
  private var latestHtml: Map[Long, String] = _
  private val passRoots = mutable.Map.empty[Int, File]
  private val passStats = mutable.Map.empty[Int, (Long, Long)] // state bytes written, update bytes

  private def dayDir(d: Int) = new File(dir, s"day-$d")
  private def updFile(d: Int) = new File(dir, s"updates/day-$d.parquet")

  def generate(spark0: SparkSession, out: File): SparkSession = {
    dir = out
    // ScaleGen is a main: it takes over the session and stops it
    ScaleGen.main(Array(KeySuite.referenceData(o).getPath, dayDir(0).getPath, Scale.toString,
      "realistic", "documents"))
    val spark = Main.session()
    import spark.implicits._

    // (doc_id, text, lang, source)
    val docs0 = spark.read.parquet(s"${dayDir(0)}/documents.parquet")
      .select($"doc_id", $"text", $"lang", $"source").as[(Long, String, String, String)]
      .collect().sortBy(_._1)
    val page = mutable.HashMap.empty[Long, (Long, String, String, String)]
    docs0.foreach(d => page(d._1) = d)
    val version = mutable.LinkedHashMap.empty[Long, Long]
    docs0.foreach(d => version(d._1) = 1L)
    var nextId = docs0.map(_._1).max + 1
    val t0 = 1704067200L * 1000000L // 2024-01-01T00:00:00Z
    val days = mutable.ArrayBuffer[Seq[(Long, Long, Long)]](docs0.map(d => (d._1, 1L, t0)).toSeq)
    val written = mutable.ArrayBuffer.empty[(Int, Long, String, String, String, Long)]
    val rng = new scala.util.Random(o.seed)
    for (d <- 1 to Days) {
      val edited = version.keys.filter(_ => rng.nextInt(1000) < EditPerMille).toSeq
      val added = (0 until math.max(1, version.size * NewPerMille / 1000)).map(nextId + _)
      nextId += added.size
      edited.foreach(id => version(id) += 1)
      added.foreach(id => version(id) = 1L)
      for (id <- edited ++ added) {
        val donor = docs0(rng.nextInt(docs0.length))
        // an edit keeps the page's source; a new page takes the donor's
        val source = page.get(id).map(_._4).getOrElse(donor._4)
        page(id) = (id, donor._2, donor._3, source)
        written += ((d, id, donor._2, donor._3, source, donor._2.length.toLong))
      }
      val ts = t0 + d * 86400L * 1000000L
      days += (edited ++ added).map(id => (id, version(id), ts + id % 1000))
    }
    updates = days.toIndexedSeq
    latestHtml = page.values.map { case (id, text, _, source) =>
      id -> Incremental.render(id, source, text) }.toMap

    // one write per input kind, partitioned by day, then moved into the
    // per-day layout the pipeline reads
    val staged = new File(out, "staged")
    written.toSeq.toDF("day", "doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.partitionBy("day").parquet(s"$staged/docs")
    updates.zipWithIndex.flatMap { case (rows, d) => rows.map { case (id, v, ts) => (d, id, v, ts) } }
      .toDF("day", "user_id", "value", "ts_us")
      .select($"day", $"user_id", $"value", timestamp_micros($"ts_us").as("ts"))
      .coalesce(1).write.partitionBy("day").parquet(s"$staged/updates")

    def part(kind: String, d: Int): File =
      new File(staged, s"$kind/day=$d").listFiles().find(_.getName.endsWith(".parquet")).get
    updFile(0).getParentFile.mkdirs()
    for (d <- updates.indices) {
      if (d > 0) {
        val to = new File(dayDir(d), "documents.parquet")
        to.mkdirs()
        Files.move(part("docs", d).toPath, new File(to, "part-0.parquet").toPath)
      }
      Files.move(part("updates", d).toPath, updFile(d).toPath)
    }
    Incremental.delete(staged)
    spark
  }

  def pass(p: Pass): Unit = {
    val root = new File(o.root, s"pass${p.index}")
    Incremental.delete(root)
    passRoots(p.index) = root
    val pub = new File(root, "published").getPath
    val state = new File(root, "state").getPath
    val inbox = new File(root, "inbox")
    inbox.mkdirs()
    val query: StreamingQuery = Streams.upsertSink(
      p.spark.readStream.schema(Incremental.UpdateSchema).parquet(inbox.getPath), state)
    var lastBatch = -1L
    var stateWritten, updateBytes = 0L
    try for (d <- 0 to Days) {
      p.op(s"day-$d", counted = d > 0) { ph =>
        val df = ph.build("Render.htmlRender")(Render.htmlRender(p.spark, dayDir(d).getPath))
        ph.action("publish") {
          df.select(col("doc_id"), concat(lit("space-"), col("doc_id") % 8).as("space"), col("html"))
            .write.format("graft.sources.RenderSink").option("path", pub).mode("append").save()
        }
        ph.action("fold") {
          val tmp = new File(inbox, s".day-$d.tmp")
          Files.copy(updFile(d).toPath, tmp.toPath)
          Files.move(tmp.toPath, new File(inbox, s"day-$d.parquet").toPath, StandardCopyOption.ATOMIC_MOVE)
          query.processAllAvailable()
        }
        ph.counters.foreach { c =>
          val manifest = new String(Files.readAllBytes(new File(pub, "_MANIFEST").toPath))
          c.publishFiles = "\"files\": (\\d+)".r.findFirstMatchIn(manifest).map(_.group(1).toLong).getOrElse(0L)
          val progress = query.recentProgress.filter(_.batchId > lastBatch)
          progress.foreach { pr =>
            val dur = pr.durationMs.asScala
            c.foldS += dur.get("addBatch").map(_.toLong).getOrElse(0L) / 1e3
            c.triggerS += dur.get("triggerExecution").map(_.toLong).getOrElse(0L) / 1e3
          }
          lastBatch = (lastBatch +: progress.map(_.batchId).toSeq).max
          stateWritten += Incremental.bytes(new File(state))
          updateBytes += updFile(d).length()
        }
        None
      }
    } finally query.stop()
    passStats(p.index) = (stateWritten, updateBytes)
  }

  /** Published tree: exactly one file per page, byte-equal to the render of
    * the page's latest version. State: latest version wins over all updates.
    */
  override def finish(spark: SparkSession, passes: Seq[Pass]): Seq[String] = {
    import spark.implicits._
    val want = updates.flatten.groupBy(_._1).map { case (id, us) => id -> us.maxBy(u => (u._2, u._3)) }
    passes.flatMap { p =>
      val root = passRoots(p.index)
      val files = Incremental.files(new File(root, "published")).filterNot(_.getName == "_MANIFEST")
      val byId = files.groupBy(f => f.getName.stripPrefix("doc_").stripSuffix(".html").toLongOption.getOrElse(-1L))
      val tree = mutable.ArrayBuffer.empty[String]
      if (files.size != latestHtml.size || byId.size != latestHtml.size)
        tree += s"pass ${p.index}: ${files.size} published files for ${latestHtml.size} pages"
      val wrong = latestHtml.count { case (id, html) =>
        !byId.get(id).exists(fs => fs.size == 1 &&
          java.util.Arrays.equals(Files.readAllBytes(fs.head.toPath), html.getBytes("UTF-8")))
      }
      if (wrong > 0) tree += s"pass ${p.index}: $wrong published pages differ from their latest render"
      val got = spark.read.parquet(new File(root, "state").getPath)
        .select($"key".cast("long"), $"version".cast("long"), unix_micros($"ts"))
        .as[(Long, Long, Long)].collect().map(r => r._1 -> r).toMap
      if (got != want) tree += s"pass ${p.index}: folded state (${got.size} keys) != latest-version rebuild " +
        s"(${want.size} keys, ${want.count { case (k, v) => !got.get(k).contains(v) }} differ)"
      tree
    }
  }

  def layerMetrics(traced: Pass, t: Tracer): Seq[(String, Double, String)] = {
    val c = traced.ops.flatMap(op => t.ops.get(op.id))
    val root = passRoots(traced.index)
    // the driver-side commit: publish span end minus the end of its last job
    val commitS = t.spans.filter(_.kind == "publish").map { ph =>
      val jobEnd = t.spans.filter(s => s.kind == "job" && s.parent == ph.id).map(_.endMs)
      if (jobEnd.isEmpty) 0.0 else math.max(0.0, ph.endMs - jobEnd.max) / 1e3
    }.sum
    val deltas = traced.ops.filter(_.counted)
    val changed = updates.drop(1).map(_.size).sum
    val published = c.map(_.publishFiles.toDouble).sum
    val (written, updBytes) = passStats(traced.index)
    Seq(
      ("sources.publish_files", published, "count"),
      ("sources.commit_s", commitS, "s"),
      // files the days' commits published per page written that day (all
      // pages on day 0): above 1.0 when a day republishes unchanged pages
      ("sources.files_per_page", published / updates.map(_.size).sum, "ratio"),
      ("streaming.fold_s", c.map(_.foldS).sum, "s"),
      ("streaming.trigger_s", c.map(_.triggerS).sum, "s"),
      ("streaming.state_bytes", Incremental.bytes(new File(root, "state")).toDouble, "B"),
      ("streaming.write_amp", written.toDouble / updBytes, "ratio"),
      ("incremental.full_load_s", traced.ops.head.seconds, "s"),
      ("incremental.pages_per_s", changed / deltas.map(_.seconds).sum, "1/s"))
  }
}

object Incremental {
  val UpdateSchema: StructType = StructType(Seq(StructField("user_id", LongType),
    StructField("value", LongType), StructField("ts", TimestampType)))

  /** The per-layer metrics only this workload produces; elsewhere they are 0. */
  val absent: Seq[(String, Double, String)] = Seq(
    ("sources.publish_files", "count"), ("sources.commit_s", "s"),
    ("sources.files_per_page", "ratio"), ("streaming.fold_s", "s"),
    ("streaming.trigger_s", "s"), ("streaming.state_bytes", "B"),
    ("streaming.write_amp", "ratio"), ("incremental.full_load_s", "s"),
    ("incremental.pages_per_s", "1/s")).map { case (n, u) => (n, 0.0, u) }

  /** The reference template, written out independently of graft's renderer. */
  def render(id: Long, source: String, text: String): String = {
    val title = s"$source/doc-$id"
    "<!DOCTYPE html>\n<html>\n<head>\n<meta charset=\"UTF-8\">\n" +
      "<meta name=\"viewport\" content=\"width=device-width, initial-scale=1.0\">\n" +
      s"<title>$title</title>\n" +
      "<style>body { font-family: Arial, sans-serif; line-height: 1.6; " +
      "max-width: 1200px; margin: 0 auto; padding: 20px; }</style>\n" +
      s"</head>\n<body>\n<h1>$title</h1>\n<div class=\"content\">\n$text\n</div>\n</body>\n</html>"
  }

  def files(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(files) else if (f.exists()) Seq(f) else Nil

  def bytes(f: File): Long = files(f).map(_.length()).sum

  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(delete)
    f.delete()
  }
}
