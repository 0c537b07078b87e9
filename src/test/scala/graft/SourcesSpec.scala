package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._

/** Source/sink plumbing: json + csv round-trips and throttled incremental
  * file-stream ingestion (the Spark-native analogue of the reference's API
  * rate limiting, confluence_client.py:94-235).
  */
class SourcesSpec extends SparkSpec {

  test("documents round-trip through jsonl and csv sources") {
    val docs = Tables.documents(spark, sfDir).orderBy("doc_id")
    val jdir = Files.createTempDirectory("graft_json").toString + "/docs"
    docs.write.mode("overwrite").json(jdir)
    val fromJson = spark.read.json(jdir)
    assert(fromJson.count() == docs.count())
    assert(fromJson.select("doc_id", "text", "source").orderBy("doc_id")
      .collect().toSeq == docs.select("doc_id", "text", "source").collect().toSeq)

    val cdir = Files.createTempDirectory("graft_csv").toString + "/docs"
    docs.write.mode("overwrite").option("header", "true").csv(cdir)
    val fromCsv = spark.read.option("header", "true").option("inferSchema", "true").csv(cdir)
    assert(fromCsv.count() == docs.count())

    val odir = Files.createTempDirectory("graft_orc").toString + "/docs"
    docs.write.mode("overwrite").orc(odir)
    val fromOrc = spark.read.orc(odir)
    assert(fromOrc.select("doc_id", "text", "source").orderBy("doc_id")
      .collect().toSeq == docs.select("doc_id", "text", "source").collect().toSeq)
  }

  test("documents round-trip through the native XML source; storage-format markup parses structured") {
    import spark.implicits._
    // the reference's page bodies ARE XML (Confluence storage format is
    // XHTML with ac:/ri: namespaced macros — html_cleaner.py:47-193 parses
    // it with regexes); Spark 4 ships a native XML source, so the engine
    // covers the format as a first-class source, not just via string ops
    val docs = Tables.documents(spark, sfDir)
      .select($"doc_id", $"source", $"text").orderBy("doc_id")
    val xdir = Files.createTempDirectory("graft_xml").toString + "/docs"
    docs.write.mode("overwrite").option("rowTag", "page").format("xml").save(xdir)
    val back = spark.read.option("rowTag", "page").format("xml").load(xdir)
    assert(back.select("doc_id", "source", "text").orderBy("doc_id")
      .collect().toSeq == docs.collect().toSeq,
      "XML round-trip must preserve every page body byte-for-byte")

    // structured extraction of the ac:image/ri:attachment macro — the
    // schema-on-read path the regex rewrite (t11) trades away
    val frag = docs.limit(50).select($"doc_id",
      concat(lit("<ac:image ac:width=\""), ($"doc_id" % 800 + 100).cast("string"),
             lit("\"><ri:attachment ri:filename=\"img"), $"doc_id",
             lit(".png\"/></ac:image>")).as("markup"))
    val parsed = frag.select($"doc_id",
      expr("from_xml(markup, 'struct<`_ac:width`: long, `ri:attachment`: struct<`_ri:filename`: string>>')")
        .as("img"))
      .select($"doc_id", $"img._ac:width".as("width"),
              $"img.`ri:attachment`.`_ri:filename`".as(("filename")))
    assert(parsed.filter($"filename" =!= concat(lit("img"), $"doc_id", lit(".png"))).isEmpty,
      "namespaced attribute extraction must recover the attachment filename")
    assert(parsed.filter($"width" =!= $"doc_id" % 800 + 100).isEmpty,
      "numeric macro attributes must parse typed")
  }

  test("custom DSv2 paged source: partition-per-page, pushdown prunes pages") {
    import spark.implicits._
    val read = spark.read.format("graft.sources.PagedSource")
      .option("pages", "8").option("pagesize", "100")
    // full scan: every page, every row, deterministic content
    val all = read.load()
    assert(all.count() == 800)
    assert(all.filter($"id" === 123).select($"body").head().getString(0) == "body-123")

    // predicate pushdown prunes whole pages at planning time (the CQL
    // filter analogue): ids 650..800 live in pages 6 and 7 only
    val filtered = read.load().filter($"id" >= 650)
    assert(filtered.count() == 150)
    val plan = physical(filtered).toString
    assert(plan.contains("pages=2/8"), s"expected 2 surviving pages in:\n$plan")
    assert(plan.contains("GreaterThanOrEqual(id,650)"), s"filter must reach the scan:\n$plan")

    // column pruning reaches the reader: the scan outputs only `id`
    val pruned = read.load().select($"id").filter($"id" < 100)
    val scanOut = physical(pruned).collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.output.map(_.name)
    }.flatten
    assert(scanOut == Seq("id"), s"scan must emit only the pruned column, got $scanOut")
    assert(pruned.count() == 100)
  }

  test("paged source secured connection: credential reaches readers but never plan text") {
    import spark.implicits._
    val secret = "tok-5up3r-53cr3t"
    val read = spark.read.format("graft.sources.PagedSource")
      .option("pages", "4").option("pagesize", "50").option("token", secret).load()
    // the credential must not leak into ANY rendering of the plan
    val df = read.filter($"id" < 120)
    assert(df.count() == 120)
    val renderings = Seq(
      df.queryExecution.explainString(org.apache.spark.sql.execution.ExtendedMode),
      df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode),
      physical(df).toString)
    renderings.foreach { r =>
      assert(!r.contains(secret), s"credential leaked into plan:\n${r.take(800)}")
    }
    assert(renderings.exists(_.contains(graft.sources.PagedSource.Redacted)),
      "scan description must mark redacted auth")
    // ...while every reader factory still carries it live (the encrypted
    // cookie-jar contract: persisted session auth survives re-instantiation)
    (1 to 2).foreach { _ =>
      val scan = new graft.sources.PagedScanBuilder(4, 50, secret).build()
      val factory = scan.toBatch.createReaderFactory()
      assert(factory.asInstanceOf[graft.sources.PagedReaderFactory].liveCredential == secret)
    }
    // unauthenticated reads say so (presence is visible, value never is)
    val noauth = spark.read.format("graft.sources.PagedSource")
      .option("pages", "2").load()
    assert(physical(noauth).toString.contains("auth=none"))
  }

  test("paged source rejects a user-supplied schema at planning time") {
    val bad = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.StringType)))
    val e = intercept[Exception] {
      spark.read.format("graft.sources.PagedSource").schema(bad).load().collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: messages(x.getCause))
    assert(messages(e).exists(m => m != null &&
        (m.contains("user-specified schema") || m.contains("user specified schema"))),
      s"expected a planning-time schema rejection, got: $e")
  }

  test("p21 tolerant ingestion routes planted corrupt lines instead of failing") {
    val docs = Tables.documents(spark, sfDir)
    val total = docs.count()
    val planted = docs.filter(col("doc_id") % 13 === 5).count()
    assert(planted > 0, "fixture must actually plant corrupt lines")
    val out = SparkEntry.queries("p21_tolerant_ingest")(spark, sfDir).collect()
    val n = out.map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(n("corrupt") == planted, s"every truncated line must surface as corrupt: $n")
    assert(n("parsed") == total - planted, s"all intact lines must parse: $n")
    // parsed payloads survive intact: id checksum matches the source table
    val idSum = out.find(_.getString(0) == "parsed").get.getLong(2)
    val expect = docs.filter(col("doc_id") % 13 =!= 5)
      .agg(sum("doc_id")).collect()(0).getLong(0)
    assert(idSum == expect)
  }

  test("file stream with maxFilesPerTrigger ingests incrementally (rate limiting)") {
    val s = spark
    import s.implicits._
    val srcDir = Files.createTempDirectory("graft_stream_src").toString
    // three separate files = three "API pages"
    (0 until 3).foreach { i =>
      Tables.documents(s, sfDir).filter($"doc_id" % 3 === i)
        .coalesce(1).write.mode("append").parquet(srcDir)
    }
    val schema = Tables.documents(s, sfDir).schema
    val batchSizes = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(srcDir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batchSizes.synchronized { batchSizes += batch.count() }: Unit
      }
      .start()
    try {
      q.processAllAvailable()
      val total = Tables.documents(s, sfDir).count()
      assert(batchSizes.sum == total, s"lost rows: $batchSizes")
      assert(batchSizes.length >= 3, s"throttle ignored: ${batchSizes.length} batches")
    } finally q.stop()
  }

  test("range-partitioned sorted layout writes non-overlapping time ranges") {
    import spark.implicits._
    // sort-clustered layout: repartitionByRange + sortWithinPartitions gives
    // each output file a disjoint ts range, so parquet row-group stats prune
    // time-slice queries to one file instead of scanning the table — the
    // layout a 100 TB event store is written in
    val out = java.nio.file.Files.createTempDirectory("graft_sorted").toString + "/ev"
    Tables.events(spark, sfDir)
      .repartitionByRange(4, $"ts")
      .sortWithinPartitions($"ts")
      .write.mode("overwrite").parquet(out)
    val ranges = spark.read.parquet(out)
      .select(input_file_name().as("f"), $"ts")
      .groupBy($"f").agg(min($"ts").as("lo"), max($"ts").as("hi"))
      .orderBy($"lo").collect()
    assert(ranges.length > 1, "range partitioning must produce multiple files")
    ranges.sliding(2).foreach { case Array(a, b) =>
      assert(!b.getAs[java.sql.Timestamp]("lo").before(a.getAs[java.sql.Timestamp]("hi")),
        s"file ranges overlap: ${a} vs ${b}")
    }
  }

  test("z-order layout keeps per-file stats tight on BOTH dims; 1-D sort does not") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    // kernel sanity: x=3 (011), y=5 (101) interleave to 0b100111 = 39
    val probe = spark.range(1)
      .select(graft.functions.GraftFunctions.interleaveBits(lit(3L), lit(5L)).as("z"))
      .head().getLong(0)
    assert(probe == 39L, s"interleave_bits(3,5) must be 39, got $probe")
    // uniform 256x256 grid — every cell exactly once, so spans are exact
    val grid = spark.range(256L * 256L)
      .select(pmod($"id", lit(256L)).as("x"), ($"id" / 256L).cast("long").as("y"))
      .withColumn("zval",
        graft.functions.GraftFunctions.interleaveBits($"x", $"y"))
    def spans(sortCol: String): Array[(Long, Long)] = {
      val out = java.nio.file.Files.createTempDirectory("graft_z").toString + "/t"
      grid.repartitionByRange(16, col(sortCol)).sortWithinPartitions(col(sortCol))
        .write.mode("overwrite").parquet(out)
      spark.read.parquet(out).select(input_file_name().as("f"), $"x", $"y")
        .groupBy($"f")
        .agg((max($"x") - min($"x")).as("xs"), (max($"y") - min($"y")).as("ys"))
        .collect().map(r => (r.getAs[Long]("xs"), r.getAs[Long]("ys")))
    }
    val z = spans("zval")
    assert(z.length > 4)
    // 16 contiguous z ranges ~ 4-bit prefixes: both axis spans collapse
    // toward quarter-domain rectangles; sampled boundaries straddle prefix
    // blocks, so assert both MEANS stay under half the domain (vs the full
    // 255 the 1-D layout leaves on its off axis)
    val (mx, my) = (z.map(_._1).sum.toDouble / z.length, z.map(_._2).sum.toDouble / z.length)
    assert(mx < 128 && my < 128,
      s"z-order files must be tight on both dims: mean x-span $mx, y-span $my")
    // the 1-D x-sorted layout prunes x but leaves y at the full domain
    val oneD = spans("x")
    assert(oneD.forall(_._2 >= 250L),
      s"1-D layout should span the full off-axis domain: ${oneD.toSeq}")
  }

  test("compaction: fragmented partitions merge shuffle-free to target-sized files") {
    import spark.implicits._
    val s = spark
    // fragment the docs table: 12 files per source directory
    val frag = java.nio.file.Files.createTempDirectory("graft_frag").toString + "/t"
    Tables.documents(s, sfDir).repartition(12)
      .write.mode("overwrite").partitionBy("source").parquet(frag)
    // listing (driver-sized): one row per data file
    val files = new java.io.File(frag).listFiles.filter(_.getName.startsWith("source="))
      .flatMap { d =>
        d.listFiles.filter(_.getName.endsWith(".parquet"))
          .map(f => (d.getName.stripPrefix("source="), f.getPath, f.length()))
      }.toSeq
    assert(files.size > 50, s"fixture must be fragmented, got ${files.size} files")
    val target = files.map(_._3).sum / files.map(_._1).distinct.size / 3 // ~3 jobs/partition
    val planned = graft.plans.Compaction.plan(
      files.toDF("part", "file", "bytes"), target).cache()
    // plan laws: every file in exactly one job; greedy prefix-sum packing
    // bounds every job within one file of the target (overshoot from a
    // file straddling a boundary shifts at most maxFile into a neighbor)
    assert(planned.count() == files.size)
    val maxFile = files.map(_._3).max
    val jobSizes = planned.groupBy($"part", $"job").agg(sum($"bytes").as("jb"))
      .withColumn("last_job", max($"job").over(
        org.apache.spark.sql.expressions.Window.partitionBy($"part")))
      .collect()
    jobSizes.foreach(r => assert(r.getLong(2) <= target + maxFile,
      s"job overshoots target by more than one file: $r"))
    jobSizes.filter(r => r.getLong(1) < r.getLong(3)).foreach(r =>
      assert(r.getLong(2) >= target - maxFile,
        s"non-final job more than one file under target: $r"))
    // execute: zero-shuffle merges; content identical, file count = job count
    val out = java.nio.file.Files.createTempDirectory("graft_compact").toString + "/t"
    graft.plans.Compaction.execute(s, planned, out)
    val before = s.read.parquet(frag)
    val after = s.read.parquet(out).withColumnRenamed("part", "source")
      .select(before.columns.map(col): _*)
    assert(after.count() == before.count())
    assert(after.exceptAll(before).isEmpty && before.exceptAll(after).isEmpty,
      "compaction must preserve content exactly")
    val outFiles = new java.io.File(out).listFiles.filter(_.getName.startsWith("part="))
      .flatMap(_.listFiles.filter(_.getName.endsWith(".parquet")))
    val nJobs = planned.select($"part", $"job").distinct().count()
    assert(outFiles.length == nJobs,
      s"one output file per job: ${outFiles.length} vs $nJobs")
    assert(outFiles.length * 3 <= files.size,
      s"compaction must shrink the file count: ${files.size} -> ${outFiles.length}")
    planned.unpersist()
  }

  test("q44 z-bucket layout: numFiles prunes on BOTH dimensions, results exact") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    // unit law: the quarter-domain corner square is exactly bucket 0
    assert(graft.plans.ZOrder.bucketsFor(0, 63, 0, 63, 8, 4) == Seq(0L))
    // full-domain predicate keeps every bucket
    assert(graft.plans.ZOrder.bucketsFor(0, 255, 0, 255, 8, 4).length == 16)

    // uniform 256x256 grid laid out one directory per 4-bit z prefix —
    // the file-level clustering a z-ordered table write produces
    val grid = spark.range(256L * 256L)
      .select(pmod($"id", lit(256L)).as("x"), ($"id" / 256L).cast("long").as("y"))
      .withColumn("zval", graft.functions.GraftFunctions.interleaveBits($"x", $"y"))
      .withColumn("zbucket", ($"zval" / 4096L).cast("long"))
    val out = java.nio.file.Files.createTempDirectory("graft_zb").toString + "/t"
    grid.repartition(col("zbucket"))
      .write.mode("overwrite").partitionBy("zbucket").parquet(out)
    val table = spark.read.parquet(out)

    def numFiles(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      df.queryExecution.executedPlan.collectLeaves()
        .flatMap(_.metrics.get("numFiles").map(_.value)).sum
    }
    val total = numFiles(table.select($"x"))

    // an axis predicate on EITHER dimension becomes a z-bucket set via the
    // range decomposition; listing-time partition pruning drops numFiles
    // before any footer is opened — and the pruned read misses nothing
    def prunedRead(xLo: Long, xHi: Long, yLo: Long, yHi: Long) = {
      val buckets = graft.plans.ZOrder.bucketsFor(xLo, xHi, yLo, yHi, 8, 4)
      val pruned = table.filter($"zbucket".isin(buckets: _*) &&
        $"x".between(xLo, xHi) && $"y".between(yLo, yHi))
      val full = table.filter($"x".between(xLo, xHi) && $"y".between(yLo, yHi))
      (numFiles(pruned), full.count(), pruned.count())
    }
    val (fx, nxFull, nx) = prunedRead(40, 55, 0, 255)   // x-only predicate
    assert(nx == nxFull && nx == 16L * 256,
      s"x-pruned read must be exact: $nx vs $nxFull")
    assert(fx * 2 <= total, s"x predicate must prune files: $fx of $total")
    val (fy, nyFull, ny) = prunedRead(0, 255, 200, 215) // y-only predicate
    assert(ny == nyFull && ny == 16L * 256,
      s"y-pruned read must be exact: $ny vs $nyFull")
    assert(fy * 2 <= total, s"y predicate must prune files: $fy of $total")
    val (fr, nrFull, nr) = prunedRead(40, 55, 200, 215) // rectangle
    assert(nr == nrFull && nr == 16L * 16)
    assert(fr * 8 <= total, s"rectangle must prune to ~1 bucket: $fr of $total")
  }

  test("global sort: sampled range partitioning splits a skewed key across partitions") {
    import spark.implicits._
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    // half the rows share one hot key — the classic global-sort skew case
    val n = 10000L
    val df = spark.range(n).select(
      when(col("id") % 2 === 0, 0L).otherwise(col("id")).as("k"),
      col("id").as("payload"))
    val parts = 8

    // a composite boundary (k, payload) lets the range sampler cut INSIDE
    // the hot key, so no partition inherits all 5000 hot rows
    val sorted = df.repartitionByRange(parts, col("k"), col("payload"))
      .sortWithinPartitions(col("k"), col("payload"))
    val planned = physical(sorted)
    val ranges = planned.collect {
      case e: ShuffleExchangeExec
          if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
    }
    assert(ranges.length == 1, s"expected one RangePartitioning exchange:\n$planned")

    // partition-sorted ranges + sorted partitions = globally sorted collect
    val rows = sorted.select(col("k"), col("payload")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.length == n)
    assert(rows.zip(rows.tail).forall { case (a, b) =>
      a._1 < b._1 || (a._1 == b._1 && a._2 <= b._2) }, "collect must be globally sorted")

    // skew is actually split: no partition holds more than ~2x the fair share
    val sizes = sorted.groupBy(spark_partition_id().as("pid"))
      .count().collect().map(_.getLong(1))
    assert(sizes.max <= 2 * n / parts,
      s"sampled boundaries must split the hot key, got partitions ${sizes.mkString(",")}")

    // contrast: ranging on the skewed key ALONE necessarily funnels every
    // hot row into one partition — the 100 TB lesson is to widen the
    // boundary with a tiebreaker when a sort key is hot
    val naive = df.repartitionByRange(parts, col("k"))
      .groupBy(spark_partition_id()).count().collect().map(_.getLong(1))
    assert(naive.max >= n / 2, s"hot key should dominate one partition: ${naive.mkString(",")}")
  }

  test("dynamic partition overwrite refreshes only the re-processed space") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft_dpo").toString + "/docs"
    val docs = Tables.documents(s, sfDir)
    docs.write.mode("overwrite").partitionBy("source").parquet(dir)
    val before = s.read.parquet(dir).count()
    // re-process ONE space with a transformed payload; static overwrite would
    // wipe every other partition, dynamic replaces only source=src3
    s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      docs.filter($"source" === "src3")
        .withColumn("text", upper($"text"))
        .write.mode("overwrite").partitionBy("source").parquet(dir)
    } finally s.conf.unset("spark.sql.sources.partitionOverwriteMode")
    val after = s.read.parquet(dir)
    assert(after.count() == before, "untouched partitions must survive")
    assert(after.filter($"source" === "src3" && $"text" =!= upper($"text")).isEmpty,
      "replaced partition must carry the new payload")
    assert(after.filter($"source" =!= "src3" && $"text" === upper($"text") &&
                        $"text" =!= lower($"text")).isEmpty,
      "other partitions must keep the old payload")
  }

  test("parquet schema evolution: mergeSchema unions old and new columns") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft_evo").toString + "/docs"
    val docs = Tables.documents(s, sfDir)
    docs.select($"doc_id", $"source").write.mode("append").parquet(dir)
    docs.select($"doc_id", $"lang", $"n_chars").write.mode("append").parquet(dir)
    val merged = s.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.toSet == Set("doc_id", "source", "lang", "n_chars"))
    assert(merged.count() == 2 * docs.count())
    // rows from the first write surface nulls for the later-added columns
    assert(merged.filter($"lang".isNull).count() == docs.count())
  }

  test("partitioned sink: hive layout by space + partition pruning on read-back") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft_psink").toString + "/docs"
    val docs = Tables.documents(s, sfDir)
    // the reference organizes output by space (master_script.py:157-211);
    // the Spark-native sink shape is partitionBy on the same key
    docs.write.mode("overwrite").partitionBy("source").parquet(dir)
    val expected = docs.select($"source").distinct().as[String].collect().toSet
    val subdirs = new java.io.File(dir).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("source=")).toSet
    assert(subdirs == expected.map("source=" + _), s"layout: $subdirs")

    val back = s.read.parquet(dir).filter($"source" === "src3")
    val p = back.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("PartitionFilters") && p.contains("src3"),
      "read-back filter on the partition key must prune directories, not scan+filter")
    assert(back.count() == docs.filter($"source" === "src3").count())
  }

  test("RenderSink DSv2 write: staged commit publishes per-space files with a manifest") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_rsink").toString + "/out"
    val pages = SparkEntry.queries("p11_html_render")(spark, sfDir)
      .join(Tables.documents(spark, sfDir).select($"doc_id", $"source".as("space")), "doc_id")
      .select($"doc_id", $"space", $"html")
    pages.write.format("graft.sources.RenderSink")
      .option("path", dir).mode("overwrite").save()

    // layout: one file per page under its space dir (the reference's
    // master_script.py:157-211 organization), nothing else visible
    val root = new java.io.File(dir)
    val spaceDirs = root.listFiles().filter(_.isDirectory).map(_.getName).toSet
    val expectedSpaces = pages.select($"space").distinct().as[String].collect().toSet
    assert(spaceDirs == expectedSpaces.map("space=" + _), s"layout: $spaceDirs")
    assert(!root.listFiles().exists(_.getName.startsWith(".staging")),
      "staging must be cleaned up on commit")
    val manifest = java.nio.file.Files.readString(new java.io.File(root, "_MANIFEST").toPath)
    val total = pages.count()
    assert(manifest.contains(s""""files": $total"""), s"manifest: $manifest")

    // content round-trip: the published bytes ARE the rendered html
    val back = spark.read.format("binaryFile").option("recursiveFileLookup", "true")
      .option("pathGlobFilter", "*.html").load(dir)
      .select(
        regexp_extract($"path", "doc_(\\d+)\\.html", 1).cast("long").as("doc_id"),
        $"content".cast("string").as("html"))
    assert(back.count() == total)
    assert(back.exceptAll(pages.select($"doc_id", $"html")).isEmpty,
      "published file contents must equal the rendered html")

    // overwrite replaces (no stale accumulation), append adds
    pages.limit(10).write.format("graft.sources.RenderSink")
      .option("path", dir).mode("overwrite").save()
    def countFiles(): Long = spark.read.format("binaryFile")
      .option("recursiveFileLookup", "true").option("pathGlobFilter", "*.html")
      .load(dir).count()
    assert(countFiles() == 10, "overwrite must truncate prior space dirs")
    pages.filter($"doc_id" >= 490).write.format("graft.sources.RenderSink")
      .option("path", dir).mode("append").save()
    assert(countFiles() > 10, "append must add files")

    // a wrong row shape is rejected at planning time, not mid-write
    intercept[Exception] {
      pages.select($"doc_id", $"space").write
        .format("graft.sources.RenderSink").option("path", dir)
        .mode("append").save()
    }
  }

  test("RenderSink publishes htmlRender without a global sort; p11 sorts at its edge") {
    import org.apache.spark.sql.execution.{SortExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.util.QueryExecutionListener
    // every node of an executed plan, through AQE wrappers and query stages
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => a +: nodes(a.executedPlan)
      case q: QueryStageExec => q +: nodes(q.plan)
      case other => other +: other.children.flatMap(nodes)
    }
    val dir = Files.createTempDirectory("graft_rsink_unsorted").toString + "/out"
    val pages = operators.Render.htmlRender(spark, sfDir)
      .select(col("doc_id"), concat(lit("space-"), col("doc_id") % 8).as("space"), col("html"))
    val written = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             ns: Long): Unit = written.add(qe.executedPlan)
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val jobs = try jobsRun("render_sink_unsorted") {
      pages.write.format("graft.sources.RenderSink").option("path", dir).mode("overwrite").save()
    } finally spark.listenerManager.unregister(listener)
    assert(jobs == 1, s"an unordered publish is one write job, ran $jobs")
    assert(written.size == 1, s"one write command, saw ${written.size}")
    val ops = nodes(written.peek())
    assert(!ops.exists(p => p.isInstanceOf[Exchange] || p.isInstanceOf[SortExec]),
      "the publish plan must carry no Exchange and no Sort:\n" + written.peek().treeString)
    assert(new java.io.File(dir).listFiles().filter(_.isDirectory)
      .flatMap(_.listFiles()).count(_.getName.endsWith(".html")) == pages.count())

    // the registry key keeps its order: a global sort on doc_id (sf0.001's
    // documents file is stored in doc_id order, so the collected order
    // alone cannot tell a sort from a lucky scan)
    val p11 = SparkEntry.queries("p11_html_render")(spark, sfDir)
    val ids = p11.select("doc_id").collect().map(_.getAs[Number](0).longValue).toSeq
    assert(ids.nonEmpty && ids == ids.sorted, "p11 must collect in doc_id order")
    val globalSort = physical(p11).collectFirst { case s: SortExec if s.global => s.sortOrder }
    assert(globalSort.exists(_.map(_.child.toString).mkString.contains("doc_id")),
      s"p11 must carry a global sort on doc_id, found $globalSort")
  }

  test("fixture publishOnce sweeps stale crashed .build. dirs, spares live ones") {
    val base = Files.createTempDirectory("graft_fixture_spec").toFile
    val store = new java.io.File(base, "store")
    // a crashed builder's leftover: half-built dir, mtime far past the
    // staleness threshold — nothing will ever rename or read it
    val stale = new java.io.File(base, "store.build.crashed")
    assert(stale.mkdirs())
    java.nio.file.Files.write(new java.io.File(stale, "half.bin").toPath,
      "partial".getBytes("UTF-8"))
    assert(stale.setLastModified(
      System.currentTimeMillis() - operators.Fixtures.StaleBuildMs - 60000))
    // a RECENT .build. dir could belong to a live concurrent builder — the
    // sweep must not touch it
    val live = new java.io.File(base, "store.build.live")
    assert(live.mkdirs())

    val out = operators.Fixtures.publishOnce(store) { tmp =>
      java.nio.file.Files.write(new java.io.File(tmp, "data.bin").toPath,
        "payload".getBytes("UTF-8"))
    }
    assert(out.exists() && new java.io.File(out, "data.bin").exists(),
      "store must be published with its content")
    assert(!stale.exists(), "stale crashed .build. dir must be swept")
    assert(live.exists(), "recent (possibly live) .build. dir must survive the sweep")

    // existing store short-circuits: the build body must not run again
    operators.Fixtures.publishOnce(store) { _ =>
      fail("publishOnce must not rebuild an existing store")
    }
  }
}
