package graft

import org.apache.spark.sql.functions._

class RenderSpec extends SparkSpec {

  test("q17 salted join equals the plain join") {
    val salted = SparkEntry.queries("q17_salted_join")(spark, sfDir).collect()
    val plain = Tables.orders(spark, sfDir)
      .join(Tables.lineitem(spark, sfDir), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("line_count"),
           sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_price"))
      .orderBy("o_orderstatus").collect()
    assert(salted.map(_.toSeq).toSeq == plain.map(_.toSeq).toSeq)
  }

  test("q17 fact rows join exactly one salted dim copy each") {
    val factCount = Tables.lineitem(spark, sfDir)
      .join(Tables.orders(spark, sfDir), col("l_orderkey") === col("o_orderkey")).count()
    val saltedTotal = SparkEntry.queries("q17_salted_join")(spark, sfDir)
      .agg(sum("line_count")).head().getLong(0)
    assert(saltedTotal == factCount)
  }

  test("q17 forced-hot path (threshold 1) still equals the default plan") {
    val forced = operators.Relational.saltedJoin(spark, sfDir, hotThreshold = 1L)
      .collect().map(_.toSeq).toSeq
    val default = SparkEntry.queries("q17_salted_join")(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    assert(forced == default)
  }

  test("q17 cold keys are never replicated; hot keys fan out x SaltBuckets") {
    import spark.implicits._
    val dim = Tables.orders(spark, sfDir)
    val noHot = Seq.empty[Long].toDF("hot_key")
    assert(operators.Relational.dimWithSalt(dim, noHot).count() == dim.count(),
      "with no hot keys the salted dim must be exactly the dim (no explode blowup)")
    val oneHot = dim.select(col("o_orderkey").as("hot_key")).limit(1)
    assert(operators.Relational.dimWithSalt(dim, oneHot).count() ==
      dim.count() + (operators.Relational.SaltBuckets - 1),
      "exactly the hot key replicates across salt buckets")
  }

  test("p11 rendered html is well-formed at the shell level") {
    val df = SparkEntry.queries("p11_html_render")(spark, sfDir)
    assert(df.filter(!col("html").startsWith("<!DOCTYPE html>")).isEmpty)
    assert(df.filter(!col("html").endsWith("</html>")).isEmpty)
    assert(df.filter(!col("html").contains("<h1>")).isEmpty)
  }

  test("p12 data urls round-trip through base64") {
    import spark.implicits._
    val row = SparkEntry.queries("p12_attachment_embed")(spark, sfDir)
      .filter($"doc_id" === 7).head()
    val b64 = row.getAs[String]("data_url").split(",", 2)(1)
    val decoded = new String(java.util.Base64.getDecoder.decode(b64), "UTF-8")
    val text = Tables.documents(spark, sfDir).filter($"doc_id" === 7)
      .head().getAs[String]("text")
    assert(decoded == "IMG0" + text)
  }

  test("p16/p17 render statuses partition the corpus and counters reconcile") {
    import spark.implicits._
    val m = SparkEntry.queries("p16_render_manifest")(spark, sfDir).cache()
    val docs = Tables.documents(spark, sfDir).count()
    assert(m.count() == docs, "one manifest row per page")
    // processed rows always carry an html path; pdf path iff pdf processed
    assert(m.filter($"html_status" === "processed" && $"html_path".isNull).isEmpty)
    assert(m.filter($"pdf_status" === "processed" &&
                    ($"pdf_path".isNull || $"pdf_bytes".isNull)).isEmpty)
    assert(m.filter($"pdf_status" =!= "processed" && $"pdf_path".isNotNull).isEmpty)
    val stats = SparkEntry.queries("p17_render_stats")(spark, sfDir)
      .agg(sum($"html_processed" + $"html_skipped" + $"html_failed").as("h"),
           sum($"pdf_processed" + $"pdf_skipped" + $"pdf_failed").as("p"))
      .head()
    assert(stats.getLong(0) == docs && stats.getLong(1) == docs,
      "per-space counters must cover every page exactly once")
    m.unpersist()
  }

  test("m03 binary ingest round-trips the blob fixture byte-for-byte") {
    import spark.implicits._
    val ingested = SparkEntry.queries("m03_binary_ingest")(spark, sfDir)
    val expected = operators.Multimodal.withBlob(spark, sfDir)
      .select($"doc_id", length($"blob").cast("long").as("byte_len"),
              md5($"blob").as("content_md5"))
    assert(ingested.except(expected).isEmpty && expected.except(ingested).isEmpty,
      "binaryFile read-back must equal the in-plan blob fabrication")
  }

  test("m03 small-file mitigation: file-source packing knobs coalesce the attachment scan") {
    // m03's wall-clock is file-count-linear by design (SURVEY §5); the
    // mitigation for small-file-heavy stores is the file-source packing
    // cost model — files.openCostInBytes charges a per-file admission so
    // many small files pack into few partitions, and shrinking it (or
    // growing maxPartitionBytes) packs MORE files per partition. Prove the
    // knob bites on the real fixture store.
    val store = sys.props("java.io.tmpdir") + "/graft_attachments_" +
      "_root_testdata_sf0.001_".replaceAll("[^A-Za-z0-9.]", "_") +
      new java.io.File(s"$sfDir/documents.parquet").lastModified()
    SparkEntry.queries("m03_binary_ingest")(spark, sfDir).count() // builds fixture
    def partsWith(openCost: String): Int = {
      spark.conf.set("spark.sql.files.openCostInBytes", openCost)
      try spark.read.format("binaryFile").load(store).rdd.getNumPartitions
      finally spark.conf.set("spark.sql.files.openCostInBytes", "4194304")
    }
    val spread = partsWith("4194304")  // default 4 MB: ~each file its own slot
    val packed = partsWith("0")        // pure byte packing
    assert(packed < spread,
      s"packing knob must coalesce small files: packed=$packed spread=$spread")
    // bytesPerCore keeps a defaultParallelism floor — the point is the
    // hundreds of per-file slots collapse to core-count-sized scheduling
    assert(packed <= spark.sparkContext.defaultParallelism + 1,
      s"500 tiny blobs should pack down to core count, got $packed")
  }

  test("m03 production read packs small files without mutating the caller session") {
    // The packing conf lives in a cloned session inside the m03 path; the
    // production plan must come out packed (core-count-sized, not one slot
    // per ~32 files) while the caller's own conf stays at the 4 MB default.
    val before = spark.conf.get("spark.sql.files.openCostInBytes")
    val parts = SparkEntry.queries("m03_binary_ingest")(spark, sfDir)
      .rdd.getNumPartitions
    assert(parts <= spark.sparkContext.defaultParallelism + 1,
      s"production m03 must pack the attachment scan, got $parts partitions")
    assert(spark.conf.get("spark.sql.files.openCostInBytes") == before,
      "m03 must not leak its packing conf into the caller's session")
  }

  test("p18 search hits contain every term and misses lack at least one") {
    import spark.implicits._
    val hits = SparkEntry.queries("p18_text_search")(spark, sfDir)
    assert(hits.filter($"tf_spark" === 0 || $"tf_vector" === 0 || $"tf_stream" === 0).isEmpty)
    val tokenHas = (t: String) =>
      array_contains(split(lower(col("text")), "\\s+"), t)
    val indep = Tables.documents(spark, sfDir)
      .filter(tokenHas("spark") && tokenHas("vector") && tokenHas("stream")).count()
    assert(hits.count() == indep, "hit set must match an independent predicate scan")
  }

  test("q16 json extraction finds k for every event") {
    val n = SparkEntry.queries("q16_json_extract")(spark, sfDir)
      .agg(sum("n")).head().getLong(0)
    assert(n == Tables.events(spark, sfDir).count())
  }
}
