package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Output generation — the reference's HTML/attachment emitters re-expressed
  * as column pipelines (everything is a deterministic string/binary
  * transform, so it runs codegen'd and oracle-checkable).
  */
object Render {

  /** The rendered page as a column over `documents` rows. */
  private def htmlCol = {
    val title = concat(col("source"), lit("/doc-"), col("doc_id"))
    concat(
      lit("<!DOCTYPE html>\n<html>\n<head>\n" +
          "<meta charset=\"UTF-8\">\n" +
          "<meta name=\"viewport\" content=\"width=device-width, initial-scale=1.0\">\n" +
          "<title>"), title, lit("</title>\n" +
          "<style>body { font-family: Arial, sans-serif; line-height: 1.6; " +
          "max-width: 1200px; margin: 0 auto; padding: 20px; }</style>\n" +
          "</head>\n<body>\n<h1>"), title, lit("</h1>\n<div class=\"content\">\n"),
      col("text"), lit("\n</div>\n</body>\n</html>"))
  }

  /** Full HTML document per page, mirroring the reference template's
    * structure (output_generator/html_generator.py:102-200): doctype, head
    * with charset/viewport/title/style, h1 + content div. One row per page,
    * unordered: a sink that writes one file per row (RenderSink) needs no
    * order, and a caller that needs one sorts at its edge, as p11 does.
    */
  def htmlRender(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir).select($"doc_id", htmlCol.as("html"))
  }

  /** HTML→PDF conversion analogue: the deterministic render manifest
    * (reference: output_generator/html_to_pdf_converter.py:105-223
    * convert_file and master_script.py:89-218 process_page). Per page the
    * output paths mirror output/html/<space>/<new|updated>/<file>.html with
    * the .pdf twin under the pdf root; statuses follow the reference's
    * counter semantics — unchanged pages skip both outputs, processed pages
    * always emit html (the generator is total), and the pdf step fails
    * deterministically for oversized pages (an honest stand-in for the
    * wkhtmltopdf sidecar binary, absent from this container). pdf_bytes is
    * the byte budget a renderer reserves: base cost + 2 bytes per rendered
    * html char. Everything is per-row column math — embarrassingly parallel,
    * no shuffle before the ordered collect.
    */
  val PdfFailChars = 400L

  /** Shared per-page classification: content_type + both statuses (the
    * single source for p16's manifest rows and p17's counters).
    */
  private def manifestCore(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ct = when($"doc_id" % 5 === 4, "new")
      .when($"doc_id" % 3 === 0, "updated")
      .otherwise("unchanged")
    Tables.documents(s, dir)
      .withColumn("content_type", ct)
      .withColumn("html_status",
        when($"content_type" =!= "unchanged", "processed").otherwise("skipped"))
      .withColumn("pdf_status",
        when($"content_type" === "unchanged", "skipped")
          .when($"n_chars" >= PdfFailChars, "failed")
          .otherwise("processed"))
  }

  def renderManifest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    manifestCore(s, dir)
      .select($"doc_id", $"content_type", $"html_status", $"pdf_status",
        when($"html_status" === "processed",
          concat(lit("output/html/"), $"source", lit("/"), $"content_type",
                 lit("/doc_"), $"doc_id", lit(".html"))).as("html_path"),
        when($"pdf_status" === "processed",
          concat(lit("output/pdf/"), $"source", lit("/"), $"content_type",
                 lit("/doc_"), $"doc_id", lit(".pdf"))).as("pdf_path"),
        when($"pdf_status" === "processed",
          lit(1024L) + length(htmlCol).cast("long") * 2).as("pdf_bytes"))
      .orderBy($"doc_id")
  }

  /** Per-space run counters over the render manifest, mirroring the stats
    * dict master_script.py:107-218 accumulates (html_failed kept for column
    * parity — the columnar generator is total, so it is structurally zero).
    * Partial aggregation makes this one tiny shuffle of per-space counters.
    */
  def renderStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val one = (c: org.apache.spark.sql.Column) => sum(when(c, 1L).otherwise(0L))
    manifestCore(s, dir)
      .groupBy($"source")
      .agg(one($"html_status" === "processed").as("html_processed"),
           one($"html_status" === "skipped").as("html_skipped"),
           one($"html_status" === "failed").as("html_failed"),
           one($"pdf_status" === "processed").as("pdf_processed"),
           one($"pdf_status" === "skipped").as("pdf_skipped"),
           one($"pdf_status" === "failed").as("pdf_failed"))
      .orderBy($"source")
  }

  /** Base64 data-URL embedding of binary attachments, mirroring
    * html_generator._embed_images (html_generator.py:201-258).
    */
  def attachmentEmbed(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val mime = when($"doc_id" % 3 === 0, "image/png").otherwise("image/jpeg")
    // Spark's base64 may MIME-chunk (CRLF every 76 chars); strip for the
    // canonical unwrapped form data URLs require.
    val dataUrl = concat(lit("data:"), mime, lit(";base64,"),
                         translate(base64(concat(lit("IMG0"), $"text").cast("binary")), "\r\n", ""))
    Tables.documents(s, dir)
      .select($"doc_id", mime.as("mime"), dataUrl.as("data_url"))
      .orderBy($"doc_id")
  }
}
