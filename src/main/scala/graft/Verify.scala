package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1)
    // optional: restrict to named keys (fast local iteration on one
    // operator). A filtered run also filters oracle_sql.json, so point it at
    // a SCRATCH outDir — never the driver's canonical one, where a shrunken
    // oracle file next to stale dumps would silently narrow the gate.
    val only: Set[String] = args.drop(2).toSet
    if (only.nonEmpty) {
      System.err.println(
        s"[verify] PARTIAL run (${only.size} keys) — use a scratch outDir, not the driver's")
      // refuse to SHRINK an existing oracle file: a filtered oracle_sql.json
      // beside stale full dumps would silently narrow the correctness gate.
      // Re-running the same filtered key set into the same scratch dir stays
      // allowed (no key disappears).
      val oraclePath = Paths.get(s"$outDir/oracle_sql.json")
      if (Files.exists(oraclePath)) {
        val existing = Files.readString(oraclePath)
        val shrunk = SparkEntry.oracleSql.keys
          .filterNot(only).filter(k => existing.contains("\"" + k + "\""))
        if (shrunk.nonEmpty) {
          System.err.println(
            s"[verify] REFUSING: $oraclePath already covers ${shrunk.size} key(s) this run " +
              s"would drop (e.g. ${shrunk.take(3).mkString(", ")}); use a fresh scratch outDir")
          sys.exit(2)
        }
      }
    }
    val spark = Session.local()
    new java.io.File(outDir).mkdirs()
    val failed = scala.collection.mutable.ListBuffer[String]()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failed += name
        System.err.println(s"[verify] $name FAILED: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.isEmpty || only(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()

    // Staleness gate (round-5 verdict item 7; made urgent by round 6, where
    // the correctness file silently shrank 132→100 rows because failed dumps
    // only went to stderr). The dangerous failure mode is a gate that
    // NARROWS without anyone noticing — so make every narrowing loud:
    //   SparkEntry.queries ≡ SURVEY §2 rows ≡ dumps written ≡ oracle entries
    // and exit non-zero on any mismatch (full runs only; partial runs are
    // scratch-dir iteration and already warned above).
    if (only.isEmpty) {
      val keys = SparkEntry.queries.keySet
      val noOracle = keys -- SparkEntry.oracleSql.keySet
      val surveyText = Seq("SURVEY.md", "/root/repo/SURVEY.md").map(Paths.get(_))
        .find(Files.exists(_)).map(Files.readString(_))
      if (surveyText.isEmpty)
        System.err.println(s"[verify] WARNING: SURVEY.md not found — skipping §2 cross-check")
      System.err.println(s"[verify] keys=${keys.size} " +
        surveyText.map(t => s"survey_rows=${surveyRows(t).size} ").getOrElse("") +
        s"dumps_ok=${keys.size - failed.size} oracles=${SparkEntry.oracleSql.size} " +
        s"no_oracle=${noOracle.size} (${noOracle.toSeq.sorted.mkString(",")})")
      val problems = gateProblems(failed.toSeq, surveyText)
      if (problems.nonEmpty) {
        problems.foreach(p => System.err.println(s"[verify] GATE FAILURE: $p"))
        sys.exit(1)
      }
    }
  }

  /** SURVEY §2 inventory rows: key -> check column. */
  private[graft] def surveyRows(surveyText: String): Map[String, String] = {
    val sec2 = surveyText.split("\n## ").find(_.startsWith("§2")).getOrElse("")
    val key = """^\|\s*([qptdms]\d{2}_\w+)\s*\|""".r
    sec2.linesIterator.flatMap { line =>
      key.findFirstMatchIn(line).map { m =>
        // markdown escapes literal pipes as \| inside cells — mask them so the
        // cell split sees only real column boundaries (check column is LAST)
        val cells = line.replace("\\|", "").stripSuffix("|").split('|')
        m.group(1) -> cells.last.replace("", "\\|")
      }
    }.toMap
  }

  /** The staleness gate, pure so the spec can prove each trigger: every
    * narrowing of (registry ≡ SURVEY §2 rows ≡ dumps ≡ oracles) must
    * surface as a problem string — an empty result is the only green state.
    */
  private[graft] def gateProblems(failedDumps: Seq[String],
                                  surveyText: Option[String]): Seq[String] = {
    val keys = SparkEntry.queries.keySet
    val noOracle = keys -- SparkEntry.oracleSql.keySet
    val extraOracle = SparkEntry.oracleSql.keySet -- keys
    val problems = scala.collection.mutable.ListBuffer[String]()
    if (failedDumps.nonEmpty)
      problems += s"${failedDumps.size} dump(s) FAILED: ${failedDumps.sorted.mkString(", ")}"
    if (extraOracle.nonEmpty)
      problems += s"oracleSql keys missing from queries: ${extraOracle.toSeq.sorted.mkString(", ")}"
    // cross-check against SURVEY §2: every inventory row must be a registry
    // key and vice versa; a no-oracle key must be declared "rows" there.
    surveyText.foreach { t =>
      val rows = surveyRows(t)
      val notInSurvey = keys -- rows.keySet
      val notInRegistry = rows.keySet -- keys
      if (notInSurvey.nonEmpty)
        problems += s"registry keys absent from SURVEY §2: ${notInSurvey.toSeq.sorted.mkString(", ")}"
      if (notInRegistry.nonEmpty)
        problems += s"SURVEY §2 rows absent from registry: ${notInRegistry.toSeq.sorted.mkString(", ")}"
      val undeclaredNoOracle = noOracle.filterNot(k => rows.get(k).exists(_.contains("rows")))
      if (undeclaredNoOracle.nonEmpty)
        problems += "no-oracle keys not declared \"rows\" in SURVEY §2: " +
          undeclaredNoOracle.toSeq.sorted.mkString(", ")
    }
    problems.toSeq
  }
}
