package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Pins each streaming and curation row rule to its one home: a batch key
  * and its stream twin call the rule, so a second copy is a second
  * definition free to drift from the first.
  */
class RuleHomesSpec extends AnyFunSuite {

  private lazy val sources: List[(String, String)] = {
    val stream = Files.walk(Paths.get("src/main/scala"))
    try stream.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .map(p => p.getFileName.toString -> Files.readString(p)).toList
      finally stream.close()
  }
  private def count(text: String, rule: String) =
    text.split(java.util.regex.Pattern.quote(rule), -1).length - 1
  private def total(rule: String) = sources.map(f => count(f._2, rule)).sum
  /** The files that write `rule`, each with its number of copies. */
  private def homes(rule: String): List[(String, Int)] =
    sources.map(f => f._1 -> count(f._2, rule)).filter(_._2 > 0)

  test("each streaming and curation rule is written once in src/main") {
    val fp = "md5(regexp_replace(lower("
    assert(sources.filter(_._2.contains(fp)).map(_._1) == List("TextOps.scala"),
      "the content fingerprint is TextOps.contentFp")
    assert(total("% 7 === 3") == 1, "the eval set is Dedup.isEval")
    assert(count(sources.toMap.apply("Streams.scala"), "\"6 hours\"") == 1,
      "the 6-hour window is Streams.byWindow")
    assert(total("1800000001") == 0, "the session window derives from Streams.SessionGapMicros")
  }

  test("the word-token rule is TextOps.words, the search split PipelineOps.searchTokens") {
    assert(homes("split(lower(trim(") == List("TextOps.scala" -> 1),
      "tokenize with TextOps.words, never an inline split(lower(trim(")
    assert(homes("split(trim(lower(").isEmpty, "trim(lower(t)) tokenizes as TextOps.words")
    assert(homes("filter(split(lower(trim(text))").isEmpty,
      "the non-empty token list is TextOps.nonEmptyWords")
    val search = """split\(lower\([^()]*\), "\\\\s\+"\)""".r
    assert(sources.map(f => f._1 -> search.findAllIn(f._2).size).filter(_._2 > 0) ==
      List("Pipeline.scala" -> 1), "the untrimmed search split is PipelineOps.searchTokens")
  }
}
