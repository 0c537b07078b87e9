package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import graft.functions.{GraftFunction, GraftFunctions}

/** A `spark.sql.extensions=graft.functions.GraftExtensions` session
  * resolves every function of the table from SQL text, with no
  * [[GraftFunctions.register]] call.
  */
class GraftExtensionsSpec extends SparkSpec {
  private val vec = "CAST(array(0.6, 0.8) AS ARRAY<FLOAT>)"
  private val vec64 = "CAST(array_repeat(0.125, 64) AS ARRAY<FLOAT>)"
  private val toks = "array('a', 'b', 'c', 'd')"
  private val refs = s"array(named_struct('id', 1L, 'emb', $vec))"

  /** One query per table row; its single result must be non-null. */
  private val queries: Map[String, String] = Map(
    "cosine_sim" -> s"SELECT cosine_sim($vec, $vec)",
    "hash_embed" -> s"SELECT hash_embed($toks, 8)",
    "gram_hashes31" -> s"SELECT gram_hashes31($toks, 2)",
    "term_counts" -> s"SELECT term_counts($toks, array('a', 'z'))",
    "lsh_buckets" -> s"SELECT lsh_buckets($vec64)",
    "overlap_marks" -> "SELECT overlap_marks(array('s1', 's2'))",
    "overlap_marks_mask" -> "SELECT overlap_marks_mask(3L, array('s1', 's2'))",
    "shingle_strings" -> s"SELECT shingle_strings($toks, 2)",
    "simhash60" -> s"SELECT simhash60($toks)",
    "simhash_wide120" -> s"SELECT simhash_wide120($toks)",
    "minhash_shingle_sig" -> s"SELECT minhash_shingle_sig($toks, 2, 4)",
    "regex_count" -> "SELECT regex_count('a b c', ' ')",
    "interleave_bits" -> "SELECT interleave_bits(3L, 5L)",
    "non_alnum_count" -> "SELECT non_alnum_count('a,b!')",
    "nfc_norm" -> "SELECT nfc_norm('Cafe')",
    "pq_encode" -> s"SELECT pq_encode($vec, array(array($vec, $vec)))",
    "nearest_centroid" -> s"SELECT nearest_centroid($vec, $refs)",
    "nearest_cosine" -> s"SELECT nearest_cosine($vec, $refs)",
    "tree_ancestors" -> "SELECT tree_ancestors(5L)",
    "cms_query" -> "SELECT cms_query(cms_agg(t, 1L, 2, 16), 'a') FROM VALUES ('a') AS v(t)",
    "bloom_contains" ->
      "SELECT bloom_contains(bloom_agg(t, 64, 3), 'a') FROM VALUES ('a'), ('b') AS v(t)",
    "topk_agg" -> "SELECT topk_agg(v, 2) FROM VALUES (1.0D), (2.0D) AS t(v)",
    "bloom_agg" -> "SELECT bloom_agg(t, 64, 3) FROM VALUES ('a') AS v(t)",
    "cms_agg" -> "SELECT cms_agg(t, 1L, 2, 16) FROM VALUES ('a') AS v(t)",
    "vec_mean_agg" -> s"SELECT vec_mean_agg(e, 2) FROM (SELECT $vec AS e)")

  /** (Scala val, SQL name) of every GraftFunction val of GraftFunctions. */
  private val rowVals: Seq[(String, String)] = GraftFunctions.getClass.getMethods.toSeq
    .filter(m => m.getParameterCount == 0 && classOf[GraftFunction].isAssignableFrom(m.getReturnType))
    .map(m => m.getName -> m.invoke(GraftFunctions).asInstanceOf[GraftFunction].name)

  test("every GraftFunctions row is in the table, and every table row has a query") {
    assert(rowVals.map(_._2).toSet == GraftFunctions.table.map(_.name).toSet)
    assert(GraftFunctions.table.map(_.name).toSet == queries.keySet)
  }

  test("every table row is called from graft.operators or graft.streaming") {
    val callers = Seq("operators", "streaming").flatMap { d =>
      val stream = Files.list(Paths.get(s"src/main/scala/graft/$d"))
      try stream.iterator().asScala.filter(_.toString.endsWith(".scala")).map(Files.readString).toList
      finally stream.close()
    }
    val uncalled = rowVals.filterNot { case (v, _) =>
      callers.exists(src => s"\\b$v\\(".r.findFirstIn(src).isDefined)
    }.map(_._2)
    assert(uncalled.isEmpty, s"rows no operator calls: ${uncalled.mkString(", ")}")
  }

  test("an extensions-only session resolves every table name from SQL text") {
    // what spark.sql.extensions does: instantiate the named class and apply
    // it to the new session's extensions
    val ext = Class.forName("graft.functions.GraftExtensions").getDeclaredConstructor()
      .newInstance().asInstanceOf[SparkSessionExtensions => Unit]
    spark // the shared context exists before the extensions session joins it
    val (active, default) = (SparkSession.getActiveSession, SparkSession.getDefaultSession)
    val s = try SparkSession.builder().withExtensions(ext).create()
    finally {
      default.foreach(SparkSession.setDefaultSession)
      active.foreach(SparkSession.setActiveSession)
    }
    for ((name, sql) <- queries) {
      val r = s.sql(sql).head()
      assert(!r.isNullAt(0), s"$name: $sql")
    }
  }
}
