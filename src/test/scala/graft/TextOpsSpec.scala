package graft

import org.apache.spark.sql.functions._

class TextOpsSpec extends SparkSpec {

  test("t01 html clean strips every tag, script body and CDATA marker") {
    val df = SparkEntry.queries("t01_html_clean")(spark, sfDir)
    assert(df.filter(col("cleaned").rlike("[<>]")).isEmpty, "tags survived cleaning")
    assert(df.filter(col("cleaned").contains("junk()")).isEmpty, "script body survived")
    assert(df.filter(col("cleaned").contains("CDATA")).isEmpty)
    // body text must survive: cleaned ends with the injected footer text
    assert(df.filter(!col("cleaned").endsWith(" end")).isEmpty)
  }

  test("t02 filenames contain no filesystem-unsafe characters") {
    val df = SparkEntry.queries("t02_sanitize_filename")(spark, sfDir)
    assert(df.filter(col("filename").rlike("[<>:\"/\\\\|?*]")).isEmpty)
    assert(df.filter(length(col("filename")) > 60).isEmpty)
  }

  test("t03 mime mapping covers every row with a known type") {
    val df = SparkEntry.queries("t03_mime_from_extension")(spark, sfDir)
    val mimes = df.select("mime").distinct().collect().map(_.getString(0)).toSet
    assert(mimes.subsetOf(Set("image/png", "image/jpeg", "image/gif",
      "image/svg+xml", "image/webp", "application/octet-stream")))
  }

  test("t04 token counts are consistent (ws tokens <= bpe tokens <= chars)") {
    val df = SparkEntry.queries("t04_token_count")(spark, sfDir)
    assert(df.filter(col("ws_tokens") > col("bpe_tokens")).isEmpty)
    assert(df.filter(col("bpe_tokens") > col("char_len")).isEmpty)
    assert(df.filter(col("ws_tokens") <= 0).isEmpty)
  }

  test("t05 lang id emits a prediction from the candidate set for every doc") {
    val df = SparkEntry.queries("t05_lang_id")(spark, sfDir)
    assert(df.count() == Tables.documents(spark, sfDir).count())
    val langs = df.select("predicted_lang").distinct().collect().map(_.getString(0)).toSet
    assert(langs.subsetOf(Set("en", "de", "es", "fr", "zh")))
  }

  test("t06 quality scores stay in [0,1]") {
    val df = SparkEntry.queries("t06_quality_score")(spark, sfDir)
    assert(df.filter(col("quality") < 0 || col("quality") > 1).isEmpty)
  }

  test("t07 fingerprint is whitespace-insensitive") {
    import spark.implicits._
    val a = Seq((1L, "hello   world"), (2L, "hello world")).toDF("id", "text")
      .select(md5(regexp_replace(lower($"text"), "\\s+", " ")).as("fp"))
      .distinct()
    assert(a.count() == 1)
  }

  test("t08 ngram top-k: ranks are dense 1..k and counts non-increasing per source") {
    import spark.implicits._
    val df = SparkEntry.queries("t08_ngram_topk")(spark, sfDir).cache()
    assert(df.filter($"rank" < 1 || $"rank" > 10).isEmpty)
    // within each source, count never increases as rank increases
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"source").orderBy($"rank")
    val bad = df.withColumn("prev_n", lag($"n", 1).over(w))
      .filter($"prev_n".isNotNull && $"n" > $"prev_n")
    assert(bad.isEmpty)
    df.unpersist()
  }

  test("t08 rank filter compiles to a partial WindowGroupLimit") {
    assert(plan("t08_ngram_topk").contains("WindowGroupLimit"))
  }

  test("t10 stopword filter keeps duplicates/order and removes only stopwords") {
    import spark.implicits._
    val df = SparkEntry.queries("t10_stopword_filter")(spark, sfDir).cache()
    // no stopword survives as a standalone token
    val leaked = df.filter(
      regexp_count(concat(lit(" "), $"filtered_text", lit(" ")),
                   lit("\\s(the|a|and|of|to|in|is)\\s")) > 0)
    assert(leaked.isEmpty)
    // counts are consistent with the original token stream
    val joined = df.join(Tables.documents(spark, sfDir), "doc_id")
      .withColumn("orig_n", size(split(lower(trim($"text")), "\\s+")).cast("long"))
    assert(joined.filter($"n_kept" + $"n_removed" =!= $"orig_n").isEmpty)
    assert(df.filter($"n_removed" > 0).count() > 0, "corpus contains stopwords")
    df.unpersist()
  }

  test("t11 ac:image markup is rewritten to standard img tags") {
    import spark.implicits._
    val df = SparkEntry.queries("t11_image_normalize")(spark, sfDir).cache()
    assert(df.filter($"html".contains("ac:image") || $"html".contains("ri:attachment")).isEmpty,
      "storage-format markup must be fully rewritten")
    assert(df.filter(!$"html".contains("<img src=\"attachments/img")).isEmpty)
    df.unpersist()
  }

  test("t12 extracts every code block as its own indexed row") {
    import spark.implicits._
    val df = SparkEntry.queries("t12_code_extract")(spark, sfDir).cache()
    // two injected blocks per doc, indexed 0 and 1
    val perDoc = df.groupBy($"doc_id").count()
    assert(perDoc.filter($"count" =!= 2).isEmpty)
    assert(df.filter($"block_idx" === 1 && $"code" =!= "second block").isEmpty)
    assert(df.filter($"code".contains("[code]") || $"code".contains("[/code]")).isEmpty,
      "non-greedy match must not swallow delimiters")
    df.unpersist()
  }

  test("t15 tf-idf reads the corpus once: single explode, df via window not self-join") {
    val planned = physical(SparkEntry.queries("t15_tfidf")(spark, sfDir))
    val scans = planned.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    // corpus lineage + the n_docs scalar count — NOT separate tf/df passes
    assert(scans.length == 2, s"expected 2 parquet scans, got ${scans.length}:\n$planned")
    val generates = planned.collect {
      case g: org.apache.spark.sql.execution.GenerateExec => g
    }
    assert(generates.length == 1, s"corpus must explode once, got ${generates.length}")
    assert(!planned.toString.contains("SortMergeJoin"),
      s"df must attach via window, not a term self-join:\n$planned")
  }

  test("t18 entropy score: every token costs >= 1 bit, and a repeated-token doc scores the floor") {
    import spark.implicits._
    val df = SparkEntry.queries("t18_entropy_score")(spark, sfDir).cache()
    // quantized surprisal is bit_length(N div c) >= 1 per token
    assert(df.filter($"surprisal_bits" < $"n_tokens").isEmpty)
    assert(df.filter($"bits_per_token" < 1.0).isEmpty)
    // covers every doc with at least one token
    val withToks = Tables.documents(spark, sfDir)
      .filter(size(split(lower(trim($"text")), "\\s+")) > 0 && trim($"text") =!= "").count()
    assert(df.count() == withToks)
    // the corpus's single most frequent token is the cheapest: a doc of only
    // that token would score exactly bit_length(N div c_max) — sanity-check
    // the scale of the scores against that floor
    val floor = operators.TextOps.entropyScoreRaw(spark, sfDir)
      .agg(min($"bits_per_token")).head().getDouble(0)
    assert(floor >= 1.0 && floor <= df.agg(avg($"bits_per_token")).head().getDouble(0))
    df.unpersist()
  }

  test("t19 chunking: full coverage, exact overlap, and lossless reassembly") {
    import spark.implicits._
    val df = SparkEntry.queries("t19_chunk_overlap")(spark, sfDir).cache()
    // every chunk fits the budget; only the final chunk of a doc may be short
    assert(df.filter($"n_chunk_tokens" > 64).isEmpty)
    val lastPerDoc = df.groupBy($"doc_id").agg(max($"chunk_id").as("last_id"))
    assert(df.join(lastPerDoc, "doc_id")
      .filter($"chunk_id" < $"last_id" && $"n_chunk_tokens" =!= 64).isEmpty,
      "a non-final chunk is not exactly chunk-budget sized")
    // stride: consecutive chunk starts differ by exactly 48 (= 64 - 16)
    assert(df.filter($"start_tok" =!= $"chunk_id" * 48).isEmpty)
    // reassembly: chunk 0's tokens ++ (tokens after the 16-token overlap of
    // each later chunk) must equal the doc's full filtered token stream
    val reassembled = df
      .withColumn("contrib",
        when($"chunk_id" === 0, split($"chunk_text", " "))
          .otherwise(expr("slice(split(chunk_text, ' '), 17, 64)")))
      .groupBy($"doc_id")
      .agg(array_join(flatten(sort_array(collect_list(struct($"chunk_id", $"contrib")))
        .getField("contrib")), " ").as("rebuilt"))
    val original = Tables.documents(spark, sfDir)
      .select($"doc_id",
        array_join(expr("filter(split(lower(trim(text)), '\\\\s+'), t -> t <> '')"), " ")
          .as("orig"))
    assert(reassembled.join(original, "doc_id").filter($"rebuilt" =!= $"orig").isEmpty,
      "dropping each chunk's leading overlap must reconstruct the doc exactly")
    // no exchange before the presentation sort: chunking is a narrow map
    val planned = physical(SparkEntry.queries("t19_chunk_overlap")(spark, sfDir))
    val shuffles = planned.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(shuffles.forall(_.toString.contains("rangepartitioning")),
      s"chunking must not shuffle (only the final sort may exchange):\n$planned")
    df.unpersist()
  }

  test("t20 CMS heavy hitters: one-sided error and partition-count-independent merge") {
    import spark.implicits._
    import graft.functions.GraftFunctions.cmsAgg
    val df = SparkEntry.queries("t20_cms_heavy_hitters")(spark, sfDir).cache()
    assert(df.count() == 20)
    // the CMS guarantee: estimates NEVER undercount
    assert(df.filter($"cms_n" < $"true_n").isEmpty, "CMS undercounted a term")
    assert(df.filter(!$"is_overestimate").isEmpty)
    // exact side agrees with a direct recount
    val recount = Tables.documents(spark, sfDir)
      .select(explode(expr("filter(split(lower(trim(text)), '\\\\s+'), t -> t <> '')")).as("term"))
      .groupBy($"term").agg(count(lit(1)).as("n"))
    assert(df.join(recount, "term").filter($"true_n" =!= $"n").isEmpty)
    // merge correctness: the sketch is identical no matter how the input
    // partitions (elementwise-add merge is associative + commutative)
    graft.functions.GraftFunctions.register(spark)
    val terms = recount.select($"term", $"n")
    def sketchOf(parts: Int) =
      terms.repartition(parts).agg(cmsAgg($"term", $"n", lit(4), lit(64)).as("cms"))
        .head().getSeq[Long](0)
    assert(sketchOf(1) == sketchOf(7), "CMS merge is partition-count-dependent")
    // the top-k branch and the sketch branch share the term-counts exchange:
    // AQE must reuse it so the corpus is scanned once, not per branch
    val executed = SparkEntry.queries("t20_cms_heavy_hitters")(spark, sfDir)
    executed.collect()
    assert(executed.queryExecution.executedPlan.toString.contains("ReusedExchange"),
      "term-counts exchange must be reused across the top-k and sketch branches")
    df.unpersist()
  }

  test("t21 contamination score is a valid permille and agrees with the fuzzy screen") {
    import spark.implicits._
    val df = SparkEntry.queries("t21_contamination_score")(spark, sfDir).cache()
    // eval rows are never scored; scores are valid permilles
    assert(df.filter($"doc_id" % 7 === 3).isEmpty)
    assert(df.filter($"n_hits" > $"n_grams").isEmpty)
    assert(df.filter($"contam_permille" < 0 || $"contam_permille" > 1000).isEmpty)
    assert(df.filter($"contam_permille" =!= expr("n_hits * 1000 div n_grams")).isEmpty)
    // docs the fuzzy screen flags as eval near-copies must show overlap here:
    // d11 keeps the CLEAN docs, so every scored doc d11 dropped is a flagged
    // near-copy and should carry a nonzero contamination score
    val kept = SparkEntry.queries("d11_fuzzy_decontaminate")(spark, sfDir)
      .select("doc_id")
    val flagged = df.join(kept, Seq("doc_id"), "left_anti")
    assert(flagged.count() == 0 || flagged.filter($"contam_permille" === 0).count() == 0,
      "a doc flagged as a near-copy by d11 shows zero 8-gram overlap")
    df.unpersist()
  }

  test("t22 cross-doc repetition flags same-source shared grams, not cross-source or intra-doc") {
    import spark.implicits._
    // srcA: three docs share "the same header"; one private doc; one short doc.
    // srcB: one doc with the SAME gram — must not count toward srcA's df,
    // and df=1 in srcB keeps it unflagged there (BoilerMinDf=3).
    val docs = Seq(
      (1L, "the same header alpha beta", "srcA"),
      (2L, "the same header gamma delta", "srcA"),
      (3L, "the same header", "srcA"),
      (4L, "totally unique words here now", "srcA"),
      (5L, "ab cd", "srcA"), // < 3 tokens: zero grams, permille 0
      (6L, "the same header other source", "srcB"),
    ).toDF("doc_id", "text", "source")
    val r = graft.operators.TextOps.crossDocRepetitionOf(docs)
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2), x.getLong(3))).toMap
    assert(r.keySet == Set(1L, 2L, 3L, 4L, 5L, 6L), "every doc scores a row")
    // doc 3 has exactly one gram ("the same header"), shared by docs 1,2,3
    assert(r(3L) == ((1L, 1L, 1000L)), s"got ${r(3L)}")
    assert(r(1L)._1 == 3L && r(1L)._2 == 1L && r(1L)._3 == 333L)
    assert(r(4L) == ((3L, 0L, 0L)), "unique doc must be unflagged")
    assert(r(5L) == ((0L, 0L, 0L)), "gram-less doc scores zero, not a missing row")
    assert(r(6L)._2 == 0L, "same gram in another source must not be flagged")
    // plan shape: the flagged heavy-gram set comes back as a broadcast join
    val plan = graft.operators.TextOps.crossDocRepetitionOf(docs)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), "flagged-set join must broadcast")
  }

  test("t24 exact-substring spans: cross-doc windows merge into maximal islands") {
    import spark.implicits._
    val sA = (1 to 10).map("s" + _).mkString(" ") // 10-token shared run
    val sB = (1 to 8).map("z" + _).mkString(" ")  // exactly one window
    val sX = (1 to 8).map("x" + _).mkString(" ")
    val sY = (1 to 8).map("y" + _).mkString(" ")
    val docs = Seq(
      // doc 1: sA at 5-14 (starts 5..7), filler, sB at 25-32 (start 25);
      // gap 25-7=18 > K keeps the two islands separate
      (1L, s"a1 a2 a3 a4 $sA ${(1 to 10).map("f" + _).mkString(" ")} $sB t1 t2", "src"),
      (2L, s"b1 b2 $sA b3", "src"),                 // sA at 3-12 -> span (3, 10)
      (3L, s"c1 $sB c2 c3", "src"),                 // sB at 2-9 -> span (2, 8)
      (4L, "d1 d2 d3 d4 d5 d6 d7", "src"),          // < K tokens: no windows
      // doc 5: the SAME window twice inside ONE doc and nowhere else —
      // intra-doc repetition is t13's job, not a cross-doc duplicate
      (5L, s"${(1 to 8).map("r" + _).mkString(" ")} q ${(1 to 8).map("r" + _).mkString(" ")}", "src"),
      // docs 6/7: X and Y adjacent in 6 (starts 1 and 9, gap == K -> MERGE),
      // split by two tokens in 7 (starts 1 and 11, gap > K -> two spans)
      (6L, s"$sX $sY", "src"),
      (7L, s"$sX g1 g2 $sY", "src"),
    ).toDF("doc_id", "text", "source")
    val r = graft.operators.TextOps.exactSubstrSpansOf(docs)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet
    assert(r == Set(
      (1L, 5L, 10L), (1L, 25L, 8L),
      (2L, 3L, 10L),
      (3L, 2L, 8L),
      (6L, 1L, 16L),
      (7L, 1L, 8L), (7L, 11L, 8L)), s"got $r")
    // plan shape: the small duplicated-window set must come BACK as a
    // broadcast — the corpus side never reshuffles for the match
    val plan = graft.operators.TextOps.exactSubstrSpansOf(docs)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), "dup-window set join must broadcast")
  }

  test("t25 substring removal excises every t24 span, empty string when all-dup") {
    import spark.implicits._
    val sA = (1 to 10).map("s" + _).mkString(" ")
    val sB = (1 to 8).map("z" + _).mkString(" ")
    val sX = (1 to 8).map("x" + _).mkString(" ")
    val sY = (1 to 8).map("y" + _).mkString(" ")
    // same fixture as the t24 spec above — known spans per doc
    val docs = Seq(
      (1L, s"a1 a2 a3 a4 $sA ${(1 to 10).map("f" + _).mkString(" ")} $sB t1 t2", "src"),
      (2L, s"b1 b2 $sA b3", "src"),
      (3L, s"c1 $sB c2 c3", "src"),
      (4L, "d1 d2 d3 d4 d5 d6 d7", "src"),
      (5L, s"${(1 to 8).map("r" + _).mkString(" ")} q ${(1 to 8).map("r" + _).mkString(" ")}", "src"),
      (6L, s"$sX $sY", "src"),
      (7L, s"$sX g1 g2 $sY", "src"),
    ).toDF("doc_id", "text", "source")
    val r = graft.operators.TextOps.substrRemovalOf(docs)
      .collect().map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getString(3)))).toMap
    assert(r(1L) == ((34L, 18L, "a1 a2 a3 a4 " + (1 to 10).map("f" + _).mkString(" ") + " t1 t2")))
    assert(r(2L) == ((13L, 10L, "b1 b2 b3")))
    assert(r(3L) == ((11L, 8L, "c1 c2 c3")))
    assert(r(4L) == ((7L, 0L, "d1 d2 d3 d4 d5 d6 d7")), "span-free doc passes through intact")
    assert(r(5L)._2 == 0L, "intra-doc repeat is not a cross-doc span")
    assert(r(6L) == ((16L, 16L, "")), "fully-duplicated doc excises to the empty string, not NULL")
    assert(r(7L) == ((18L, 16L, "g1 g2")), "both spans excised, interior survivors keep order")
    assert(r.keySet == Set(1L, 2L, 3L, 4L, 5L, 6L, 7L), "every doc emits a row")
  }

  test("t26 BPE encoding brackets token counts and strictly compresses the corpus") {
    import spark.implicits._
    val df = SparkEntry.queries("t26_bpe_encode")(spark, sfDir).cache()
    // every doc with >= 1 word emits a row
    val nDocs = Tables.documents(spark, sfDir)
      .filter(size(split(trim(lower($"text")), "\\s+")) >= 1 && trim($"text") =!= "")
      .count()
    assert(df.count() == nDocs)
    // brackets: a word encodes to at least 1 and at most length(word) symbols
    assert(df.filter($"n_bpe_tokens" > $"n_char_symbols").isEmpty,
      "merging can never increase symbol count")
    assert(df.filter($"n_bpe_tokens" < $"n_words").isEmpty,
      "a word never encodes below one token")
    assert(df.filter($"compression" < 1.0).isEmpty)
    // the merges must actually bite: corpus-wide BPE mass strictly below
    // the character-symbol mass (3 greedy merges over this vocab always
    // fuse something — if not, induction or application broke)
    val (chars, bpe) = df.agg(sum($"n_char_symbols"), sum($"n_bpe_tokens"))
      .as[(Long, Long)].head()
    assert(bpe < chars, s"no merge ever applied: $bpe !< $chars")
    // conservation: word occurrences match a direct corpus count
    val words = Tables.documents(spark, sfDir)
      .select(explode(split(lower(trim($"text")), "\\s+")).as("t"))
      .filter($"t" =!= "").count()
    assert(df.agg(sum($"n_words")).head().getLong(0) == words)
    df.unpersist()
  }

  test("t09 redaction removes every email and phone and counts them") {
    import spark.implicits._
    val df = SparkEntry.queries("t09_pii_redact")(spark, sfDir).cache()
    assert(df.filter(regexp_count($"redacted",
      lit("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}")) > 0).isEmpty)
    assert(df.filter(regexp_count($"redacted", lit("\\b555-[0-9]{4}\\b")) > 0).isEmpty)
    assert(df.filter($"n_emails" < 1 || $"n_phones" < 1).isEmpty,
      "every row carries at least the injected email+phone")
    assert(df.filter(!$"redacted".contains("[EMAIL]") || !$"redacted".contains("[PHONE]")).isEmpty)
    df.unpersist()
  }

  test("regex_count/non_alnum_count kernels equal the builtin on corpus and edge strings") {
    import spark.implicits._
    import graft.functions.GraftFunctions.{nonAlnumCount, regexCount}
    // edge strings: empty, whitespace variants, all-punct, unicode incl. a
    // surrogate-pair emoji (ONE code point -> one match), CJK, mixed
    val edges = Seq("", " ", "\t\n\f\r", "!!!...###", "a,b;c:d",
      "héllo wörld", "漢字テスト", "mix 12a!😀ok", "😀😁",
      "plain alnum text 123").zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val corpus = Tables.documents(spark, sfDir).select($"doc_id", $"text")
      .as[(Long, String)].collect().toSeq
    val df = (edges ++ corpus.map { case (i, t) => (i + 10000, t) })
      .toDF("id", "text")
    val pats = Seq("[^A-Za-z0-9\\s]", "\\s+", "\\b(the|a|and|of|to|in|is)\\b",
      "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]")
    for (p <- pats) {
      val diff = df.filter(
        regexCount($"text", lit(p)) =!= regexp_count($"text", lit(p)))
      assert(diff.isEmpty, s"kernel count diverges from builtin for pattern $p")
    }
    val diffNa = df.filter(
      nonAlnumCount($"text") =!= regexp_count($"text", lit("[^A-Za-z0-9\\s]")))
    assert(diffNa.isEmpty,
      "non_alnum_count must equal regexp_count('[^A-Za-z0-9\\s]') on every string")
    // the words identity qualityCol relies on: separators+1 == size(split)
    val diffW = df.filter(
      regexCount(trim($"text"), lit("\\s+")) + 1 =!=
        size(split(trim($"text"), "\\s+")))
    assert(diffW.isEmpty, "separator+1 word count must equal size(split)")
  }

  test("t23 greedy fold: classic single-pass merge semantics, incl. chained same-char pairs") {
    import spark.implicits._
    // the fold's subtle contract: left-to-right, non-overlapping, and a
    // freshly merged token never re-merges within the pass. "aaaaa" with
    // pair (a,a) MUST give [aa, aa, a] — a naive delimited string-replace
    // diverges here (it yields [aa, a, aa])
    def fuse(term: String, a: String, b: String): String =
      Seq((term, a, b)).toDF("term", "a", "b")
        .select(expr("array_join(transform(sequence(1, length(term)), i -> substring(term, i, 1)), chr(31))").as("s"),
                $"a", $"b")
        .select(expr(operators.TextOps.bpeMergeFold).as("merged"))
        .head().getString(0).split('\u001F').mkString("|")
    assert(fuse("aaaaa", "a", "a") == "aa|aa|a")
    assert(fuse("abab", "a", "b") == "ab|ab")
    assert(fuse("aab", "a", "b") == "a|ab")
    assert(fuse("x", "a", "b") == "x")
    val df = SparkEntry.queries("t23_bpe_pairs")(spark, sfDir).cache()
    assert(df.count() == operators.TextOps.BpeLevels.toLong * operators.TextOps.BpeTopK)
    // per-level freq must be non-increasing in rank (the census is a top-k)
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"level").orderBy($"rank")
    assert(df.withColumn("prev", lag($"freq", 1).over(w))
      .filter($"prev".isNotNull && $"freq" > $"prev").isEmpty,
      "per-level census must be ordered by freq desc")
    df.unpersist()
  }

  test("t23 BPE induction job budget is the sequential-merge floor") {
    // r14 adjudication (verdict item 7): the only fusion candidates per
    // level are (census -> winner) and (winner -> fold). Both are already
    // fused as far as the semantics allow — the census top-k checkpoint IS
    // the level's output AND the winner's source (one job), the winner
    // broadcast is a collect off that 10-row checkpointed frame (sub-ms),
    // and the merge fold cannot start before the winner VALUE exists
    // because level l+1's census runs over the post-merge symbol streams
    // of level l (the learned merges would change otherwise). The corpus
    // is scanned exactly once (the initial vocab checkpoint); every other
    // job is vocabulary-bounded. Asserting the measured ceiling pins a
    // second corpus scan or a reintroduced per-level probe OUT.
    val cur = jobsRun("t23jc")(SparkEntry.queries("t23_bpe_pairs")(spark, sfDir).count())
    // measured on this fixture: 15 jobs = 8 semantic materializations
    // (1 vocab checkpoint + 3 census checkpoints + 2 winner broadcast
    // collects + 2 fold checkpoints) plus AQE's per-exchange stage jobs
    // (each exchange-bearing query runs its shuffle stage and its result
    // stage as separate jobs) and the final assembly count. The ceiling
    // pins a reintroduced corpus scan or per-level probe OUT while
    // tolerating AQE's job accounting.
    assert(cur <= 15, s"t23 ran $cur jobs — the sequential-merge floor is 15")
  }

  test("t18 LM artifact: precomputed LM round-trips, corpus never shuffles on term") {
    import spark.implicits._
    // the 100-TB posture: the corpus LM is a precomputed artifact joined
    // in, not re-derived inline every run — materialize it, score against
    // the read-back, and get bit-identical results
    val lmPath = java.nio.file.Files.createTempDirectory("graft_lm").toString + "/lm"
    operators.TextOps.corpusLm(spark, sfDir).write.mode("overwrite").parquet(lmPath)
    val scored = operators.TextOps.entropyScoreVs(spark, sfDir,
      spark.read.parquet(lmPath))
    val inline = operators.TextOps.entropyScoreRaw(spark, sfDir)
    assert(scored.exceptAll(inline).isEmpty && inline.exceptAll(scored).isEmpty,
      "artifact-scored surprisal must equal the inline derivation")
    // the LM is broadcast: no exchange may move doc-carrying rows on term
    // (the vocab agg itself exchanges only vocabulary-sized partial rows)
    for ((df, name) <- Seq((scored, "artifact"),
                           (SparkEntry.queries("t18_entropy_score")(spark, sfDir), "inline"))) {
      val planned = physical(df)
      assert(planned.toString.contains("BroadcastHashJoin"),
        s"$name LM join must broadcast:\n$planned")
      val termShuffles = planned.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
            if e.outputPartitioning.toString.contains("term") &&
               e.child.output.exists(_.name == "doc_id") => e
      }
      assert(termShuffles.isEmpty,
        s"$name plan shuffles the corpus token stream on term:\n$planned")
    }
  }

  test("t27 rule gate: verdict is the AND of the rules, rules discriminate, scan-local") {
    val df = SparkEntry.queries("t27_rule_gate")(spark, sfDir)
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val expected = r.getAs[Boolean]("rule_word_count") &&
        r.getAs[Boolean]("rule_mean_len") &&
        r.getAs[Boolean]("rule_stopwords") && r.getAs[Boolean]("rule_diversity")
      assert(r.getAs[Boolean]("pass") == expected, s"pass != AND of rules: $r")
    }
    // a gate where every doc passes (or every doc fails) tests nothing:
    // the 10-99-word corpus must exercise both sides of the word-count rule
    val wc = rows.map(_.getAs[Boolean]("rule_word_count"))
    assert(wc.exists(identity) && wc.exists(!_),
      "word-count rule did not discriminate on this corpus")
    val planned = physical(df)
    val shuffles = planned.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(shuffles.forall(_.outputPartitioning.isInstanceOf[
        org.apache.spark.sql.catalyst.plans.physical.RangePartitioning]),
      s"t27 must be scan-local before the output sort:\n$planned")
  }

  test("t29 chunk boilerplate: conservation, t28 agreement, synthetic full excision") {
    import spark.implicits._
    import graft.operators.TextOps
    val df = SparkEntry.queries("t29_chunk_boilerplate")(spark, sfDir).cache()
    // conservation: surviving tokens + removed == original count
    val survived = when($"clean_text" === "", 0L)
      .otherwise(size(split($"clean_text", " ")).cast("long"))
    assert(df.filter(survived + $"removed_tokens" =!= $"n_tokens").isEmpty,
      "token conservation violated")
    // agreement with t28's copy counts: removed mass per doc is exactly
    // the doc's chunks at or above the boilerplate threshold
    val expected = SparkEntry.queries("t28_cdc_chunks")(spark, sfDir)
      .filter($"n_copies" >= TextOps.BoilerplateCopies)
      .groupBy($"doc_id").agg(sum($"n_toks").as("exp_removed"))
    assert(df.join(expected, Seq("doc_id"), "left")
      .filter($"removed_tokens" =!= coalesce($"exp_removed", lit(0L))).isEmpty,
      "removed mass disagrees with the t28 chunk report")
    // the threshold bites on this data, and not everything is boilerplate
    assert(df.filter($"removed_tokens" > 0L).limit(1).count() == 1L)
    assert(df.filter($"removed_tokens" === 0L).limit(1).count() == 1L)
    df.unpersist()
    // synthetic: three identical docs = every chunk at 3 copies -> fully
    // excised; the distinct doc survives verbatim
    val boiler = "one two three four five six seven eight nine ten"
    val tmp = java.nio.file.Files.createTempDirectory("t29").toString
    Seq((1L, boiler), (2L, boiler), (3L, boiler), (4L, "alpha beta gamma delta"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("srcX"))
      .withColumn("n_chars", length($"text"))
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val syn = SparkEntry.queries("t29_chunk_boilerplate")(spark, tmp)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(syn(1L) == "" && syn(2L) == "" && syn(3L) == "", s"copies must vanish: $syn")
    assert(syn(4L) == "alpha beta gamma delta", s"unique doc must survive: $syn")
  }

  test("t28 cdc chunks: exact tiling, kernel pin, self-healing boundaries, one exchange") {
    import spark.implicits._
    import graft.operators.TextOps
    val df = SparkEntry.queries("t28_cdc_chunks")(spark, sfDir).cache()
    val toks = Tables.documents(spark, sfDir)
      .select($"doc_id", split(lower(trim($"text")), "\\s+").as("t"))
    // chunks tile every doc's token array exactly, contiguously, gap-free
    val per = df.groupBy($"doc_id").agg(sum($"n_toks").as("toks"),
      count(lit(1)).as("n_chunks"), max($"chunk_idx").as("last"))
    assert(per.join(toks, "doc_id").filter($"toks" =!= size($"t")).isEmpty,
      "chunks must cover every token exactly once")
    assert(per.filter($"n_chunks" =!= $"last").isEmpty, "chunk ids must be gap-free")
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id").orderBy($"chunk_idx")
    assert(df.withColumn("prev_end", lag($"start_tok" + $"n_toks", 1).over(byDoc))
      .filter($"prev_end".isNotNull && $"start_tok" =!= $"prev_end").isEmpty,
      "chunk k+1 must start right after chunk k")
    // kernel pin: gram_hashes31 ≡ poly31 of each space-joined shingle string
    graft.functions.GraftFunctions.register(spark)
    assert(toks.limit(50).select(
        expr("gram_hashes31(t, 3)").as("g"),
        expr("transform(shingle_strings(t, 3), x -> element_at(gram_hashes31(array(x), 1), 1))").as("h"))
      .filter(!($"g" <=> $"h")).isEmpty,
      "gram_hashes31 must equal poly31 over the materialized shingle strings")
    // self-healing: prepend one token — every original boundary survives
    // (its window content is intact, just shifted), so the chunks after the
    // FIRST original cut are identical in content and digest
    val longDoc = Tables.documents(spark, sfDir)
      .orderBy(desc("n_chars"), $"doc_id").select($"text").head().getString(0)
    val ch = TextOps.cdcChunksOf(
        Seq((1L, longDoc), (2L, "zzz " + longDoc)).toDF("doc_id", "text"))
      .select($"doc_id", $"chunk_idx", $"chunk_hash").collect()
    val a = ch.filter(_.getLong(0) == 1L).sortBy(_.getLong(1)).map(_.getLong(2))
    val b = ch.filter(_.getLong(0) == 2L).sortBy(_.getLong(1)).map(_.getLong(2))
    assert(a.length >= 2, s"fixture doc chunks too coarse: ${a.length}")
    val m = a.length - 1
    assert(b.length >= m && b.takeRight(m).sameElements(a.takeRight(m)),
      s"digests after the edit region must survive: ${a.toSeq} vs ${b.toSeq}")
    // and a fixed-size chunker would NOT heal: the token shift changes
    // every downstream fixed boundary, so at least one a-digest must
    // differ from b's when compared head-aligned (guards the fixture)
    assert(!a.sameElements(b.take(a.length)))
    // shape: the only hash exchange is the chunk-digest copy-count window
    val planned = physical(SparkEntry.queries("t28_cdc_chunks")(spark, sfDir))
    val hashShuffles = planned.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
        if !e.outputPartitioning.isInstanceOf[
          org.apache.spark.sql.catalyst.plans.physical.RangePartitioning] => e
    }
    assert(hashShuffles.size <= 1,
      s"t28 must shuffle the corpus once, on chunk_hash:\n$planned")
    df.unpersist()
  }

  test("t30 surprisal: exact whole-bit fixture, rare tokens outscore common ones") {
    import spark.implicits._
    // census: the:4, xyzzy:1, plugh:1 -> total 6; bits(6)=3, bits(4)=3,
    // bits(1)=1 — doc 1 scores 0 bits/token, doc 2 scores 2 bits/token
    val docs = Seq((1L, "the the the the"), (2L, "xyzzy plugh")).toDF("doc_id", "text")
    val got = operators.TextOps.surprisalOf(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(1L) == ((4L, 0L, 0L)), s"common-token doc: ${got(1L)}")
    assert(got(2L) == ((2L, 4L, 2000L)), s"rare-token doc: ${got(2L)}")
    // corpus-level: every doc scored, surprisal non-negative, and docs made
    // of rarer vocabulary rank above the corpus median doc
    val df = SparkEntry.queries("t30_surprisal")(spark, sfDir).cache()
    assert(df.count() == Tables.documents(spark, sfDir).count())
    assert(df.filter($"sum_surprisal_bits" < 0 || $"n_toks" <= 0).isEmpty)
    assert(df.filter($"mean_surprisal_millibits" > 0).count() > 0)
    df.unpersist()
  }

  test("t31 sectioning: heading paths carry context, fan-out follows the parity rule") {
    val s = spark
    import s.implicits._
    val df = SparkEntry.queries("t31_html_sections")(spark, sfDir).cache()
    try {
      val docs = Tables.documents(spark, sfDir).count()
      // 4 sections for even doc_ids (intro + 3 h2), 3 for odd
      val byDoc = df.groupBy($"doc_id").count()
      assert(byDoc.filter(($"doc_id" % 2 === 0 && $"count" =!= 4) ||
        ($"doc_id" % 2 === 1 && $"count" =!= 3)).isEmpty)
      assert(byDoc.count() == docs, "every doc must section")
      // the intro row's path is the bare h1; every h2 row extends it
      val joined = df.join(Tables.documents(spark, sfDir), "doc_id")
      assert(joined.filter($"sec_idx" === 0 && $"heading_path" =!= $"source").isEmpty)
      assert(joined.filter($"sec_idx" > 0 &&
        !$"heading_path".startsWith(concat($"source", lit(" > ")))).isEmpty)
      // tag-stripped bodies: no markup survives, every section has tokens
      assert(df.filter($"sec_text".contains("<") || $"sec_text".contains(">")).isEmpty)
      assert(df.filter($"n_tokens" <= 0).isEmpty)
    } finally df.unpersist()
  }

  test("t32 markdown export: structure converts, markup never leaks") {
    val s = spark
    import s.implicits._
    val df = SparkEntry.queries("t32_markdown_export")(spark, sfDir).cache()
    try {
      val joined = df.join(Tables.documents(spark, sfDir), "doc_id")
      assert(joined.filter(!$"markdown".startsWith(concat(lit("# "), $"source"))).isEmpty)
      // ## count must equal n_headings - 1 (the h1 is the only # heading)
      assert(df.filter(
        graft.functions.GraftFunctions.regexCount($"markdown", lit("## "))
          .cast("long") =!= $"n_headings" - 1).isEmpty)
      assert(df.filter($"n_links" =!= 1 || $"n_bold" =!= 1).isEmpty)
      // conversion is total: no tag survives into the markdown
      assert(df.filter($"markdown".rlike("</?[a-z]")).isEmpty)
      assert(df.filter(!$"markdown".contains("](https://docs.example/") ||
        !$"markdown".contains("**")).isEmpty)
    } finally df.unpersist()
  }

  test("t35 script mix: ppms partition, dominance follows the planted suffix, scan-local") {
    import spark.implicits._
    val df = SparkEntry.queries("t35_script_mix")(spark, sfDir).cache()
    try {
      // script ppms can never exceed the whole, and the planted suffix
      // makes each residue class dominant in its own script
      assert(df.filter($"latin_ppm" + $"cyr_ppm" + $"cjk_ppm" + $"arab_ppm"
        > 1000000L).isEmpty, "script ppms must partition the char mass")
      val expect = Map(0L -> "latin", 1L -> "cyrillic", 2L -> "cjk", 3L -> "arabic")
      val wrong = df.withColumn("want",
          element_at(map(expect.flatMap { case (k, v) => Seq(lit(k), lit(v)) }.toSeq: _*),
            pmod($"doc_id", lit(4L))))
        .filter($"dominant" =!= $"want")
      assert(wrong.isEmpty, s"dominance must follow the planted script")
      // suffix-free docs are pure latin and unmixed; suffixed docs mix
      assert(df.filter(pmod($"doc_id", lit(4L)) === 0L && $"is_mixed").isEmpty)
      assert(df.filter(pmod($"doc_id", lit(4L)) =!= 0L && !$"is_mixed").isEmpty)
      // pure map stage
      val ex = deepExchanges(physical(SparkEntry.queries("t35_script_mix")(spark, sfDir)))
      assert(ex.forall(_.outputPartitioning.toString.contains("range")),
        s"script mix must be scan-local, got ${ex.map(_.outputPartitioning)}")
    } finally df.unpersist()
  }

  test("t34 DSIR: target-vocab docs outrank disjoint-vocab docs, quota holds") {
    import spark.implicits._
    // target (src0) speaks vocab A; doc 10 (srcX) is pure vocab A, doc 11
    // pure vocab B — the importance ratio must order 10 above 11
    // vocab-B words repeat in the pool: an add-one-smoothed SINGLETON is
    // not evidence against the target (cnt_raw = cnt_tgt = 1 scores ~0)
    val docs = (
      (0 until 5).map(i => (i.toLong, "apple berry cherry apple berry", "src0")) ++
      Seq((10L, "apple berry cherry berry apple", "srcX"),
          (11L, "zebra quark zebra quark zebra", "srcX"),
          (12L, "apple zebra berry quark cherry", "srcX"))
    ).toDF("doc_id", "text", "source")
    val out = operators.TextOps.dsirOf(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    val m = (id: Long) => out(id).getAs[Long]("mean_imp_milli")
    assert(m(10) > m(12) && m(12) > m(11),
      s"importance must order by target-vocab share: ${m(10)}, ${m(12)}, ${m(11)}")
    assert(!out(0).getAs[Boolean]("selected"), "target docs never select")
    assert(out(10).getAs[Boolean]("selected"), "top target-like doc selects")
    // real corpus: selection ~ top quarter of the non-target pool (tie
    // block may overshoot, never undershoot)
    val df = SparkEntry.queries("t34_dsir_weights")(spark, sfDir).cache()
    try {
      val pool = df.filter($"source" =!= operators.TextOps.DsirTarget).count()
      val sel = df.filter($"selected").count()
      assert(sel >= (pool + 3) / 4, s"quota undershoot: $sel of $pool")
      assert(sel <= pool / 2, s"tie overshoot implausibly large: $sel of $pool")
      val minSel = df.filter($"selected").agg(min($"mean_imp_milli")).head().getLong(0)
      val maxUnsel = df.filter(!$"selected" && $"source" =!= operators.TextOps.DsirTarget)
        .agg(max($"mean_imp_milli")).head().getLong(0)
      assert(minSel > maxUnsel, "selection must be a clean score cut")
    } finally df.unpersist()
  }

  test("t33 classifier gate: score is the exact feature dot product, gate non-degenerate") {
    import spark.implicits._
    val df = SparkEntry.queries("t33_classifier_gate")(spark, sfDir).cache()
    try {
      // the score column IS the inlined linear model — replay it
      val bad = df.filter($"score" =!=
        lit(4L) * $"f_stop_ppm" + $"f_div_ppm"
          - lit(150L) * abs($"f_len_x1000" - 4500L)
          + lit(2000L) * least($"n_words", lit(100L))
          - lit(operators.TextOps.ClfBias))
      assert(bad.isEmpty, "score must equal the weight dot product")
      assert(df.filter($"keep" =!= ($"score" >= 0L)).isEmpty)
      assert(df.filter($"margin" =!= abs($"score")).isEmpty)
      // decision boundary must cut the corpus, not rubber-stamp it
      val n = df.count(); val kept = df.filter($"keep").count()
      assert(kept > 0 && kept < n, s"degenerate gate: $kept/$n")
      // margin is the triage signal: some docs live near the boundary
      assert(df.filter($"margin" < 50000L).count() > 0, "no near-boundary docs")
      // pure map stage: zero exchanges before the presentation sort
      val ex = deepExchanges(physical(
        SparkEntry.queries("t33_classifier_gate")(spark, sfDir)))
      assert(ex.forall(_.outputPartitioning.toString.contains("range")),
        s"classifier gate must be scan-local, got ${ex.map(_.outputPartitioning)}")
    } finally df.unpersist()
  }

  test("TextOps.words and nonEmptyWords on edge inputs") {
    import spark.implicits._
    import graft.operators.TextOps.{nonEmptyWords, words}
    val inputs = Seq("", "   ", "  a b  ", "\ta\tb\n", "a \n\t b", "a\u00a0b \u00a0",
      "\u0130stanbul \u1e9e STRASSE", " \u00c0B  \u00c7 ", null)
    val rows = inputs.toDF("text").select(
        words($"text").as("w"), split(trim(lower($"text")), "\\s+").as("w_tl"),
        nonEmptyWords($"text").as("ne"),
        expr("filter(split(lower(trim(text)), '\\\\s+'), t -> t <> '')").as("ne_lambda"))
      .collect().toSeq
    def toks(i: Int): Seq[Seq[String]] = rows.map(r => Option(r.getSeq[String](i)).orNull)
    // lower never makes or removes a U+0020, so the two orders tokenize alike
    assert(toks(0) == toks(1))
    assert(toks(2) == toks(3), "array_remove(words, \"\") is the old non-empty lambda form")
    // trim strips U+0020 only: tabs, newlines and NBSP stay in the split
    assert(toks(0) == Seq(Seq(""), Seq(""), Seq("a", "b"), Seq("", "a", "b", ""), Seq("a", "b"),
      Seq("a\u00a0b", "\u00a0"), toks(0)(6), Seq("\u00e0b", "\u00e7"), null))
    assert(toks(0)(6).size == 3 && toks(0)(6)(2) == "strasse")
    assert(toks(2) == Seq(Seq(), Seq(), Seq("a", "b"), Seq("a", "b"), Seq("a", "b"),
      Seq("a\u00a0b", "\u00a0"), toks(0)(6), Seq("\u00e0b", "\u00e7"), null))
  }
}
