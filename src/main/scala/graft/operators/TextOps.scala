package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Materialize, Tables}

/** Text / markup processing — SURVEY.md §2.C.
  *
  * Mirrors the reference's HTML cleaning (/root/reference/utilities/
  * html_cleaner.py:26-45), filename sanitization (/root/reference/
  * output_generator/html_generator.py:284-302) and MIME mapping
  * (html_generator.py:259-282), plus the LLM-pipeline text-analysis ops
  * (token counting, language ID, quality scoring, fingerprinting).
  *
  * Everything is built from codegen'd built-in expressions — regex patterns
  * are restricted to the subset where Java regex (Spark) and RE2 (DuckDB)
  * agree, so the same logic is oracle-checkable.
  */
object TextOps {

  /** Wrap plain text into markup deterministically (both engines can), then
    * clean it the way the reference does: drop script/style blocks, strip
    * CDATA markers, strip remaining tags, collapse whitespace.
    */
  def htmlClean(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val raw = concat(
      lit("<html><head><script type=\"x\">junk()</script><style>.a{}</style></head><body><p>"),
      $"text", lit("</p><![CDATA[cdata-junk]]><div class=\"footer\">end</div></body></html>"))
    val cleaned =
      regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(
              regexp_replace(raw, "<script[^>]*>[^<]*</script>", ""),
              "<style[^>]*>[^<]*</style>", ""),
            "<!\\[CDATA\\[|\\]\\]>", ""),
          "<[^>]+>", " "),
        "\\s+", " ")
    Tables.documents(s, dir)
      .select($"doc_id", trim(cleaned).as("cleaned"))
      .orderBy($"doc_id")
  }

  /** Title -> filesystem-safe filename: replace the reference's invalid char
    * set with '_', collapse runs, trim, length-limit.
    */
  def sanitizeFilename(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val title = concat($"source", lit(" <"), substring($"text", 1, 24), lit(">: v?"))
    val safe = substring(
      regexp_replace(lower(title), "[<>:\"/\\\\|?*]", "_"), 1, 60)
    Tables.documents(s, dir)
      .select($"doc_id", safe.as("filename"))
      .orderBy($"doc_id")
  }

  /** Extension -> MIME mapping (html_generator.py:259-282 table). */
  def mimeFromExtension(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ext = element_at(split(lit("png,jpg,gif,svg,webp,txt"), ","),
                         ($"doc_id" % 6 + 1).cast("int"))
    val filename = concat(lit("attachment_"), $"doc_id", lit("."), ext)
    val mime = when(ext === "jpg", "image/jpeg")
      .when(ext === "png", "image/png")
      .when(ext === "gif", "image/gif")
      .when(ext === "svg", "image/svg+xml")
      .when(ext === "webp", "image/webp")
      .otherwise("application/octet-stream")
    Tables.documents(s, dir)
      .select($"doc_id", filename.as("filename"), mime.as("mime"))
      .orderBy($"doc_id")
  }

  /** Token counting: whitespace tokens + a BPE-ish lexer regex count. */
  def tokenCount(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select(
        $"doc_id",
        size(split(trim($"text"), "\\s+")).cast("long").as("ws_tokens"),
        graft.functions.GraftFunctions.regexCount(
          $"text", lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]")).cast("long").as("bpe_tokens"),
        length($"text").cast("long").as("char_len"))
      .orderBy($"doc_id")
  }

  /** Stopword/char-class heuristic language ID. Scores each candidate
    * language by hit-count of its marker words; ties break lexicographically
    * on (score, code) via greatest-over-structs. Purely per-row ->
    * embarrassingly parallel, and fully deterministic, so the whole chain is
    * mirrored by the t05 DuckDB oracle (regex counts via
    * LEN(REGEXP_EXTRACT_ALL), the CJK range via RE2 \x{...} escapes, the
    * argmax via list_sort of structs) — keep the SQL in sync when touching
    * the marker patterns.
    */
  def langId(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val markers: Seq[(String, String)] = Seq(
      "en" -> "\\b(the|and|of|to|a|is)\\b",
      "de" -> "\\b(der|die|und|das|ist|ein)\\b",
      "es" -> "\\b(el|la|de|que|los|es)\\b",
      "fr" -> "\\b(le|la|et|les|des|est)\\b",
      "zh" -> "[\\u4e00-\\u9fff]")
    val scored = markers.foldLeft(Tables.documents(s, dir).select($"doc_id", $"text", $"lang")) {
      case (df, (code, pat)) => df.withColumn(s"score_$code",
        graft.functions.GraftFunctions.regexCount(lower($"text"), lit(pat)))
    }
    val best = markers.map { case (code, _) =>
      struct(col(s"score_$code").as("score"), lit(code).as("code"))
    }
    scored
      .withColumn("pred", greatest(best: _*))
      .select($"doc_id", $"lang".as("labeled_lang"), $"pred.code".as("predicted_lang"),
              $"pred.score".as("marker_hits"))
      .orderBy($"doc_id")
  }

  /** The t06 quality score (length / punctuation / stopword ratios) as a
    * reusable column — d21 calibrates per-source cutoffs over the same
    * formula. Fixed-shape double arithmetic (identical IEEE evaluation
    * order in both engines), then floor(x*1e4 + 0.5)/1e4 instead of
    * round(x, 4): pure IEEE ops evaluate bit-identically in Spark and
    * DuckDB, while their ROUNDs break .00005 ties differently
    * (decimal-expansion HALF_UP vs scaled-nearbyint).
    */
  private[graft] def qualityCol: Column = {
    // match counting goes through the codegen'd regex_count kernel: the
    // built-in regexp_count is RuntimeReplaceable as
    // size(regexp_extract_all(...)), whose per-match UTF8String array was
    // ~85% of the quality pass at the 10x SF (measured: 1.75s -> 0.4s per
    // corpus scan). Counts — and thus every oracle value — are identical
    // (same java.util.regex find() traversal). `words` counts separators+1,
    // provably equal to size(split(trim, \s+)) for every input incl. empty
    // and leading/trailing whitespace (split keeps empty edge tokens).
    import graft.functions.GraftFunctions.{nonAlnumCount, regexCount}
    val text  = col("text")
    val chars = length(text).cast("double")
    val punct = nonAlnumCount(text).cast("double")
    val words = (regexCount(trim(text), lit("\\s+")) + lit(1L)).cast("double")
    val stop  = regexCount(lower(text), lit("\\b(the|a|and|of|to|in|is)\\b")).cast("double")
    val lenScore  = least(lit(1.0), chars / lit(500.0))
    val punctPen  = punct / (chars + lit(1.0))
    val stopRatio = stop / (words + lit(1.0))
    val raw = lit(0.5) * lenScore + lit(0.25) * (lit(1.0) - punctPen) + lit(0.25) * stopRatio
    floor(raw * lit(10000.0) + lit(0.5)) / lit(10000.0)
  }

  /** The content fingerprint: md5 of whitespace-normalized lowercase text,
    * the one exact-dedup, decontamination and erasure key. */
  private[graft] def contentFp: Column = md5(regexp_replace(lower(col("text")), "\\s+", " "))

  /** The word-token rule: lowercase tokens of the trimmed text split on
    * whitespace runs, as every text, dedup and packing operator (and its
    * DuckDB oracle) counts them. Empty text gives one empty token. */
  private[graft] def words(text: Column): Column = split(lower(trim(text)), "\\s+")

  /** [[words]] without the empty token that empty or blank text yields. */
  private[graft] def nonEmptyWords(text: Column): Column = array_remove(words(text), "")

  def qualityScore(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id", qualityCol.as("quality"), $"n_chars")
      .orderBy($"doc_id")
  }

  /** Top-k word bigrams per space — corpus n-gram statistics, the frequency
    * layer a training pipeline needs for contamination screens and stopword
    * discovery. One explode + one shuffle to (source, bigram) counts; the
    * rank filter compiles to WindowGroupLimit, so each partition keeps only
    * its local top-k before the final window shuffle.
    */
  def ngramTopK(s: SparkSession, dir: String, k: Int = 10): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val toks = words($"text")
    val n = size(toks)
    val bigrams = zip_with(
      slice(toks, lit(1), greatest(n - 1, lit(0))),
      slice(toks, lit(2), greatest(n - 1, lit(0))),
      (a, b) => concat(a, lit(" "), b))
    val counts = Tables.documents(s, dir)
      .select($"source", explode(bigrams).as("bigram"))
      .groupBy($"source", $"bigram")
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy($"source").orderBy($"n".desc, $"bigram".asc)
    counts
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= k)
      .select($"source", $"rank", $"bigram", $"n")
      .orderBy($"source", $"rank")
  }

  /** Per-source distinctive terms by TF-IDF: tf = term frequency within the
    * source's corpus, idf = N_docs / df (LINEAR inverse document frequency —
    * one integer multiply and one IEEE division, so Spark and DuckDB agree
    * bit-exactly where log-idf would be at the mercy of each engine's libm
    * ulp; production scoring swaps in ln(N/df) without changing the plan).
    * Plan shape: ONE corpus lineage, no self-join. The explode partial-aggs
    * into a per-(doc, source, term) shuffle (the only corpus-scale
    * exchange); a second vocab-sized aggregate yields per-(source, term)
    * occurrence and doc counts in one pass, and df attaches as a window
    * sum over term — a doc has exactly one source, so summing per-source
    * doc counts across sources IS the document frequency. Everything after
    * the first exchange is vocabulary-bounded.
    */
  def tfidfTopTerms(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, dir)
    val perDoc = docs
      .select($"doc_id", $"source", explode(words($"text")).as("term"))
      .filter($"term" =!= "")
      .groupBy($"doc_id", $"source", $"term").agg(count(lit(1)).as("c"))
    val st = perDoc.groupBy($"source", $"term")
      .agg(sum($"c").as("tf"), count(lit(1)).as("sdf"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy($"source").orderBy($"score".desc, $"term".asc)
    st.withColumn("df", sum($"sdf").over(Window.partitionBy($"term")))
      .crossJoin(broadcast(n))
      .withColumn("score", ($"tf" * $"n_docs").cast("double") / $"df")
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= k)
      .select($"source", $"rank", $"term", $"tf", $"df", $"score")
      .orderBy($"source", $"rank")
  }

  /** Edit-distance scan between neighboring documents — the fuzzy
    * title/heading matcher (catching near-identical prefixes exact hashing
    * misses, with typo tolerance LSH shingles only approximate). Pairs each
    * doc with its successor inside the source via one window pass and
    * computes Levenshtein over 40-char prefixes — standard unit-cost DP
    * both engines implement identically, so the distances hash-compare
    * exactly. Per-pair cost is O(40^2) row-local work after one shuffle.
    */
  def editDistancePairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"source").orderBy($"doc_id")
    Tables.documents(s, dir)
      .select($"doc_id", $"source", substring($"text", 1, 40).as("head"))
      .withColumn("next_id", lead($"doc_id", 1).over(w))
      .withColumn("next_head", lead($"head", 1).over(w))
      .filter($"next_id".isNotNull)
      .select($"source", $"doc_id", $"next_id",
              levenshtein($"head", $"next_head").cast("long").as("edit_dist"))
      .orderBy($"source", $"doc_id")
  }

  /** Token-frequency spectrum — the Zipf-curve summary corpus audits use to
    * sanity-check composition drift: term frequencies binned by bit length
    * (floor(log2 f)+1, computed EXACTLY as the binary-string length so no
    * floating log wobbles at bin boundaries), with term count and occurrence
    * mass per bin. After the first aggregate everything is vocab-sized; the
    * corpus crosses one partial-aggregated shuffle.
    */
  def tokenSpectrum(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select(explode(words($"text")).as("term"))
      .filter($"term" =!= "")
      .groupBy($"term").agg(count(lit(1)).as("f"))
      .groupBy(length(bin($"f")).cast("long").as("bucket_bits"))
      .agg(count(lit(1)).as("n_terms"), sum($"f").as("total_occurrences"))
      .orderBy($"bucket_bits")
  }

  /** Unigram cross-entropy quality score (driver key t18) — the
    * information-theoretic gate next to t06's surface heuristics: a doc's
    * mean per-token surprisal against the corpus unigram LM. Low scores mean
    * boilerplate/repetition (every token is corpus-frequent), high scores
    * mean gibberish (tokens the corpus has never seen). Surprisal is
    * QUANTIZED log2 so both engines agree bit-for-bit: per token,
    * bits = bit_length(N div c_t) (binary-string length, the t16 trick) —
    * all-integer arithmetic plus one final IEEE long/long division, so the
    * score hash-compares exactly with DuckDB, where a floating ln() would
    * wobble at ulp scale. Shape at 100 TB: one corpus scan to doc-term
    * counts, a vocab-sized partial-aggregated shuffle, a vocab-keyed join,
    * and a doc-keyed final aggregate — no corpus-sized exchange carries
    * more than (doc, distinct-term) rows.
    */
  def entropyScore(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    entropyScoreRaw(s, dir).orderBy($"doc_id")
  }

  /** [[entropyScore]] without the presentation sort — the composable form
    * p19 joins against (an interior orderBy would cost a pointless range
    * exchange mid-plan).
    */
  /** The corpus LM t18/p19 score against: one row per vocabulary term with
    * its quantized-log2 surprisal bits = bit_length(n_total div c). One
    * partial-aggregated corpus pass, vocabulary-sized output. The LM is
    * BROADCAST at the scoring join — a tokenizer vocabulary (BPE-ish) is
    * bounded at ~10^5-10^6 rows regardless of corpus size, so the corpus
    * token stream never shuffles on term; for an open (untokenized)
    * vocabulary the LM persists as a term-bucketed artifact instead and the
    * scoring join aligns to its buckets (the d20 index pattern —
    * round-trip + plan proven in PlansSpec "t18 LM artifact").
    */
  private[graft] def corpusLm(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tf = Tables.documents(s, dir)
      .select(explode(words($"text")).as("term"))
      .filter($"term" =!= "")
      .groupBy($"term").agg(count(lit(1)).as("c"))
    val n = tf.agg(sum($"c").as("n_total"))
    tf.crossJoin(broadcast(n))
      .select($"term", length(bin(expr("n_total div c"))).cast("long").as("bits"))
  }

  /** Per-doc surprisal vs the corpus LM. Round-4 shape shuffled the
    * (doc_id, term) counts TWICE on term (vocab derivation + LM join) —
    * the p19 sf1 regression; now the token stream broadcast-joins the
    * precomputed per-term bits and partial-aggregates straight to per-doc
    * rows: the corpus crosses ONE exchange (doc_id), the LM none.
    * Summing bits per token occurrence ≡ summing k·bits per distinct term.
    */
  private[graft] def entropyScoreRaw(s: SparkSession, dir: String): DataFrame =
    entropyScoreVs(s, dir, corpusLm(s, dir))

  /** Scoring against a caller-supplied LM table (term, bits) — the seam the
    * precomputed/bucketed-artifact path shares with the inline key.
    */
  private[graft] def entropyScoreVs(s: SparkSession, dir: String,
                                    lm: DataFrame): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id", explode(words($"text")).as("term"))
      .filter($"term" =!= "")
      .join(broadcast(lm), "term")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum($"bits").as("surprisal_bits"))
      .withColumn("bits_per_token", $"surprisal_bits" / $"n_tokens")
  }

  /** PII redaction: inject deterministic synthetic contact strings (so both
    * engines see identical inputs), then mask emails and phone-shaped tokens
    * and count what was masked. Pure per-row regex -> embarrassingly
    * parallel, stays inside whole-stage codegen.
    */
  def piiRedact(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val phonePat = "\\b555-[0-9]{4}\\b"
    val pii = concat($"text", lit(" Contact user"), $"doc_id".cast("string"),
                     lit("@example.com or call 555-"),
                     lpad(($"doc_id" % 10000).cast("string"), 4, "0"), lit(" now."))
    Tables.documents(s, dir)
      .select($"doc_id",
        regexp_replace(regexp_replace(pii, emailPat, "[EMAIL]"), phonePat, "[PHONE]")
          .as("redacted"),
        graft.functions.GraftFunctions.regexCount(pii, lit(emailPat)).cast("long").as("n_emails"),
        graft.functions.GraftFunctions.regexCount(pii, lit(phonePat)).cast("long").as("n_phones"))
      .orderBy($"doc_id")
  }

  /** Stopword filtering: drop function words from the token stream, keeping
    * duplicates and order (array_except would dedup — wrong for token
    * streams). Higher-order array functions stay codegen'd; no UDF.
    */
  val Stopwords: Seq[String] = Seq("the", "a", "and", "of", "to", "in", "is")
  def stopwordFilter(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = words($"text")
    val kept = filter(toks, w => !w.isInCollection(Stopwords))
    Tables.documents(s, dir)
      .select($"doc_id",
        array_join(kept, " ").as("filtered_text"),
        (size(toks) - size(kept)).cast("long").as("n_removed"),
        size(kept).cast("long").as("n_kept"))
      .orderBy($"doc_id")
  }

  /** Confluence ac:image -> standard img normalization (html_cleaner.py:
    * 47-193): the storage-format attachment reference is rewritten to a
    * relative <img> tag via capture-group substitution. Markup is fabricated
    * deterministically so both engines transform identical input. Note the
    * backref dialects: Spark (Java regex) uses $1, the DuckDB oracle (RE2)
    * uses \1 — same semantics, different spelling.
    */
  def imageNormalize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val raw = concat(lit("<p>"), substring($"text", 1, 20),
      lit("</p><ac:image ac:width=\"300\"><ri:attachment ri:filename=\"img"),
      $"doc_id", lit(".png\" /></ac:image>"))
    Tables.documents(s, dir)
      .select($"doc_id",
        regexp_replace(raw,
          "<ac:image[^>]*>\\s*<ri:attachment ri:filename=\"([^\"]+)\"\\s*/>\\s*</ac:image>",
          "<img src=\"attachments/$1\" alt=\"$1\">").as("html"))
      .orderBy($"doc_id")
  }

  /** Code-block extraction (html_cleaner.py:195-341): every [code ...]...
    * [/code] span becomes its own row via regexp_extract_all + posexplode —
    * the one-row-to-many extraction shape, non-greedy so adjacent blocks
    * stay separate.
    */
  def codeExtract(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val raw = concat(substring($"text", 1, 10),
      lit("[code lang=scala]val x = "), $"doc_id",
      lit("[/code] mid [code]second block[/code]"))
    Tables.documents(s, dir)
      .select($"doc_id",
        posexplode(regexp_extract_all(raw, lit("\\[code[^\\]]*\\](.*?)\\[/code\\]"), lit(1))))
      .select($"doc_id", $"pos".cast("long").as("block_idx"), $"col".as("code"),
              length($"col").cast("long").as("code_len"))
      .orderBy($"doc_id", $"block_idx")
  }

  /** Repetition signals — the dup-text quality filters LLM corpus pipelines
    * run (C4/Gopher-style): token repetition ratio (1 - distinct/total) and
    * top-bigram concentration (most frequent bigram's share of all bigrams).
    * Pure per-row array math, codegen-friendly, no shuffle; both engines
    * evaluate the identical expression so the scores are hash-oracled.
    */
  def repetition(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = words($"text")
    val roundTo4 = (c: org.apache.spark.sql.Column) => floor(c * 10000.0 + 0.5) / 10000.0
    Tables.documents(s, dir)
      .select($"doc_id", toks.as("toks"),
        graft.functions.GraftFunctions.shingleStrings(toks, lit(2)).as("grams"))
      .select($"doc_id",
        size($"toks").cast("long").as("n_tokens"),
        roundTo4(lit(1.0) - size(array_distinct($"toks")) / size($"toks").cast("double"))
          .as("rep_ratio"),
        when(size($"grams") === 0, 0.0).otherwise(roundTo4(
          expr("array_max(transform(array_distinct(grams), g -> size(filter(grams, x -> x = g))))")
            .cast("double") / size($"grams"))).as("top_bigram_share"))
      .orderBy($"doc_id")
  }

  /** Unicode canonicalization before hashing — visually-identical strings
    * with decomposed combining marks ("e" + U+0301 vs precomposed U+00E9)
    * hash differently, silently defeating exact dedup across sources that
    * emit different normal forms. Decomposed decorations are injected
    * deterministically (the corpus itself is ASCII), NFC-composed by the
    * custom codegen'd `nfc_norm` kernel, and the oracle
    * recomputes the composition with DuckDB's utf8proc nfc_normalize —
    * char counts prove the composition actually shortened the string.
    */
  def unicodeNormalize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // DECOMPOSED forms: "Cafe" + combining acute (U+0301), "A" + combining
    // ring (U+030A) -- NFC composes both to single code points
    val decorated = concat(lit("Cafe\u0301 nr "), $"doc_id", lit(" A\u030A "), $"text")
    Tables.documents(s, dir)
      .select($"doc_id", decorated.as("raw"))
      .select($"doc_id",
        length($"raw").cast("long").as("raw_chars"),
        length(graft.functions.GraftFunctions.nfcNorm($"raw")).cast("long").as("nfc_chars"),
        md5(graft.functions.GraftFunctions.nfcNorm($"raw")).as("nfc_md5"))
      .orderBy($"doc_id")
  }

  /** Content fingerprint: md5 over whitespace-normalized lowercase text —
    * the exact-dedup key. (A rolling-hash custom Expression complements this
    * for shingling; see graft.functions.)
    */
  def fingerprint(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id", contentFp.as("content_md5"))
      .orderBy($"doc_id")
  }

  /** t20: Count-Min-Sketch heavy hitters — the bounded-memory frequency
    * path next to t08's exact top-k: one corpus pass builds term counts,
    * from which BOTH the exact top-20 (the evaluation yardstick) and the
    * 4×1024 CMS (the 100-TB artifact: 32 KB of mergeable state per
    * partition regardless of vocabulary size) derive in a single lineage.
    * The sketch is deterministic — same poly31/affine family as the
    * minhash kernels — so the DuckDB oracle recomputes every counter and
    * the estimates hash-compare exactly; `is_overestimate` must be true on
    * every row (the CMS one-sided-error guarantee, spec-asserted too).
    */
  def cmsHeavyHitters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.GraftFunctions.{cmsAgg, cmsQuery}
    val counts = Tables.documents(s, dir)
      .select(explode(nonEmptyWords($"text")).as("term"))
      .groupBy($"term").agg(count(lit(1)).as("true_n"))
    val top = counts.orderBy($"true_n".desc, $"term").limit(20)
    val sketch = counts.agg(cmsAgg($"term", $"true_n", lit(4), lit(1024)).as("cms"))
    top.crossJoin(broadcast(sketch))
      .select($"term", $"true_n", cmsQuery($"cms", $"term").as("cms_n"))
      .withColumn("is_overestimate", $"cms_n" >= $"true_n")
      .orderBy($"true_n".desc, $"term")
  }

  /** t21: contamination scoring — the continuous metric next to d09/d11's
    * binary verdicts: what FRACTION of a doc's distinct 8-word grams
    * appears anywhere in the eval set. Exact-copy docs score 1000‰,
    * partial quote-borrowing scores in proportion, clean docs 0 — the
    * standard n-gram-overlap decontamination report. Docs shorter than the
    * gram width carry no signal and are excluded (mirrored by the oracle).
    * Shape at 100 TB: gram explode → distinct-per-doc → one shuffle on the
    * gram string joining corpus grams to eval grams (co-partitioned), then
    * a doc-keyed rollup; eval grams are |eval|-sized, never corpus-sized.
    */
  def contaminationScore(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val grams = Tables.documents(s, dir)
      .select($"doc_id", explode(array_distinct(
        graft.functions.GraftFunctions.shingleStrings(words($"text"), lit(8)))).as("g"))
    val evalGrams = grams.filter(Dedup.isEval).select($"g").distinct()
      .withColumn("hit", lit(1L))
    grams.filter(!Dedup.isEval)
      .join(evalGrams, Seq("g"), "left")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_grams"),
           sum(coalesce($"hit", lit(0L))).as("n_hits"))
      .withColumn("contam_permille", expr("n_hits * 1000 div n_grams"))
      .orderBy($"doc_id")
  }

  private val ChunkTokens = 64
  private val OverlapTokens = 16
  private val ChunkStride = ChunkTokens - OverlapTokens // 48

  /** t19: fixed token-budget chunking with overlap — the RAG / context-window
    * prep step: each doc's token stream is cut into windows of ChunkTokens
    * with OverlapTokens shared between neighbors (stride = chunk − overlap).
    * Chunk count is 1 + floor(max(n − overlap − 1, 0) / stride), which
    * guarantees (a) full coverage (last start + chunk ≥ n) and (b) every
    * chunk after the first contributes at least one NEW token — no
    * degenerate all-overlap tail chunks. Shape at 100 TB: a pure per-row
    * transform (tokenize → sequence → explode → slice), zero exchanges
    * before the presentation sort; chunking 100 TB is exactly as parallel
    * as reading it.
    */
  /** t22: cross-document repetition — per doc, the share of its DISTINCT
    * 3-gram shingles that also appear in >= [[BoilerMinDf]] documents of the
    * SAME source. This is the boilerplate filter of web-corpus curation
    * (repeated headers/footers/templates show up as grams with high document
    * frequency inside one source), and it is disjoint from t13, which scores
    * repetition WITHIN a document.
    *
    * Shape at 100 TB: per-doc distinct grams are built map-side (no
    * exchange), document frequency is ONE hash-partitioned aggregation on
    * (source, gram) with map-side combine, and the flagged set — small by
    * definition, boilerplate is the heavy-hitter tail — broadcasts back so
    * the corpus-side scoring pass never reshuffles. If a pathological
    * corpus made the flagged set too large to broadcast, dropping the hint
    * degrades to a shuffle join with identical results (and t20's CMS is
    * the sketch route for approximate df at that point).
    */
  private[graft] val BoilerMinDf = 3
  def crossDocRepetition(s: SparkSession, dir: String): DataFrame =
    crossDocRepetitionOf(Tables.documents(s, dir))

  private[graft] def crossDocRepetitionOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val grams = docs.select($"doc_id", $"source",
      array_distinct(graft.functions.GraftFunctions.shingleStrings(words($"text"), lit(3)))
        .as("grams"))
    // explode_outer keeps gram-less docs (< 3 tokens) as a null-gram row so
    // every document scores a row without a second pass over the doc list
    val exploded = grams.select($"doc_id", $"source", explode_outer($"grams").as("g"))
    val flagged = exploded.filter($"g".isNotNull)
      .groupBy($"source", $"g").agg(count(lit(1)).as("df"))
      .filter($"df" >= BoilerMinDf)
      .select($"source", $"g", lit(1).as("flag"))
    exploded.join(broadcast(flagged), Seq("source", "g"), "left")
      .groupBy($"doc_id")
      .agg(count($"g").as("n_grams"),
           coalesce(sum($"flag"), lit(0L)).cast("long").as("flagged_grams"))
      .select($"doc_id", $"n_grams", $"flagged_grams",
        when($"n_grams" === 0, lit(0L))
          .otherwise(expr("flagged_grams * 1000 div n_grams")).as("boiler_permille"))
      .orderBy($"doc_id")
  }

  /** t23: BPE merge induction — the first [[BpeLevels]] merge steps of
    * training a byte-pair tokenizer, with the top-[[BpeTopK]] adjacent-pair
    * census after each recount. Pair weighting is PER OCCURRENCE: a pair
    * appearing k times inside a word contributes k x word_count ("aaa"
    * counts (a,a) twice). Each level fuses its winning pair (freq desc,
    * pair asc tie-break) everywhere by the classic greedy left-to-right
    * single pass — the newly formed token never re-merges within the same
    * pass — then recounts pairs over the merged symbol streams.
    *
    * 100-TB shape: the only corpus-sized work is the word-count aggregation
    * (one hash exchange with map-side combine). Every merge level runs over
    * the VOCABULARY (bounded, Zipf-shrinking): symbol streams are
    * chr(31)-delimited strings (the delimiter cannot occur inside a
    * whitespace-split term), the greedy fuse is one codegen'd aggregate()
    * fold per term against the broadcast 1-row winner, and each level's
    * census is a partial top-k (TakeOrderedAndProject over vocab pairs).
    * The corpus is never re-scanned per merge. The DuckDB oracle replays
    * the identical encoding and fold via list_reduce.
    */
  val BpeLevels = 3
  val BpeTopK = 10
  /** Per-occurrence-weighted adjacent-pair census over a chr(31)-delimited
    * symbol frame (s, wc) — the shared t23/t26 step, factored so the merge
    * induction and the encoder can never learn different merges.
    * The size >= 2 guard matters: Spark's sequence(1, 0) is DESCENDING
    * [1, 0], and element_at(l, 0) throws — single-symbol terms carry no
    * pairs and must never reach the transform.
    */
  private def bpePairCensus(v: DataFrame): DataFrame = {
    import v.sparkSession.implicits._
    v.select(expr("split(s, chr(31))").as("l"), $"wc")
      .filter(size($"l") >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(l) - 1), i -> concat(element_at(l, i), chr(31), element_at(l, i + 1)))")).as("pair"), $"wc")
      .groupBy($"pair").agg(sum($"wc").as("freq"))
  }

  /** Initial symbol form: one chr(31)-delimited character string per term. */
  private val bpeCharSplit: String =
    "array_join(transform(sequence(1, length(term)), i -> substring(term, i, 1)), chr(31))"

  private[graft] def bpeVocab(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select(explode(words($"text")).as("term"))
      .filter($"term" =!= "")
      .groupBy($"term").agg(count(lit(1)).as("wc"))
  }

  def bpePairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val vocab = bpeVocab(s, dir)
    var v = Materialize(vocab.select(expr(bpeCharSplit).as("s"), $"wc"))
    val w = Window.orderBy($"freq".desc, $"pair".asc)
    val levels = (1 to BpeLevels).map { lvl =>
      val pairs = bpePairCensus(v)
      val top = pairs.orderBy($"freq".desc, $"pair".asc).limit(BpeTopK)
        .withColumn("rank", row_number().over(w).cast("long"))
        .select(lit(lvl.toLong).as("level"), $"rank", $"pair", $"freq")
        .transform(Materialize(_))
      if (lvl < BpeLevels) {
        val best = top.filter($"rank" === 1)
          .select(expr("element_at(split(pair, chr(31)), 1)").as("a"),
                  expr("element_at(split(pair, chr(31)), 2)").as("b"))
        v = Materialize(v.crossJoin(broadcast(best)).select(expr(bpeMergeFold).as("s"), $"wc"))
      }
      top
    }
    levels.reduce(_.unionByName(_))
      .select($"level", $"rank", expr("replace(pair, chr(31), '+')").as("pair"), $"freq")
      .orderBy($"level", $"rank")
  }

  /** t26: APPLY the t23-learned tokenizer — encode every document with the
    * [[BpeLevels]] greedily-induced merges and report the per-doc token
    * economics a trainer provisions by: word count, character-symbol count
    * (the pre-merge token cost) and post-merge BPE token count, plus the
    * compression ratio the merges bought. This is the tokenize-the-corpus
    * step that follows tokenizer training in every LLM data pipeline.
    *
    * Scale shape: merges are learned and applied on the VOCABULARY (one
    * word-count exchange — the corpus-sized work), never per occurrence:
    * each merge level is a broadcast 1-row winner + scan-local fold over
    * |vocab| rows, and the corpus then joins the tiny (term, counts)
    * encoding table back on the exploded term key (the t15 TF-IDF join
    * shape). Encoding N occurrences of a word costs one vocabulary row.
    */
  def bpeEncode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // DELIBERATELY two tokenize passes (vocab census + encode join),
    // r14-probed like t34: a one-scan (doc_id, term, k) occurrence
    // checkpoint feeding both consumers measured FLAT in isolated paired
    // probes (1.32 vs 1.31 s at sf0.1) but consistently ~1.3x WORSE inside
    // the full-suite bench JVM (1.21 -> 1.52-1.61 s across three runs) —
    // the occurrence-level checkpoint is the largest block-manager frame in
    // the suite and pays storage contention the streaming split+explode
    // never does. Same lesson as dsirOf: a shared projection must be
    // SMALLER than what it replaces; this one is occurrence-granularity.
    val vocab = bpeVocab(s, dir)
    var v = Materialize(vocab.select($"term", expr(bpeCharSplit).as("s"), $"wc"))
    for (_ <- 1 to BpeLevels) {
      val best = bpePairCensus(v)
        .orderBy($"freq".desc, $"pair".asc).limit(1)
        .select(expr("element_at(split(pair, chr(31)), 1)").as("a"),
                expr("element_at(split(pair, chr(31)), 2)").as("b"))
      v = Materialize(v.crossJoin(broadcast(best))
        .select($"term", expr(bpeMergeFold).as("s"), $"wc"))
    }
    val encoded = v.select($"term",
      length($"term").cast("long").as("n_chr"),
      expr("size(split(s, chr(31)))").cast("long").as("n_sym"))
    Tables.documents(s, dir)
      .select($"doc_id", explode(words($"text")).as("term"))
      .filter($"term" =!= "")
      .join(encoded, Seq("term"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_words"),
           sum($"n_chr").as("n_char_symbols"),
           sum($"n_sym").as("n_bpe_tokens"))
      .select($"doc_id", $"n_words", $"n_char_symbols", $"n_bpe_tokens",
        (floor($"n_char_symbols".cast("double") / $"n_bpe_tokens".cast("double")
           * 10000.0 + 0.5) / 10000.0).as("compression"))
      .orderBy($"doc_id")
  }

  /** Greedy left-to-right single-pass fuse of pair (a, b) over a
    * chr(31)-delimited symbol string: merging appends x without a delimiter
    * (the trailing symbol a becomes a||b), and because a freshly merged
    * token a||b can never itself equal a (b is non-empty), the
    * whole-trailing-symbol test makes re-merging within the pass
    * impossible — exactly the classic BPE pass the oracle's list_reduce
    * replays.
    */
  private[graft] val bpeMergeFold: String =
    "aggregate(split(s, chr(31)), cast('' as string), (acc, x) -> " +
      "CASE WHEN acc = '' THEN x " +
      "WHEN (acc = a OR endswith(acc, concat(chr(31), a))) AND x = b THEN concat(acc, x) " +
      "ELSE concat(acc, chr(31), x) END)"

  def chunkOverlap(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id", nonEmptyWords($"text").as("toks"))
      .select($"doc_id", $"toks",
        explode(expr(
          s"sequence(0L, greatest(size(toks) - $OverlapTokens - 1, 0) div $ChunkStride)"))
          .as("chunk_id"))
      .select($"doc_id", $"chunk_id",
        ($"chunk_id" * ChunkStride).as("start_tok"),
        size(slice($"toks", ($"chunk_id" * ChunkStride + 1).cast("int"), lit(ChunkTokens)))
          .cast("long").as("n_chunk_tokens"),
        array_join(
          slice($"toks", ($"chunk_id" * ChunkStride + 1).cast("int"), lit(ChunkTokens)), " ")
          .as("chunk_text"))
      .orderBy($"doc_id", $"chunk_id")
  }

  /** t24: exact-substring duplicate spans — for every document, the maximal
    * token ranges whose every [[SubstrK]]-token window also occurs verbatim
    * in at least one OTHER document. This is the span-level exact
    * deduplication of training-corpus curation (Lee et al. 2021,
    * "Deduplicating Training Data Makes Language Models Better": remove the
    * repeated substring, keep the rest of the document) — disjoint from
    * d01 (whole-doc exact dup), d02 (whole-doc near-dup), t13 (repetition
    * WITHIN a doc) and t22 (per-source gram-DF boilerplate score, no spans).
    *
    * Windows are K-token hops at every position; a window is duplicated
    * when >= 2 DISTINCT documents contain it; duplicated window starts in a
    * doc merge into one span while consecutive starts are <= K apart (i.e.
    * their token coverage is contiguous or overlapping). Output is one row
    * per (doc, span): (doc_id, span_start [1-based token index],
    * span_tokens).
    *
    * Shape at 100 TB: window generation is a pure per-row transform (no
    * exchange). The ONE corpus-sized movement is the window-frequency
    * aggregation — hash-partitioned with a map-side partial distinct, the
    * analogue of the suffix-array build the reference curation literature
    * uses, but expressed as an aggregation Spark parallelizes freely. The
    * duplicated-window set is small by definition after doc-level dedup
    * (dups are the tail), so it broadcasts back and the corpus side never
    * reshuffles for the match; the island merge then exchanges only the HIT
    * rows on doc_id. At 100 TB the group key would be a 128-bit hash of the
    * window instead of the window text (collision-safe at corpus scale,
    * 8x narrower shuffle rows); the text key here keeps the DuckDB oracle
    * byte-identical.
    */
  private[graft] val SubstrK = 8
  def exactSubstrSpans(s: SparkSession, dir: String): DataFrame =
    exactSubstrSpansOf(Tables.documents(s, dir))

  private[graft] def exactSubstrSpansOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val k = SubstrK
    // window strings through the codegen'd shingle_strings kernel with
    // posexplode supplying the 1-based position — the equivalent
    // transform(sequence…array_join(slice…)) lambda evals interpreted per
    // window and measured ~6x slower corpus-wide (the d36 lesson)
    // Two lazy passes over the corpus (census + probe), DELIBERATELY not
    // de-duplicated via a materialized shared subtree: an r14 probe that
    // materialized the tokenized (doc_id, t) projection measured flat
    // at sf0.1 (best 0.98 vs 0.99 s, medians equal) — the saved scan +
    // regex split is repaid by the checkpoint's materialize-and-read cost,
    // and at 100 TB storing a corpus-sized token-array copy per run is a
    // worse bargain than re-reading the column-pruned parquet. The window
    // fan-out itself must stay lazy in both passes regardless (k× the
    // corpus is never stored).
    val wins = docs
      .select($"doc_id", words($"text").as("t"))
      .filter(size($"t") >= k)
      .select($"doc_id",
        posexplode(graft.functions.GraftFunctions.shingleStrings($"t", lit(k))))
      .select($"doc_id", ($"pos" + 1).as("i"), $"col".as("w"))
    // "appears in >= 2 distinct docs" as min != max: countDistinct plans a
    // two-exchange partial-distinct aggregate, while min/max are single-pass
    // partial aggs — one exchange over the window-keyed corpus, half the
    // shuffle of the distinct form, same predicate for the >= 2 case
    val dup = wins.groupBy($"w")
      .agg(min($"doc_id").as("lo"), max($"doc_id").as("hi"))
      .filter($"lo" =!= $"hi")
      .select($"w")
    val hits = wins.join(broadcast(dup), Seq("w"), "left_semi")
    val byDoc = Window.partitionBy($"doc_id").orderBy($"i")
    hits
      // lag is null on the first hit of a doc -> the <= test is null -> 1:
      // every doc opens a fresh island, exactly the oracle's CASE
      .withColumn("brk", when($"i" - lag($"i", 1).over(byDoc) <= k, lit(0)).otherwise(lit(1)))
      .withColumn("g", sum($"brk").over(byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy($"doc_id", $"g")
      .agg(min($"i").cast("long").as("span_start"),
           (max($"i") - min($"i") + k).cast("long").as("span_tokens"))
      .select($"doc_id", $"span_start", $"span_tokens")
      .orderBy($"doc_id", $"span_start")
  }

  /** t25: the REMOVAL step of Lee et al. 2021's ExactSubstr dedup — t24
    * names the maximal duplicated spans; this key actually produces the
    * deduplicated corpus: every duplicated span is excised from every
    * document (the paper's all-occurrence removal; choosing ONE canonical
    * copy to keep is whole-doc survivorship territory — d01/d02 — not a
    * span decision), with per-doc token accounting so a curator sees the
    * mass the pass reclaims.
    *
    * Shape on top of t24's window-frequency exchange: the island spans per
    * doc collapse to ONE array column (tiny — only docs with hits), joined
    * back on doc_id (one corpus exchange, deliberately not broadcast-hinted:
    * on a boilerplate-heavy crawl most docs carry spans, so the span table
    * is corpus-sized — AQE may still convert when a run measures small).
    * Excision itself is a scan-local higher-order filter over the token
    * array (positions covered by a span drop out, order preserved); no
    * per-token rows ever materialize.
    */
  def substrRemoval(s: SparkSession, dir: String): DataFrame =
    substrRemovalOf(Tables.documents(s, dir))

  /** t27: named-rule quality gate (the Gopher-rules shape, Rae et al. 2021
    * §A1.1): where t06 emits a CONTINUOUS score for calibration (d21/d24
    * pick the threshold), production filters also run a battery of named
    * pass/fail rules whose verdicts must be auditable per rule — "why was
    * this doc dropped" is an ops question a blended score can't answer.
    * Four rules, each ALL-INTEGER so the verdict hashes exactly:
    * word-count bounds; mean word length in [3,10] via cross-multiplied
    * integers (3·words ≤ word_chars ≤ 10·words — no division); ≥ 2 distinct
    * stopword TYPES present (token-exact, t06's stopword list); lexical
    * diversity 2·distinct ≥ words (the unique-word floor behind Gopher's
    * repetition family — t13 measures the ratio, this rules on it).
    * Everything is scan-local column math inside codegen: zero exchanges
    * before the output sort at any corpus size.
    */
  val RuleMinWords = 20L
  val RuleMaxWords = 100000L
  def ruleGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = words($"text")
    val df = Tables.documents(s, dir)
      .withColumn("n_words", size(toks).cast("long"))
      .withColumn("w_chars", length(regexp_replace($"text", "\\s+", "")).cast("long"))
      .withColumn("n_distinct", size(array_distinct(toks)).cast("long"))
      .withColumn("n_stop_types",
        Seq("the", "a", "and", "of", "to", "in", "is")
          .map(t => when(array_contains(toks, t), 1L).otherwise(0L))
          .reduce(_ + _))
    val ruleWc   = $"n_words" >= RuleMinWords && $"n_words" <= RuleMaxWords
    val ruleLen  = $"w_chars" >= $"n_words" * 3 && $"w_chars" <= $"n_words" * 10
    val ruleStop = $"n_stop_types" >= 2
    val ruleDiv  = $"n_distinct" * 2 >= $"n_words"
    df.select($"doc_id", $"source", $"n_words", $"w_chars", $"n_distinct",
        $"n_stop_types",
        ruleWc.as("rule_word_count"), ruleLen.as("rule_mean_len"),
        ruleStop.as("rule_stopwords"), ruleDiv.as("rule_diversity"),
        (ruleWc && ruleLen && ruleStop && ruleDiv).as("pass"))
      .orderBy($"doc_id")
  }

  private[graft] def substrRemovalOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val spans = exactSubstrSpansOf(docs)
      .groupBy($"doc_id")
      .agg(array_sort(collect_list(struct($"span_start".as("s"), $"span_tokens".as("n")))).as("sps"),
           sum($"span_tokens").as("removed"))
    docs.select($"doc_id", words($"text").as("t"))
      .join(spans, Seq("doc_id"), "left")
      .select(
        $"doc_id",
        size($"t").cast("long").as("n_tokens"),
        coalesce($"removed", lit(0L)).as("removed_tokens"),
        array_join(expr(
          "filter(t, (x, j) -> sps is null or !exists(sps, sp -> j+1 >= sp.s and j+1 < sp.s + sp.n))"),
          " ").as("clean_text"))
      .orderBy($"doc_id")
  }

  /** t28: content-defined chunking — the rolling-hash fingerprinting
    * primitive of storage-level dedup (Rabin-style CDC, the backbone of
    * dedup filesystems and of chunk-granular corpus diffing): a chunk
    * boundary falls AFTER token j exactly when the poly31 hash of the
    * W-token window ending at j is ≡ 0 mod D (expected chunk length D).
    * Boundaries depend only on LOCAL content — the self-healing property
    * fixed-size chunking lacks: prepend a token and every boundary after
    * the first unchanged window re-aligns, so chunk digests downstream of
    * an edit survive verbatim (spec-pinned); t24 finds duplicated spans by
    * exhaustive window comparison, CDC gets dup detection at ~1/D of the
    * index size by hashing VARIABLE spans with content-chosen borders.
    * Per-doc work is entirely scan-local higher-order column math over the
    * codegen'd cross-engine `gram_hashes31` kernel (no per-token rows);
    * the ONLY corpus exchange is the chunk-digest window that counts
    * copies — the same natural key a chunk store would bucket by.
    * Docs shorter than W yield one whole-doc chunk; the last chunk closes
    * at the doc end. Production CDC adds min/max chunk bounds; the
    * unbounded law keeps the oracle exact without changing the shape.
    */
  val CdcW = 4
  val CdcD = 8L
  def cdcChunks(s: SparkSession, dir: String): DataFrame =
    cdcChunksOf(Tables.documents(s, dir))

  private[graft] def cdcChunksOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    chunkRows(docs)
      .withColumn("n_copies",
        count(lit(1)).over(Window.partitionBy($"chunk_hash")).cast("long"))
      .withColumn("is_dup", $"n_copies" > 1L)
      .orderBy($"doc_id", $"chunk_idx")
  }

  /** The scan-local CDC decomposition alone (no copy-count exchange): one
    * row per chunk — the shared core of t28's corpus report and s23's
    * ingest-time chunk-store fold.
    */
  private[graft] def chunkRows(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val base = docs
      .select($"doc_id", words($"text").as("t"))
      .withColumn("n", size($"t"))
      .withColumn("hv", graft.functions.GraftFunctions.gramHashes31($"t", lit(CdcW)))
      // a 0-based window index i0 with hv ≡ 0 (mod D) cuts after 1-based
      // token i0 + W
      .withColumn("cuts", expr(
        s"transform(filter(transform(hv, (x, i) -> struct(x AS h, i AS i0)), " +
          s"p -> p.h % $CdcD = 0), p -> p.i0 + $CdcW)"))
      .withColumn("ends", expr(
        "CASE WHEN size(cuts) = 0 OR element_at(cuts, -1) <> n " +
          "THEN concat(cuts, array(n)) ELSE cuts END"))
      .withColumn("starts", expr(
        "concat(array(1), transform(slice(ends, 1, size(ends) - 1), e -> e + 1))"))
    base
      .select($"doc_id", $"t", explode(expr(
        "transform(sequence(1, size(ends)), k -> struct(" +
          "k AS chunk_idx, element_at(starts, k) AS start_tok, " +
          "element_at(ends, k) - element_at(starts, k) + 1 AS n_toks))")).as("c"))
      .select($"doc_id",
        $"c.chunk_idx".cast("long").as("chunk_idx"),
        $"c.start_tok".cast("long").as("start_tok"),
        $"c.n_toks".cast("long").as("n_toks"),
        element_at(graft.functions.GraftFunctions.gramHashes31(
          slice($"t", $"c.start_tok", $"c.n_toks"), $"c.n_toks"), 1).as("chunk_hash"))
  }

  /** t29: boilerplate excision at CDC-chunk granularity — the C4-style
    * "remove text repeated across the corpus" pass, executed on t28's
    * content-defined chunks instead of t24's exhaustive window scan:
    * a chunk digest occurring ≥ [[BoilerplateCopies]] times corpus-wide
    * is boilerplate (nav bars, license footers, templated headers), and
    * every occurrence is excised from every document — same
    * all-occurrence removal and output contract as t25 (n_tokens /
    * removed_tokens / clean_text), at ~1/D of t25's window-index size
    * because only chunk-sized units are counted. CDC's self-healing
    * boundaries are what make this correct on a crawl: the same footer
    * behind different prefixes still chunks identically, so the digest
    * count sees every copy. Plan shape: chunk decomposition scan-local
    * (shared chunkRows), ONE digest exchange for the copy-count window,
    * spans of flagged chunks collapse per doc (hit docs only) and join
    * back; excision is a scan-local token filter. Unlike t24's spans,
    * chunks never overlap — removed_tokens is an exact sum with no
    * island merge needed.
    */
  val BoilerplateCopies = 3L
  def chunkBoilerplate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, dir)
    val flagged = chunkRows(docs)
      .withColumn("n_copies",
        count(lit(1)).over(Window.partitionBy($"chunk_hash")))
      .filter($"n_copies" >= BoilerplateCopies)
      .groupBy($"doc_id")
      .agg(collect_list(struct($"start_tok".as("s"), $"n_toks".as("n"))).as("sps"),
           sum($"n_toks").as("removed"))
    docs
      .select($"doc_id", words($"text").as("t"))
      .join(flagged, Seq("doc_id"), "left")
      .select($"doc_id",
        size($"t").cast("long").as("n_tokens"),
        coalesce($"removed", lit(0L)).as("removed_tokens"),
        array_join(expr(
          "filter(t, (x, j) -> sps is null or !exists(sps, sp -> j+1 >= sp.s and j+1 < sp.s + sp.n))"),
          " ").as("clean_text"))
      .orderBy($"doc_id")
  }

  /** t30: unigram-LM surprisal scoring — the perplexity-filter family
    * member t06's rule scores and t18's character entropy don't cover:
    * score each document by how SURPRISING its tokens are under the
    * corpus's own unigram language model (the standard "perplexity
    * filtering" signal in LLM corpus curation, with the corpus itself as
    * the reference model). The whole computation is EXACT integers: token
    * surprisal = bits(total_tokens) − bits(count(token)) where
    * bits(x) = ⌊log2 x⌋ + 1 = length of x's binary rendering — whole-bit
    * surprisal, the integer-safe stand-in for −log2 p that both engines
    * compute identically (Spark `length(bin(x))`, DuckDB
    * `length(printf('%b', x))`), so no floating log ever enters the hash.
    * High mean surprisal = rare-token text (jargon, noise, other-language
    * fragments); low = stopword-heavy boilerplate. Plan shape: one token
    * census (groupBy token — the t15 vocabulary exchange), one broadcast
    * 1-row total, one co-partitioned token join back, one per-doc agg;
    * at 100 TB the census is the standard vocabulary aggregate and the
    * join co-locates on the token key — no all-pairs, no corpus sort.
    */
  def surprisalScore(s: SparkSession, dir: String): DataFrame =
    surprisalOf(Tables.documents(s, dir))

  private[graft] def surprisalOf(docs: DataFrame): DataFrame = {
    val toks = surprisalToks(docs)
    val census = toks.groupBy(col("term")).agg(count(lit(1)).as("cnt"))
    surprisalReadout(toks, census)
  }

  /** The (doc_id, term) explode shared by t30 and s26's census fold. */
  private[graft] def surprisalToks(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs.select($"doc_id", explode(words($"text")).as("term"))
      .filter($"term" =!= "")
  }

  /** Score every doc against a finished census — shared by t30 (one-shot
    * census) and s26 (census folded at ingest): surprisal depends on
    * GLOBAL counts, so scoring always runs at read-out over the same
    * finished model regardless of how the census was assembled.
    */
  private[graft] def surprisalReadout(toks: DataFrame, census: DataFrame): DataFrame = {
    val s = toks.sparkSession
    import s.implicits._
    val total = census.agg(sum($"cnt").as("total_toks"))
    toks.join(census, Seq("term"))
      .crossJoin(broadcast(total))
      .select($"doc_id",
        (length(bin($"total_toks")) - length(bin($"cnt"))).cast("long").as("surp_bits"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_toks"),
           sum($"surp_bits").as("sum_surprisal_bits"))
      .select($"doc_id", $"n_toks", $"sum_surprisal_bits",
        expr("sum_surprisal_bits * 1000 div n_toks").as("mean_surprisal_millibits"))
      .orderBy($"doc_id")
  }

  /** Shared sectioned-markup fixture for t31/t32: wraps each doc's text in a
    * deterministic heading structure BOTH engines rebuild identically (the
    * t01/t11 wrap-then-process convention — page bodies in the reference ARE
    * structured markup, html_cleaner.py:47-193): h1 = source, an intro
    * paragraph carrying inline <b>/<a> spans (bold = the doc's first word,
    * link target derived from doc_id), then two h2 sections — three for even
    * doc_ids, so section COUNT varies per row — headed by the doc's own
    * leading words, bodies = character quarters of the text.
    */
  private[graft] val SectionedMarkup: String =
    """concat(
      |  '<h1>', source, '</h1><p><b>', element_at(split(trim(text), '\\s+'), 1),
      |  '</b> ', substring(text, 1, length(text) div 4),
      |  ' <a href="https://docs.example/', CAST(doc_id AS STRING), '">ref</a></p>',
      |  '<h2>', element_at(split(trim(text), '\\s+'), 2), '</h2><p>',
      |  substring(text, length(text) div 4 + 1, length(text) div 4), '</p>',
      |  '<h2>', element_at(split(trim(text), '\\s+'), 3), '</h2><p>',
      |  CASE WHEN doc_id % 2 = 0
      |    THEN concat(
      |      substring(text, 2 * (length(text) div 4) + 1, length(text) div 4),
      |      '</p><h2>', element_at(split(trim(text), '\\s+'), 4), '</h2><p>',
      |      substring(text, 3 * (length(text) div 4) + 1,
      |                length(text) - 3 * (length(text) div 4)))
      |    ELSE substring(text, 2 * (length(text) div 4) + 1,
      |                   length(text) - 2 * (length(text) div 4))
      |  END,
      |  '</p>')""".stripMargin

  /** t31: structure-aware sectioning — LLM pipelines chunk long documents,
    * and the naive fixed-token window (t19) severs a section body from the
    * heading that gives it meaning ("Configuration > Timeouts" is half the
    * signal of the paragraph under it). This key splits each document at its
    * heading boundaries and emits one row per section carrying its FULL
    * heading path (h1 > h2 breadcrumb), the retrieval-chunk shape RAG and
    * long-context training sets actually want. Parse = one markup split on
    * the heading open-tag + posexplode + per-element capture-group regex —
    * entirely row-local codegen (zero exchanges before the presentation
    * sort), so sectioning 100 TB parallelizes as pure scan work; section
    * text is tag-stripped and whitespace-collapsed (t01's law) and token
    * counts ride along for downstream packing (p26).
    */
  def htmlSections(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .withColumn("markup", expr(SectionedMarkup))
      .withColumn("h1", regexp_extract($"markup", "<h1>(.*?)</h1>", 1))
      .select($"doc_id", $"h1", posexplode(split($"markup", "<h2>")))
      .withColumnRenamed("pos", "sec_idx")
      .select(
        $"doc_id", $"sec_idx".cast("long").as("sec_idx"),
        when($"sec_idx" === 0, $"h1")
          .otherwise(concat($"h1", lit(" > "),
            regexp_extract($"col", "^(.*?)</h2>", 1))).as("heading_path"),
        trim(regexp_replace(regexp_replace(
          regexp_extract($"col", "<p>(.*?)</p>", 1),
          "<[^>]+>", " "), "\\s+", " ")).as("sec_text"))
      .withColumn("n_tokens",
        when(length($"sec_text") === 0, 0L)
          .otherwise(size(split($"sec_text", "\\s+")).cast("long")))
      .orderBy($"doc_id", $"sec_idx")
  }

  /** t32: HTML → Markdown export — the extraction format modern LLM corpora
    * train on (markup semantics kept, markup noise dropped: headings become
    * #/##, emphasis **…**, links [text](url), paragraphs blank-line
    * separated), where t01's cleaner flattens ALL structure to plain text.
    * The conversion is a fixed chain of capture-group regex rewrites over
    * the shared sectioned markup — each rewrite a codegen'd regexp_replace,
    * the whole chain row-local (zero exchanges before the output sort);
    * structural counters (headings/links/bold spans) ride along as the
    * conversion audit. Restricted to the regex subset where Java regex and
    * RE2 agree, so the oracle replays every rewrite bit-for-bit.
    */
  def markdownExport(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.GraftFunctions.regexCount
    val md = {
      val m0 = regexp_replace(expr(SectionedMarkup), "<h1>(.*?)</h1>", "# $1\n\n")
      val m1 = regexp_replace(m0, "<h2>(.*?)</h2>", "## $1\n\n")
      val m2 = regexp_replace(m1, "<a href=\"(.*?)\">(.*?)</a>", "[$2]($1)")
      val m3 = regexp_replace(m2, "<b>(.*?)</b>", "**$1**")
      trim(regexp_replace(regexp_replace(m3, "</p>", "\n\n"), "<p>", ""))
    }
    Tables.documents(s, dir)
      .select($"doc_id", md.as("markdown"),
        (regexCount(expr(SectionedMarkup), lit("<h[12]>")))
          .cast("long").as("n_headings"),
        (regexCount(expr(SectionedMarkup), lit("<a href=")))
          .cast("long").as("n_links"),
        (regexCount(expr(SectionedMarkup), lit("<b>")))
          .cast("long").as("n_bold"))
      .withColumn("md_len", length($"markdown").cast("long"))
      .orderBy($"doc_id")
  }

  /** t33: model-based quality gate — the classifier-filter stage of modern
    * curation stacks (fastText-style quality classifiers, DCLM/FineWeb-Edu
    * shape): score each doc with a LINEAR model over exact integer features
    * and keep docs whose score clears the decision boundary. The weight
    * vector here is a fixed stub (training needs a labeled set and a
    * learner, neither in this sandbox); everything around it — feature
    * extraction, integer dot-product scoring, margin audit, gate — is the
    * production plumbing, and a trained vector drops in without touching
    * the plan. Features are exact integers (ppm ratios via `div`, never
    * floats) so score and margin hash-check cross-engine. Relative to the
    * neighbors: t27's named rules answer "WHY was this dropped", t06's
    * blended score ranks, THIS answers "HOW CLOSE to the boundary" — the
    * margin is the triage signal for threshold tuning and active labeling
    * (docs with |margin| near 0 are what a curator sends for annotation).
    * All scan-local codegen column math; zero exchanges before the
    * presentation sort; at 100 TB this is a pure map stage.
    */
  /** t34: DSIR-style importance weighting (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling") — domain-TARGETED
    * selection, the question t30's corpus-perplexity filter can't answer
    * ("is this doc more like my target domain than like the raw pool?"):
    * score every doc by the log-likelihood RATIO of a target unigram model
    * over the raw-corpus model, in exact integer HALF-bits — t30's
    * rendering-length log law sharpened one binary digit by squaring the
    * operand: length(bin(x²)) = ⌊2·log2 x⌋ + 1 (Spark length(bin()) ≡
    * DuckDB length(printf('%b')), no floating log anywhere; a ratio needs
    * the finer grain where t30's absolute surprisal does not, because the
    * two models' logs nearly cancel. The squares bound the law to counts
    * < 3·10⁹ — beyond that, shard the census and merge, same plan). Target
    * model = add-one-smoothed counts over the target source's docs (the
    * +1 handles target-unseen terms; its mass shows up as total_t + vocab
    * in the denominator, all integers); importance(doc) =
    * Σ_tokens [surprisal_raw − surprisal_target] — positive means the
    * target model is less surprised than the corpus model, i.e. the doc
    * leans toward the domain. Selection takes the TOP QUARTER of
    * non-target docs by importance — via the exact-histogram cutoff
    * (d24/q43's calibration pattern: cumsum over |distinct score| histogram
    * rows, never a corpus-wide rank sort), with the whole boundary tie
    * block kept (deterministic overshoot, documented — production DSIR
    * breaks ties with Gumbel noise; a hash oracle can't). Plan: the corpus
    * is scanned and tokenized ONCE into the (doc, term, k) count projection
    * (map-side partial agg, one exchange), which feeds BOTH the censuses
    * (raw and target) and the scoring join — the model is a vocab-sized
    * join, scoring folds per doc weighted by k (t15/t30's vocabulary
    * shape); the cutoff window runs over histogram rows only; at 100 TB
    * the doc-term projection is the materialize-the-proxy step of guide §8
    * and nothing corpus-sized moves twice.
    */
  val DsirTarget = "src0"
  def dsirWeights(s: SparkSession, dir: String): DataFrame =
    dsirOf(Tables.documents(s, dir))

  private[graft] def dsirOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    // DELIBERATELY two tokenize passes (census + scoring join), r14-probed:
    // the one-scan variant (checkpoint a (doc_id, source, term, k) count
    // projection feeding both consumers — the d38/t26 fold pattern) was
    // implemented and measured PAIRED both run orders at sf0.1: 1.11 s
    // two-pass vs 1.18-1.32 s one-scan. The occurrence-level checkpoint
    // (block-manager write+read + broken codegen fusion) costs more than
    // one extra streaming split+explode of the pruned (doc_id, source,
    // text) columns, and unlike t26 there is no smaller post-agg frame to
    // store: the scoring join consumes occurrence granularity. Kept the
    // cheap recompute; the model/scored checkpoints below still cap the
    // corpus tokenize at two passes (the r12 reduction).
    val toks = docs.select($"doc_id", $"source",
        explode(words($"text")).as("term"))
      .filter($"term" =!= "")
    val raw = toks.groupBy($"term")
      .agg(count(lit(1)).as("cnt_raw"),
           sum(when($"source" === DsirTarget, 1L).otherwise(0L)).as("cnt_t"))
    // The unigram model is consumed by TWO subtrees (the totals row and the
    // scoring join) and the per-doc scores by two more (the histogram-cutoff
    // path and the final verdict) — materialize each once (vocab-sized and
    // |docs|-sized respectively). Same rows, same math.
    val model = Materialize(raw.select($"term", $"cnt_raw", ($"cnt_t" + 1L).as("cnt_tgt")))
    val totals = model.agg(sum($"cnt_raw").as("total_raw"),
                           sum($"cnt_tgt").as("total_tgt"))
    def bits2(c: Column) = length(bin(c * c))
    val scored = toks.join(model, "term").crossJoin(broadcast(totals))
      .select($"doc_id", $"source",
        ((bits2($"total_raw") - bits2($"cnt_raw"))
          - (bits2($"total_tgt") - bits2($"cnt_tgt"))).cast("long").as("imp"))
      .groupBy($"doc_id", $"source")
      .agg(count(lit(1)).as("n_toks"), sum($"imp").as("imp_halfbits_total"))
      .select($"doc_id", $"source", $"n_toks", $"imp_halfbits_total",
        expr("imp_halfbits_total * 1000 div n_toks").as("mean_imp_milli"))
      .transform(Materialize(_))
    import org.apache.spark.sql.expressions.Window
    val pool = scored.filter($"source" =!= DsirTarget)
    val hist = pool.groupBy($"mean_imp_milli").agg(count(lit(1)).as("c"))
    val wDesc = Window.orderBy($"mean_imp_milli".desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cutoff = hist
      .withColumn("cum", sum($"c").over(wDesc))
      .crossJoin(broadcast(pool.agg(expr("(count(1) + 3) div 4").as("quota"))))
      .agg(max(when($"cum" >= $"quota", $"mean_imp_milli")).as("cutoff"))
    scored.crossJoin(broadcast(cutoff))
      .withColumn("selected",
        $"source" =!= DsirTarget && $"mean_imp_milli" >= $"cutoff")
      .drop("cutoff")
      .orderBy($"doc_id")
  }

  /** t35: Unicode script composition — the multilingual layer t05's
    * English-bigram lang-id cannot give (a CJK or Cyrillic doc scores
    * "not-English" there; HERE it says WHAT it is, and mixed-script docs —
    * the classic spam/mojibake/code-switch signal — get flagged): per doc,
    * exact per-script character counts (Latin / Cyrillic / CJK / Arabic /
    * digit via codepoint-range regex counts, all codegen'd through the
    * regex_count kernel) as ppm of non-space characters, the dominant
    * script chosen by a fixed priority order on ties, and is_mixed when a
    * second script crosses 10%. The corpus fixture is ASCII, so each doc
    * is deterministically EXTENDED with a script suffix scaled to its own
    * length (doc_id mod 4 picks the script, both engines rebuild the text
    * byte-identically — t11/m01 convention): dominance genuinely flips
    * per row instead of rubber-stamping 'latin'. All integers ⇒ exact
    * hash; pure scan-local map, zero pre-sort exchanges.
    */
  def scriptMix(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.GraftFunctions.regexCount
    val suffix = when(pmod($"doc_id", lit(4L)) === 1L, " привет мир")
      .when(pmod($"doc_id", lit(4L)) === 2L, " 你好世界天地人和")
      .when(pmod($"doc_id", lit(4L)) === 3L, " مرحبا بالعالم")
      .otherwise("")
    def cnt(pat: String) = regexCount($"txt", lit(pat)).cast("long")
    def ppm(c: String) = expr(s"$c * 1000000 div greatest(n_all, 1L)")
    Tables.documents(s, dir)
      .withColumn("sfx", suffix)
      .withColumn("txt",
        concat($"text", expr("repeat(sfx, cast(n_chars div 8 as int))")))
      .withColumn("n_all", (length($"txt") - cnt("\\s")).cast("long"))
      .withColumn("c_latin", cnt("[A-Za-z]"))
      .withColumn("c_cyr", cnt("[Ѐ-ӿ]"))
      .withColumn("c_cjk", cnt("[一-鿿]"))
      .withColumn("c_arab", cnt("[؀-ۿ]"))
      .withColumn("c_digit", cnt("[0-9]"))
      .withColumn("latin_ppm", ppm("c_latin"))
      .withColumn("cyr_ppm", ppm("c_cyr"))
      .withColumn("cjk_ppm", ppm("c_cjk"))
      .withColumn("arab_ppm", ppm("c_arab"))
      .withColumn("digit_ppm", ppm("c_digit"))
      .withColumn("second_ppm", expr(
        "element_at(array_sort(array(latin_ppm, cyr_ppm, cjk_ppm, arab_ppm), " +
        "(a, b) -> CASE WHEN a > b THEN -1 WHEN a < b THEN 1 ELSE 0 END), 2)"))
      .withColumn("dominant",
        when($"latin_ppm" >= $"cyr_ppm" && $"latin_ppm" >= $"cjk_ppm" &&
             $"latin_ppm" >= $"arab_ppm", "latin")
          .when($"cyr_ppm" >= $"cjk_ppm" && $"cyr_ppm" >= $"arab_ppm", "cyrillic")
          .when($"cjk_ppm" >= $"arab_ppm", "cjk")
          .otherwise("arabic"))
      .select($"doc_id", $"n_all", $"latin_ppm", $"cyr_ppm", $"cjk_ppm",
        $"arab_ppm", $"digit_ppm", $"dominant",
        ($"second_ppm" > 100000L).as("is_mixed"))
      .orderBy($"doc_id")
  }

  val ClfBias = 700000L
  def classifierGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = words($"text")
    val df = Tables.documents(s, dir)
      .withColumn("n_words", size(toks).cast("long"))
      .withColumn("w_chars", length(regexp_replace($"text", "\\s+", "")).cast("long"))
      .withColumn("n_stop",
        size(filter(toks, t => t.isInCollection(Stopwords))).cast("long"))
      .withColumn("n_distinct", size(array_distinct(toks)).cast("long"))
      .withColumn("f_stop_ppm", expr("1000000 * n_stop div greatest(n_words, 1L)"))
      .withColumn("f_div_ppm", expr("1000000 * n_distinct div greatest(n_words, 1L)"))
      .withColumn("f_len_x1000", expr("1000 * w_chars div greatest(n_words, 1L)"))
      .withColumn("score",
        lit(4L) * $"f_stop_ppm" + $"f_div_ppm"
          - lit(150L) * abs($"f_len_x1000" - 4500L)
          + lit(2000L) * least($"n_words", lit(100L))
          - lit(ClfBias))
    df.select($"doc_id", $"source", $"n_words",
        $"f_stop_ppm", $"f_div_ppm", $"f_len_x1000",
        $"score", ($"score" >= 0L).as("keep"), abs($"score").as("margin"))
      .orderBy($"doc_id")
  }
}
