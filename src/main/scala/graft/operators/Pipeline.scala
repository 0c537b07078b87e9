package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Materialize, Tables}

/** Reference-pipeline semantics re-expressed Spark-first — SURVEY.md §2.B.
  *
  * The Confluence corpus maps onto `documents` (source = "space", a derived
  * balanced tree = page hierarchy) and `events` (= page-update stream). The
  * version-gated differential logic of the reference's StateManager
  * (/root/reference/utilities/state_manager.py:55-102) becomes joins over a
  * simulated state snapshot:
  *   state    = documents with doc_id % 5 != 4, at version 2
  *   current  = all documents, at version 3 when doc_id % 3 == 0 else 2
  * so "new" rows are doc_id%5==4, "updated" rows are doc_id%3==0 (and in
  * state), everything else "unchanged" — all derivable by both engines.
  */
object PipelineOps {

  /** Simulated persisted state snapshot (page_id -> version). */
  private[operators] def stateSnapshot(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .filter($"doc_id" % 5 =!= 4)
      .select($"doc_id", lit(2L).as("version"), $"source", $"lang")
  }

  /** Simulated "current Confluence snapshot" with bumped versions. */
  private[operators] def currentSnapshot(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id",
              when($"doc_id" % 3 === 0, 3L).otherwise(2L).as("version"),
              $"source", $"lang", $"n_chars")
  }

  /** get_pages_in_space: filter by space/partition key + project. */
  def pagesInSpace(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .filter($"source" === "src3")
      .select($"doc_id", $"lang", $"n_chars")
      .orderBy($"doc_id")
  }

  /** CQL lastmodified>=: events in the trailing 7 days relative to max(ts).
    * The cutoff is computed distributed (broadcast scalar agg), not collected.
    */
  def updatedLastNDays(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
    val cutoff = ev.agg(max($"ts").as("mx"))
      .select(($"mx" - expr("INTERVAL 7 DAYS")).as("cutoff"))
    ev.crossJoin(broadcast(cutoff))
      .filter($"ts" >= $"cutoff")
      .select($"event_id", $"ts", $"user_id", $"event_type")
      .orderBy($"event_id")
  }

  /** get_page_by_id / get_page_by_title: point lookups by key or (space, title prefix). */
  def pageLookup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .filter($"doc_id" === 42 || ($"source" === "src1" && $"text".like("key%")))
      .select($"doc_id", $"source", $"lang", $"n_chars")
      .orderBy($"doc_id")
  }

  /** CQL-style full-text search (reference: the arbitrary-CQL layer of
    * api_client/confluence_client.py:351-428, beyond p03's point/prefix
    * lookup): pages containing ALL query terms, ranked by total term
    * frequency. Token-exact matching (not substring) over the whitespace
    * tokenization both engines share; per-row column math, so the filter
    * and scoring run inside codegen with no shuffle before the ordered
    * collect. At 100 TB the same predicate rides on top of an inverted
    * index / bloom pruning; the scan form here is the semantic contract.
    */
  val SearchTerms: Seq[String] = Seq("spark", "vector", "stream")

  /** Positional per-term column names. Query terms are USER DATA (the
    * reference's CQL terms, api_client/confluence_client.py:351-428), so a
    * term must never become part of an identifier or SQL text: a term with
    * an apostrophe/space/dot/backtick would crash expr() or col() parsing,
    * duplicate terms would collide as ambiguous columns, and a crafted term
    * spliced into expr() is SQL-expression injection (Spark exposes
    * reflect/java_method — code execution from data). Columns are
    * tf_0..tf_{n-1} / df_0..df_{n-1}; the term->index mapping lives in
    * Scala, and terms reach the plan ONLY as `lit()` values.
    */
  private[graft] def tfCol(i: Int): String = s"tf_$i"
  private[graft] def dfCol(i: Int): String = s"df_$i"

  /** The search-term split: lowercase tokens of the UNtrimmed text on
    * whitespace runs, unlike [[TextOps.words]] — leading whitespace yields
    * a leading empty token, which the shared p18/p20 oracle and the BM25
    * `dl` count too. */
  private[graft] def searchTokens(text: Column): Column = split(lower(text), "\\s+")

  /** Rename the positional tf columns to human-facing tf_<term> names for
    * the keyed queries whose terms are CODE CONSTANTS (SearchTerms) — the
    * oracle SQL publishes those names. withColumnsRenamed does not parse
    * names, and this is never applied to user-supplied terms.
    */
  private[graft] def tfDisplay(df: DataFrame, terms: Seq[String]): DataFrame =
    df.withColumnsRenamed(
      terms.indices.map(i => tfCol(i) -> s"tf_${terms(i)}").toMap)

  /** Per-doc (tf per term) columns in ONE scan: the `term_counts` codegen
    * kernel hashes the query terms once and counts every token with an O(1)
    * lookup — scan cost is |terms|-independent (the per-term interpreted
    * `filter(toks, _ == t)` alternative is |terms| passes over corpus-length
    * arrays, SURVEY §7f's measured 30× HOF penalty times the query length).
    * Two-step select keeps the array materialized once: CollapseProject
    * refuses to inline a non-cheap call referenced |terms| times.
    */
  private[graft] def termTfCols(docs: DataFrame, terms: Seq[String]): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val toks = searchTokens($"text")
    docs.select($"doc_id", $"source", size(toks).cast("long").as("dl"),
        graft.functions.GraftFunctions.termCounts(
          toks, array(terms.map(lit): _*)).as("tfs"))
      .select(($"doc_id" +: $"source" +: $"dl" +:
        terms.indices.map(i => element_at($"tfs", i + 1).as(tfCol(i)))): _*)
  }

  def textSearch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    tfDisplay(
      termTfCols(Tables.documents(s, dir), SearchTerms)
        .drop("dl")
        .filter(SearchTerms.indices.map(i => col(tfCol(i)) > 0).reduce(_ && _))
        .withColumn("score", SearchTerms.indices.map(i => col(tfCol(i))).reduce(_ + _)),
      SearchTerms)
      .orderBy($"score".desc, $"doc_id")
  }

  /** The inverted-index execution of [[textSearch]]: same semantic contract
    * (identical output, shares p18's oracle SQL verbatim), different physical
    * strategy. Tokens are array-filtered to the query terms BEFORE the
    * explode, so only matching postings fan out; one hash shuffle groups
    * postings per document and conditional aggregation rebuilds the per-term
    * frequencies with AND semantics. At 100 TB the posting lists are
    * materialized once into a bucketed token->doc table and queries join it
    * instead of scanning text — this key demonstrates the query side of that
    * shape, where work scales with matching postings, not corpus bytes.
    */
  def indexedSearch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val termArray = array(SearchTerms.map(lit): _*)
    val matching = explode(filter(searchTokens($"text"),
      t => array_contains(termArray, t)))
    val postings = Tables.documents(s, dir)
      .select($"doc_id", $"source", matching.as("tok"))
    postings
      .groupBy($"doc_id", $"source")
      .agg(
        SearchTerms.map(t =>
          sum(when($"tok" === t, 1L).otherwise(0L)).as(s"tf_$t")).head,
        SearchTerms.map(t =>
          sum(when($"tok" === t, 1L).otherwise(0L)).as(s"tf_$t")).tail: _*)
      .filter(SearchTerms.map(t => col(s"tf_$t") > 0).reduce(_ && _))
      .withColumn("score", SearchTerms.map(t => col(s"tf_$t")).reduce(_ + _))
      .orderBy($"score".desc, $"doc_id")
  }

  /** p38: BM25 ranking — the relevance layer p18/p20 return match SETS
    * without (conjunctive tf-sum ranks long spammy docs first; BM25's
    * saturation and length normalization are why every search engine uses
    * it). Exact integers throughout: the tf part
    * tf·(k1+1) / (tf + k1·(1−b + b·dl/avgdl)) with the standard k1 = 1.2,
    * b = 0.75 and avgdl = T/N cross-multiplies to the single rational
    *   44·T·tf / (20·T·tf + 6·T + 18·N·dl)
    * — NO intermediate truncation, one div at the final milli-scaling; the
    * idf is Lucene's non-negative form ln(1 + (N−df+0.5)/(df+0.5)) =
    * ln((N+1)/(df+0.5)) (the raw Robertson idf goes NEGATIVE when a term
    * hits over half the corpus and would rank matches below non-matches),
    * as half-bit integer logs (length(bin(x²)) = ⌊2·log2 x⌋+1, t34's law)
    * of the 0.5-cleared operands 2N+2 / 2df+1 — monotone in x, so
    * idf ≥ 0 always. Overflow bound: 44·T·tf·1000 needs
    * T·tf < 2·10¹⁴ — past that, rescale T or shard (documented, not
    * silent). Disjunctive match (any query term), top-100 by
    * (score, doc_id) compiles to TakeOrderedAndProject — no global sort.
    * Plan: tf/dl are scan-local array math (p18's shape), the corpus
    * statistics (N, T, df per term) are ONE tiny aggregate broadcast back,
    * scoring is codegen'd projection.
    */
  val Bm25K = 100
  def bm25Rank(s: SparkSession, dir: String): DataFrame =  {
    val base = bm25Base(Tables.documents(s, dir))
    tfDisplay(bm25From(base, bm25Stats(base)), SearchTerms)
  }

  /** Per-doc (dl, tf per term) projection — ONE scan regardless of |terms|
    * via the `term_counts` kernel ([[termTfCols]]).
    */
  private[graft] def bm25Base(docs: DataFrame): DataFrame =
    termTfCols(docs, SearchTerms)

  /** The corpus statistics BM25 needs: one row of (N, T, df per term) —
    * every component a plain SUM/COUNT, i.e. ADDITIVE, which is what p39
    * folds at ingest.
    */
  private[graft] def bm25Stats(base: DataFrame,
                               nTerms: Int = SearchTerms.length): DataFrame = {
    val s = base.sparkSession
    import s.implicits._
    base.agg(
      count(lit(1)).as("n_docs"),
      (sum($"dl").as("total_toks") +:
       (0 until nTerms).map(i =>
         sum(when(col(tfCol(i)) > 0, 1L).otherwise(0L)).as(dfCol(i)))): _*)
  }

  /** Score + rank against a FINISHED stats row — shared by p38 (one-shot)
    * and p39 (stats folded at ingest): like s28/s30, the judgment (a
    * ranking) derives at read time over folded facts, because idf is not
    * additive but N/T/df are.
    *
    * The documented overflow bound (44000·T·tf needs T·tf < ~2·10¹⁴; the
    * denominator's 18·N·dl has its own Long ceiling) is now ENFORCED, not
    * a comment: each operand that can wrap is computed through try_multiply
    * / try_add, and a null (= wraparound) raises instead of silently
    * corrupting the ranking — the rescale-or-shard limit fails loudly,
    * matching the oracle side where DuckDB raises on BIGINT overflow.
    */
  private[graft] def bm25From(base: DataFrame, stats: DataFrame,
                              nTerms: Int = SearchTerms.length): DataFrame = {
    val s = base.sparkSession
    import s.implicits._
    def bits2(c: Column) = length(bin(c * c)).cast("long")
    val score = (0 until nTerms).map { i =>
      val idf = bits2(lit(2L) * $"n_docs" + lit(2L)) -
        bits2(lit(2L) * col(dfCol(i)) + lit(1L))
      // ELSE is reached only when the guards pass, so its raw arithmetic is
      // within range: 44000·T·tf ok ⇒ 20·T·tf ≤ 4.2e15 and 6·T ≤ 1.3e15;
      // the 18·N·dl term and the final sum are guarded by the try_add.
      // Only the POSITIONAL tf_<i> name reaches this SQL text — never a term.
      val tfpart = expr(
        s"""CASE WHEN try_multiply(try_multiply(44000L, total_toks), ${tfCol(i)}) IS NULL
                   OR try_add(try_multiply(try_multiply(20L, total_toks), ${tfCol(i)})
                                + 6L * total_toks,
                              try_multiply(try_multiply(18L, n_docs), dl)) IS NULL
             THEN raise_error('graft bm25: integer overflow (T*tf past ~2e14 or N*dl past ~5e17) — rescale total_toks or shard the corpus')
             ELSE (44000L * total_toks * ${tfCol(i)}) div
                  (20L * total_toks * ${tfCol(i)} + 6L * total_toks + 18L * n_docs * dl)
             END""")
      idf * tfpart
    }.reduce(_ + _)
    base.crossJoin(broadcast(stats))
      .filter((0 until nTerms).map(i => col(tfCol(i)) > 0).reduce(_ || _))
      .select(($"doc_id" +: $"source" +: $"dl" +:
        (0 until nTerms).map(i => col(tfCol(i)))) :+ score.as("score_milli"): _*)
      .orderBy($"score_milli".desc, $"doc_id")
      .limit(Bm25K)
  }

  /** BM25 with the query terms arriving as DATA (a query table), not code —
    * the reference's CQL terms are user input
    * (api_client/confluence_client.py:351-428). The term table is
    * query-sized, so collecting it to bind the scan kernel is the
    * documented bounded-collect pattern (twoPhaseIndex's offsets rule);
    * the corpus is still scanned ONCE regardless of |terms| — plan-asserted
    * in PipelineSpec.
    *
    * Terms are normalized in Scala (trim/lowercase to match the lowercased
    * tokenization, drop null/empty, DEDUPE, sort) and then exist in the plan
    * only as `lit()` values and positional tf_<i> columns — a term
    * containing quotes, dots, spaces, or SQL is just data (spec-proven with
    * hostile terms). Output tf_<i> follows the sorted-distinct term order.
    */
  def bm25RankQuery(docs: DataFrame, termsDf: DataFrame): DataFrame = {
    val terms = normalizedTerms(termsDf)
    val base = termTfCols(docs, terms)
    bm25From(base, bm25Stats(base, terms.length), terms.length)
  }

  /** Sorted-distinct normalized query terms (the tf_<i> index order).
    * Locale.ROOT, not the JVM default: Spark's `lower()` lowercases the
    * token side locale-independently ON ASCII (UTF8String's fast path), so
    * a default-locale lowercase here would silently stop matching ASCII
    * terms under tr/az locales ("INDEX" → dotless-ı "ındex" vs token
    * "index"). Non-ASCII code points are NOT covered by this pairing:
    * Spark's lower() falls back to default-locale String.toLowerCase
    * there, so a non-ASCII term can still mismatch its token under tr/az
    * default JVM locales — a deployment with non-ASCII query terms should
    * pin the executor JVM locale (or normalize both sides with the same
    * collation) rather than rely on this path.
    */
  private[graft] def normalizedTerms(termsDf: DataFrame): Seq[String] = {
    val terms = termsDf.select("term").collect()
      .flatMap(r => Option(r.getString(0))
        .map(_.trim.toLowerCase(java.util.Locale.ROOT)))
      .filter(_.nonEmpty).distinct.sorted.toSeq
    require(terms.nonEmpty, "bm25RankQuery: no usable query terms")
    terms
  }

  /** p39: the search index's statistics loop closed at ingest — BM25's
    * corpus stats (N, T, df per term) are all plain counts/sums, so they
    * FOLD additively per batch (the s28/s30 discipline: fold facts, derive
    * judgments — idf is not additive, a ranking is not mergeable, but the
    * three numbers under them are); after the last batch the SAME scoring
    * derivation as p38 re-ranks and the result hash-equals the one-shot
    * through the SHARED oracle. This is how a live search index actually
    * refreshes relevance: postings append per batch (s14/s22's job), the
    * stats row ticks additively, scores are computed at query time from
    * whatever the stats row says — nobody rescans the corpus to re-rank.
    * State = ONE row regardless of corpus size.
    */
  val Bm25ReplayBatches = 3
  def bm25Fold(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = bm25Base(Tables.documents(s, dir))
    // Per-batch stats rows from ONE tokenization pass: sums/counts are
    // additive, so the grouped-by-batch partials fold to the same one-row
    // state (the keyless sumByKeys) without re-running the term-count
    // kernel over the corpus once per batch.
    val partials = base
      .groupBy(pmod($"doc_id", lit(Bm25ReplayBatches.toLong)).as("b"))
      .agg(count(lit(1)).as("n_docs"),
        (sum($"dl").as("total_toks") +:
         SearchTerms.indices.map(i =>
           sum(when(col(tfCol(i)) > 0, 1L).otherwise(0L)).as(dfCol(i)))): _*)
    val stats = graft.streaming.Fold.replayPartials(Bm25ReplayBatches, partials)(
      graft.streaming.Streams.sumByKeys())
    tfDisplay(bm25From(base, stats), SearchTerms)
  }

  /** get_child_pages(recursive=True): transitive closure over the derived
    * balanced tree (parent(i) = (i-1) div 2). Iterative BFS — each step is one
    * distributed self-join, loop depth is log2(n), with early exit on an empty
    * frontier. No row data ever reaches the driver; only the loop counter does.
    */
  def hierarchyDescendants(s: SparkSession, dir: String, rootId: Long = 5L): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    // The edge projection is consumed once PER LEVEL by the chained BFS
    // joins below — materialize it once (two-long rows)
    // so the closure reads the parquet corpus once, not depth (= log2 n)
    // times. At 100 TB this is the difference between one corpus scan and
    // ~25 of them; the reused-DataFrame caching rule applies exactly here.
    val edges = Materialize(docs.filter($"doc_id" >= 1)
      .select($"doc_id".as("child"), expr("(doc_id - 1) div 2").as("parent")))
    // One metadata-only scalar job bounds the tree depth (parquet aggregate
    // pushdown answers max(doc_id) from file footers — no data scan even at
    // 100 TB); the whole closure is then built lazily (depth chained joins)
    // and executes as a SINGLE query — per-level isEmpty() actions cost
    // ~0.7s each in job overhead and would dominate at any scale factor.
    val maxId = footerMax(s, s"$dir/documents.parquet", "doc_id")
    val depth = 64 - java.lang.Long.numberOfLeadingZeros(maxId + 1)
    var frontier = s.range(rootId, rootId + 1).select($"id".as("node"))
    var all = frontier
    for (_ <- 1 to depth) {
      frontier = frontier.join(edges, $"node" === $"parent").select($"child".as("node"))
      all = all.union(frontier)
    }
    all.distinct()
      .join(docs, $"node" === $"doc_id")
      .select($"doc_id", $"source", $"n_chars")
      .orderBy($"doc_id")
  }

  /** max(col) answered from parquet footer statistics only: scoped enable of
    * parquet aggregate pushdown, so the job reads file metadata, not rows.
    */
  private def footerMax(s: SparkSession, path: String, col: String): Long = {
    // agg pushdown exists only on the DSv2 scan, so parquet must drop off
    // the v1 fallback list — scoped to a child session (shared SparkContext,
    // isolated SQLConf) so concurrent queries on `s` never see the flipped
    // confs (the same invariant Tables.events documents for nanosAsLong)
    val scoped = s.newSession()
    scoped.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    scoped.conf.set("spark.sql.sources.useV1SourceList", "avro,csv,json,kafka,orc,text")
    scoped.read.parquet(path)
      .agg(max(org.apache.spark.sql.functions.col(col))).head().getLong(0)
  }

  /** Hierarchical subtree rollup: per-node document count and character
    * mass over its ENTIRE subtree (the "space/section totals" view p04's
    * descendant listing can't aggregate). Because ancestry in the derived
    * tree is arithmetic (parent(i) = (i-1) div 2), each row ENUMERATES its
    * own ancestor path via the codegen'd `tree_ancestors` kernel — no
    * iterative self-joins, no closure materialization: one explode
    * (log2(n) rows per doc) and ONE partial-aggregated shuffle, at any
    * corpus size. Oracle: DuckDB WITH RECURSIVE ancestor walk.
    */
  def subtreeRollup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select(explode(graft.functions.GraftFunctions.treeAncestors($"doc_id"))
                .as("ancestor_id"),
              $"n_chars")
      .groupBy($"ancestor_id")
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("subtree_chars"))
      .orderBy($"ancestor_id")
  }

  /** should_process_page: classify current vs state as new/updated/unchanged. */
  def incrementalDiff(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val st = stateSnapshot(s, dir).select($"doc_id", $"version".as("state_version"))
    currentSnapshot(s, dir)
      .join(st, Seq("doc_id"), "full_outer")
      .select($"doc_id",
        when($"state_version".isNull, "new")
          .when($"version" > $"state_version", "updated")
          .otherwise("unchanged").as("status"),
        coalesce($"version", lit(-1L)).as("current_version"),
        coalesce($"state_version", lit(-1L)).as("state_version"))
      .orderBy($"doc_id")
  }

  /** update_page_state: keyed merge, max-version row wins (state upsert). */
  def stateUpsert(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val merged = stateSnapshot(s, dir).select($"doc_id", $"version", $"source")
      .union(currentSnapshot(s, dir).filter($"version" > 2).select($"doc_id", $"version", $"source"))
    val w = Window.partitionBy($"doc_id").orderBy($"version".desc)
    merged.withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"doc_id", $"version", $"source")
      .orderBy($"doc_id")
  }

  /** "Missing from state file" sweep: corpus anti-join state. */
  def missingFromState(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .join(stateSnapshot(s, dir).select($"doc_id"), Seq("doc_id"), "left_anti")
      .select($"doc_id", $"source", $"lang")
      .orderBy($"doc_id")
  }

  /** Dedup across fetch modes: first event per (user, type), deterministic survivor. */
  def dedupLatest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id", $"event_type").orderBy($"event_id".asc)
    Tables.events(s, dir)
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"user_id", $"event_type", $"event_id", $"ts")
      .orderBy($"user_id", $"event_type")
  }

  /** Run-summary counters (processed/skipped/failed), per day. */
  def runSummary(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .groupBy(date_trunc("day", $"ts").as("day"))
      .agg(
        sum(when($"event_type".isin("purchase", "signup"), 1).otherwise(0)).as("processed"),
        sum(when($"event_type".isin("view", "click"), 1).otherwise(0)).as("skipped"),
        sum(when($"event_type" === "error", 1).otherwise(0)).as("failed"),
        count(lit(1)).as("total"))
      .orderBy($"day")
  }

  /** Output organization stats per space (the partitioned-sink shape). */
  def partitionStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .groupBy($"source")
      .agg(count(lit(1)).as("doc_count"),
           sum($"n_chars").as("total_chars"),
           countDistinct($"lang").as("lang_count"))
      .orderBy($"source")
  }

  /** CDC change-feed application with DELETE semantics — the state op
    * p06's max-version upsert lacks: signup/purchase act as upserts, error
    * acts as a tombstone, and the surviving state is each user's net
    * position after replaying the feed in (ts, event_id) order. Batch
    * replay reduces to one window pass (last op wins, tombstones drop), so
    * applying a 100-TB feed is a single user_id shuffle; the streaming
    * twin is s07's foreachBatch upsert sink.
    */
  def cdcMerge(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts".desc, $"event_id".desc)
    Tables.events(s, dir)
      .filter($"event_type".isin("signup", "purchase", "error"))
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1 && $"event_type" =!= "error")
      .select($"user_id", $"event_type".as("last_op"), $"value", $"ts".as("updated_at"))
      .orderBy($"user_id")
  }

  /** SCD2-style versioned state history — the reference's StateManager
    * tracks only the LATEST version per page (state_manager.py:55-102); a
    * warehouse-grade pipeline keeps the full change history as validity
    * intervals. Each qualifying event opens a version valid from its own
    * timestamp until the user's next event (null = still current). One
    * window pass over one shuffle on user_id; interval construction is
    * pure lead(), so the shape scales as a single sort-based window at any
    * volume.
    */
  def stateHistory(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    Tables.events(s, dir)
      .filter($"event_type".isin("purchase", "signup"))
      .select($"user_id", $"event_id", $"value", $"ts".as("valid_from"),
              lead($"ts", 1).over(w).as("valid_to"))
      .withColumn("is_current", $"valid_to".isNull)
      .orderBy($"user_id", $"valid_from", $"event_id")
  }

  /** p31: point-in-time state reconstruction — time travel over p22's SCD2
    * history: "what did the state look like at time T?", the query a
    * reproducible-training-run audit asks (which version of every page was
    * live when the snapshot was cut). Version intervals are closed-open
    * [valid_from, valid_to), so each key matches AT MOST ONE interval at
    * any instant — the reconstruction is the history filtered against a
    * broadcast one-row anchor (T = global max ts − 15 days, data-derived
    * and scale-stable), a scan-local predicate after p22's one user_id
    * window exchange. The StateManager kept only the latest version and
    * could never answer this; the interval form answers it for ANY T
    * without replaying the event log (p23's CDC fold would have to).
    */
  def pointInTime(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val anchor = Tables.events(s, dir)
      .agg((max($"ts") - expr("INTERVAL 15 DAYS")).as("as_of"))
    stateHistory(s, dir)
      .crossJoin(broadcast(anchor))
      .filter($"valid_from" <= $"as_of" &&
              ($"valid_to".isNull || $"valid_to" > $"as_of"))
      .select($"user_id", $"event_id".as("version_event_id"), $"value",
              $"valid_from", $"as_of")
      .orderBy($"user_id")
  }

  /** p35: retention policy over the SCD2 history — the state-store
    * maintenance pass p22 makes necessary: a version table grows without
    * bound, and the compaction question is "which rows may the next
    * vacuum purge". Policy (the standard lakehouse shape): keep the
    * CURRENT version of every key, every version whose validity
    * interval reaches PAST the trailing horizon (global max ts − 7 d,
    * data-anchored), and the newest [[RetentionKeepVersions]] versions
    * per key regardless of age (repair needs a short undo chain). The
    * horizon rule is the Delta-vacuum shape, keyed on valid_to not
    * valid_from — keeping only versions BORN after the horizon would
    * purge the version LIVE AT the horizon and silently break time
    * travel there (the first cut of this key did exactly that; the spec
    * now proves point-in-time reconstruction at ANY T ≥ horizon reads
    * only kept rows). The verdict is per-row with an ORDERED reason
    * ('current' > 'covered' > 'version' > 'purged') so the vacuum is
    * auditable row by row. Shapes: p22's one user_id
    * window exchange, one more rank over the SAME partitioning (no new
    * exchange — the sort order differs but the partitioning is reused),
    * one broadcast anchor row; verdicts are scan-local CASE math.
    */
  val RetentionKeepVersions = 2
  def retentionPolicy(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val anchor = Tables.events(s, dir)
      .agg((max($"ts") - expr("INTERVAL 7 DAYS")).as("horizon"))
    val wDesc = Window.partitionBy($"user_id")
      .orderBy($"valid_from".desc, $"event_id".desc)
    stateHistory(s, dir)
      .withColumn("version_rank", row_number().over(wDesc).cast("long"))
      .crossJoin(broadcast(anchor))
      .select($"user_id", $"event_id", $"valid_from", $"version_rank",
        when($"is_current", "current")
          .when($"valid_to" > $"horizon", "covered")
          .when($"version_rank" <= RetentionKeepVersions, "version")
          .otherwise("purged").as("reason"))
      .withColumn("kept", $"reason" =!= "purged")
      .orderBy($"user_id", $"valid_from", $"event_id")
  }

  /** p28: ingest freshness report — the ops dashboard behind the
    * reference's "updated in last N days" scan (p02 answers the query;
    * this audits the feed): per event type, last-seen timestamp, volume in
    * the trailing 7 days, and staleness versus the freshest type in whole
    * hours. A feed whose staleness grows is a dead upstream. One
    * partial-aggregated pass + a broadcast one-row global max — integer
    * hours, so the report hash-compares exactly.
    */
  def freshnessReport(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val perType = Tables.events(s, dir)
      .groupBy($"event_type")
      .agg(max($"ts").as("last_seen"), count(lit(1)).as("n_events"))
    val global = perType.agg(max($"last_seen").as("global_max"))
    val recent = Tables.events(s, dir)
      .crossJoin(broadcast(global))
      .filter($"ts" >= $"global_max" - expr("INTERVAL 7 DAYS"))
      .groupBy($"event_type").agg(count(lit(1)).as("n_last_7d"))
    perType
      .join(recent, Seq("event_type"), "left")
      .crossJoin(broadcast(global))
      .select($"event_type", $"last_seen", $"n_events",
        coalesce($"n_last_7d", lit(0L)).as("n_last_7d"),
        expr("(unix_timestamp(global_max) - unix_timestamp(last_seen)) div 3600")
          .as("staleness_hours"))
      .orderBy($"event_type")
  }

  /** p26: concat-and-chunk sequence packing — the training-batch prep step
    * after curation: per (source, shard) the token streams of all docs are
    * conceptually concatenated in doc_id order and cut into fixed
    * SeqBudget-token training sequences; this reports the exact packing
    * manifest per sequence (docs touching it, token fill, how many docs
    * start in it / straddle into the next one). A doc's placement is its
    * running start offset (window cumsum), and each doc explodes into
    * exactly the sequences its [start, start+n) token span overlaps — so
    * boundary-straddling accounting is exact, not approximated.
    *
    * Scale shape: packing is per-(source, shard), so the window sort is
    * partition-parallel — shard count is the parallelism knob (2 here for
    * test-SF structure; thousands at 100 TB) and NO global sort or
    * single-reducer cumsum exists anywhere. One hash exchange for the
    * window, one partial-aggregated exchange for the per-sequence rollup.
    */
  private val SeqBudget = 128L
  private val PackShards = 2L

  def sequencePacking(s: SparkSession, dir: String): DataFrame =
    packingManifest(Tables.documents(s, dir))

  /** Doc → training-sequence membership (the p26 placement law exposed as
    * rows): which sequences each doc's tokens land in — shared by the
    * manifest rollup and p36's erasure impact analysis.
    */
  private[graft] def seqMembership(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    seqMembershipTok(docs.select($"doc_id", $"source",
      size(TextOps.nonEmptyWords($"text")).cast("long").as("n_toks")))
  }

  /** The placement law over a (doc_id, source, n_toks) frame whose token
    * counts are already computed — p27's curated lineage carries n_toks
    * from its one-pass scored projection instead of re-tokenizing text.
    */
  private[graft] def seqMembershipTok(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val w = Window.partitionBy($"source", $"shard").orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .select($"doc_id", $"source", ($"doc_id" % PackShards).as("shard"), $"n_toks")
      .filter($"n_toks" > 0)
      .withColumn("start_off", sum($"n_toks").over(w) - $"n_toks")
      .select($"source", $"shard", $"doc_id", $"n_toks", $"start_off",
        explode(expr(
          s"sequence(start_off div $SeqBudget, (start_off + n_toks - 1) div $SeqBudget)"))
          .as("seq_id"))
  }

  /** Packing manifest over any (doc_id, source, text) frame — p27 packs the
    * CURATED corpus through the same mechanism.
    */
  private[graft] def packingManifest(docs: DataFrame): DataFrame =
    manifestRollup(seqMembership(docs))

  /** Manifest over a pre-tokenized (doc_id, source, n_toks) frame. */
  private[graft] def packingManifestTok(docs: DataFrame): DataFrame =
    manifestRollup(seqMembershipTok(docs))

  private def manifestRollup(mem: DataFrame): DataFrame = {
    val s = mem.sparkSession
    import s.implicits._
    mem
      .groupBy($"source", $"shard", $"seq_id")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(least(($"seq_id" + 1) * SeqBudget, $"start_off" + $"n_toks") -
            greatest($"seq_id" * SeqBudget, $"start_off")).as("n_tokens"),
        sum(when($"start_off" >= $"seq_id" * SeqBudget, 1L).otherwise(0L))
          .as("n_starting"),
        sum(when($"start_off" + $"n_toks" > ($"seq_id" + 1) * SeqBudget, 1L).otherwise(0L))
          .as("n_straddling"))
      .orderBy($"source", $"shard", $"seq_id")
  }

  /** p30: global contiguous example numbering — the zipWithIndex problem at
    * 100 TB. A training manifest wants every example to carry a stable,
    * gap-free global index in a canonical order, but the naive
    * `row_number() OVER (ORDER BY ...)` funnels the whole corpus through
    * ONE reducer. The scale-correct shape is two-phase enumeration:
    * range-partition on the canonical key and PIN the placement
    * ([[graft.Materialize]] — the two phases must see the same partitioning,
    * and a re-planned exchange could legally move boundary rows between runs),
    * count rows per partition (a |partitions|-row aggregate), turn the
    * counts into exclusive prefix offsets (driver-side over a few hundred
    * longs — the documented tiny-collect exception: bounded by cluster
    * partitioning, never by data), and add `offset(pid) + local rank` in a
    * per-partition window that is fully partition-parallel. Range
    * partitioning makes partition p's keys all precede partition p+1's, so
    * local rank + offset IS the global row number — no corpus-wide sort,
    * no single-reducer stage, one range exchange total.
    */
  def globalIndex(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    twoPhaseIndex(Tables.documents(s, dir).select($"doc_id", $"source"), 0L)
      ._1.orderBy($"global_idx")
  }

  /** The two-phase enumeration core, shared by p30 (offset 0 over the whole
    * corpus) and s22's ingest-time fold (offset = examples numbered so far):
    * range-partition on the canonical key with placement pinned, exclusive
    * prefix offsets over the |partitions|-row counts, per-partition window
    * rank. Returns the assigned frame and the batch's row count (what the
    * streaming fold carries as its single long of state).
    *
    * The fan-out is NOT a constant: it follows `spark.sql.shuffle.partitions`
    * (32 here, thousands on a real cluster), so the enumeration's
    * parallelism — and the size of the driver-side offset array — scales
    * with the cluster, never with the data. Placement is pinned by
    * [[graft.Materialize]] (see its single-JVM assumption); a durable
    * production run would count + rank over a PERSISTED range-partitioned
    * table instead, so the offsets could be recomputed from the table alone.
    */
  private[graft] def twoPhaseIndex(rows: DataFrame, offset: Long): (DataFrame, Long) = {
    val s = rows.sparkSession
    import s.implicits._
    val nParts = s.conf.get("spark.sql.shuffle.partitions").toInt
    val placed = rows
      .repartitionByRange(nParts, $"source", $"doc_id")
      .withColumn("pid", spark_partition_id().cast("long"))
      .transform(Materialize(_))
    val counts = placed.groupBy($"pid").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
    val offsets = counts.map(_._1)
      .zip(counts.map(_._2).scanLeft(offset)(_ + _).dropRight(1))
    val offsetDf = s.createDataFrame(offsets.toSeq).toDF("pid", "offset")
    val w = Window.partitionBy($"pid").orderBy($"source", $"doc_id")
    val assigned = placed
      .join(broadcast(offsetDf), Seq("pid"))
      .select(($"offset" + row_number().over(w) - 1L).as("global_idx"),
              $"doc_id", $"source")
    (assigned, counts.map(_._2).sum)
  }

  /** p32: PageRank-style link influence — the iterative graph-analytics
    * workload (which documents does the corpus point AT) next to p04's
    * reachability and d10's connected components. The citation graph is
    * derived arithmetically (outdeg 3: dst_j = ((id mod N)·(2j+1) + 17j)
    * mod N, overflow-safe by reducing mod N first), so both engines build
    * the identical edge set with no stored edge table. Ranks live in
    * integer ppm and every step is integer math — damping applied at
    * CONTRIBUTION time (rank·850000 div 10⁶ div outdeg) keeps per-edge
    * values ≤ 10⁶-scale so the in-mass sum stays far from Long overflow up
    * to ~10⁹ docs — making truncation order-independent and the result
    * bit-identical across engines (no floating PageRank drift). Fixed 3
    * iterations as ONE lazy chained plan (p04's lesson: per-iteration
    * actions cost more than the chain); each iteration is one src join +
    * one dst agg, both hash exchanges on graph keys — the exact shape a
    * 1000-executor PageRank runs, with the iteration count the only
    * driver-side loop. Contributions to id-gap targets (ScaleGen leaves
    * holes) vanish identically on both engines via the doc-side left join.
    */
  val PageRankIters = 3
  val PageRankOutDeg = 3
  /** Iteration count is a parameter (keyed default [[PageRankIters]]).
    * Analytic bound on how many are useful: each round multiplies the
    * propagated mass by the damping 0.85, so after t rounds the rank
    * perturbation still in flight is ≤ 0.85^t of total mass — for a
    * rank readout in ppm, t = ceil(ln(10^-6)/ln(0.85)) ≈ 85 rounds is
    * full fixpoint precision and t ≈ 3-5 already bounds per-node error
    * to ~0.6-0.4 of a typical rank (ranking studies converge by ~10).
    * Per-edge contributions stay ≤ 10^6-scale at ANY t (damping applied
    * at contribution time), so the in-mass sum is overflow-safe up to
    * ~10^9 docs regardless of iteration count — t trades wall-clock for
    * precision only, never safety.
    */
  def pageRank(s: SparkSession, dir: String,
               iters: Int = PageRankIters): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir).select($"doc_id")
    val n = footerMax(s, s"$dir/documents.parquet", "doc_id") + 1
    val edges = docs.select($"doc_id".as("src"),
      explode(array((1 to PageRankOutDeg).map(j =>
        pmod(pmod($"doc_id", lit(n)) * lit(2L * j + 1) + lit(17L * j), lit(n))): _*))
        .as("dst"))
    var ranks = docs.select($"doc_id", lit(1000000L).as("rank_ppm"))
    for (_ <- 1 to iters) {
      val contrib = edges.join(ranks, $"src" === $"doc_id")
        .select($"dst",
          expr(s"rank_ppm * 850000 div 1000000 div $PageRankOutDeg").as("c"))
        .groupBy($"dst").agg(sum($"c").as("in_mass"))
      ranks = docs.join(contrib, $"doc_id" === $"dst", "left")
        .select($"doc_id",
          (lit(150000L) + coalesce($"in_mass", lit(0L))).as("rank_ppm"))
    }
    ranks.orderBy($"doc_id")
  }

  /** Failure-tolerant ingestion — the one reference behavior with no query
    * analogue until now: the pipeline records per-page failures and CONTINUES
    * the run (/root/reference/master_script.py:222-609 catches per-page
    * exceptions into failure counters instead of aborting). Spark-first
    * analogue: a PERMISSIVE jsonl read routes unparseable records into a
    * `_corrupt_record` column instead of failing the job; the run summary
    * counts parsed vs corrupt records, with a payload checksum (id_sum) over
    * the parsed rows proving good records survive intact. The fixture plants
    * a truncated line for every doc_id % 13 == 5, so the oracle derives the
    * expected split from `documents`. Parsing is row-local — tolerance costs
    * no shuffle, and at 100 TB the same read runs per-file across however
    * many jsonl parts the corpus has.
    */
  def tolerantIngest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val store = jsonlStore(s, dir)
    // text source + from_json, NOT a raw .json() read: the file source
    // forbids plans whose pruned schema is only the corrupt column
    // (QUERY_ONLY_CORRUPT_RECORD_COLUMN — a bare count() over this summary
    // prunes exactly that way), while from_json honors the same
    // PERMISSIVE/corrupt-column contract per row with no such restriction.
    s.read.textFile(store.getPath).toDF("line")
      .select(from_json($"line",
        org.apache.spark.sql.types.StructType.fromDDL(
          "doc_id LONG, source STRING, text STRING, _corrupt_record STRING"),
        Map("mode" -> "PERMISSIVE",
            "columnNameOfCorruptRecord" -> "_corrupt_record")).as("rec"))
      .select(
        when($"rec._corrupt_record".isNull, lit("parsed")).otherwise(lit("corrupt")).as("status"),
        $"rec.doc_id".as("doc_id"))
      .groupBy($"status")
      .agg(count(lit(1)).as("n"), sum($"doc_id").as("id_sum"))
      .orderBy($"status")
  }

  /** Planted jsonl fixture: every document as one JSON line, except
    * doc_id % 13 == 5 rows are written truncated (the cut always lands
    * inside the final string literal, so the line cannot parse). Shared
    * [[Fixtures.publishOnce]] lifecycle with the m03 attachment store
    * (mtime-stamped name, atomic-rename publish, stale-build sweep).
    */
  private def jsonlStore(s: SparkSession, dir: String): java.io.File = {
    import s.implicits._
    val srcStamp = new java.io.File(s"$dir/documents.parquet").lastModified()
    Fixtures.publishOnce(new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_jsonl_${dir.replaceAll("[^A-Za-z0-9.]", "_")}_$srcStamp")) { tmp =>
      // Files.newBufferedWriter THROWS on I/O errors (PrintWriter swallows
      // them behind an unchecked error flag — a truncated fixture would be
      // published and mtime-cached forever)
      val w = java.nio.file.Files.newBufferedWriter(
        new java.io.File(tmp, "docs.jsonl").toPath, java.nio.charset.StandardCharsets.UTF_8)
      try Tables.documents(s, dir)
        .select($"doc_id", to_json(struct($"doc_id", $"source", $"text")).as("line"))
        .as[(Long, String)]
        .toLocalIterator().forEachRemaining { case (id, line) =>
          w.write(if (id % 13 == 5) line.substring(0, line.length - 5) else line)
          w.newLine()
        }
      finally w.close()
    }
  }

  /** p34: the dataset card — the one-frame datasheet a corpus release
    * ships with (datasheets-for-datasets governance: Gebru et al. 2021):
    * global mass (docs/tokens/chars), exact-dup rate, mean doc length,
    * language and source composition in permille/ppm, and the quality
    * quartiles — every number an exact integer so the card is
    * bit-reproducible across engines. Composition rows are keyed
    * `lang_ppm:<lang>` / `source_ppm:<source>` so the schema stays fixed
    * as the domain grows. Shapes: each section is one partial-aggregated
    * corpus pass over pruned columns (the duplicate count pays
    * countDistinct's two-exchange partial-distinct — the only
    * non-single-pass section); the quality quartiles reuse d24's exact
    * histogram-cumsum (≤ 10⁴ histogram rows, NO corpus sort); section
    * results are a handful of rows unioned driver-free. Reference twin:
    * the run-report face of master_script's summary logging
    * (master_script.py:222-263) promoted to corpus scale.
    */
  def datasetCard(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val toks = size(TextOps.words($"text")).cast("long")
    val base = docs.select($"lang", $"source", $"n_chars", toks.as("n_toks"),
      TextOps.contentFp.as("fp"),
      floor(TextOps.qualityCol * lit(10000d) + lit(0.5d)).cast("long").as("q_e4"))
    val g = base.agg(
      count(lit(1)).as("n_docs"), sum($"n_toks").as("n_tokens"),
      sum($"n_chars").as("n_chars"), countDistinct($"fp").as("n_distinct"))
    def mrow(name: String, v: org.apache.spark.sql.Column) =
      struct(lit(name).as("metric"), v.as("value"))
    val globalRows = g.select(explode(array(
      mrow("n_docs", $"n_docs"),
      mrow("n_tokens", $"n_tokens"),
      mrow("n_chars", $"n_chars"),
      mrow("dup_ppm", expr("(n_docs - n_distinct) * 1000000L div n_docs")),
      mrow("mean_doc_tokens", expr("n_tokens div n_docs")))).as("m"))
      .select($"m.metric", $"m.value")
    // ONE corpus-count lineage shared by the ppm and quartile sections
    // (duplicate lineages dedupe via exchange reuse at runtime, but one
    // lineage is the repo convention — the q43 lesson)
    val nt = base.agg(count(lit(1)).as("nt"))
    def compRows(col: String, prefix: String): DataFrame =
      base.groupBy(base(col).as("k")).agg(count(lit(1)).as("n"))
        .crossJoin(broadcast(nt))
        .select(concat(lit(prefix), $"k").as("metric"),
                expr("n * 1000000L div nt").as("value"))
    // exact quartiles from the ≤10⁴-row quality histogram (d24's shape)
    val hist = base.groupBy($"q_e4").agg(count(lit(1)).as("c"))
      .withColumn("cum", sum($"c").over(
        Window.orderBy($"q_e4").rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .crossJoin(broadcast(nt))
    def quart(q: Double, name: String): DataFrame =
      hist.filter($"cum" >= ceil(lit(q) * $"nt"))
        .agg(min($"q_e4").as("value")).select(lit(name).as("metric"), $"value")
    globalRows
      .unionByName(compRows("lang", "lang_ppm:"))
      .unionByName(compRows("source", "source_ppm:"))
      .unionByName(quart(0.25, "quality_q1_e4"))
      .unionByName(quart(0.50, "quality_q2_e4"))
      .unionByName(quart(0.75, "quality_q3_e4"))
      .orderBy($"metric")
  }

  /** p37: incremental-publish diff — fixed-boundary vs content-defined
    * layout stability. When a release adds documents (baseline = the
    * previous snapshot, d37's doc_id % 3 ≠ 0 law; current = the full
    * corpus), the re-publish bill depends entirely on the artifact LAYOUT:
    * m06's fixed-boundary shards pack in (source, doc_id) byte order, so
    * one inserted doc shifts every later offset in its source and the
    * shard digests CASCADE — while t28's content-defined chunks depend
    * only on local content, so existing docs' digests survive verbatim
    * and only genuinely new content ships (the rsync/CDC-store argument,
    * measured instead of asserted; p36 uses the same cascade fact for
    * erasure). Per source: shard count + changed-shard count + ppm under
    * the fixed layout, chunk-digest count + new-digest count + ppm under
    * CDC.
    *
    * Plan: ONE corpus scan lineage per layout family. The fixed side
    * computes BOTH snapshots' shard assignments from one window pass —
    * two cumsums over the same (source, doc_id) partitioning (the current
    * offset and a baseline offset that conditionally skips new docs), each
    * row exploding into its snapshot memberships — so the baseline
    * manifest costs one extra column, not a second scan-sort. The CDC
    * side chunks the CURRENT corpus once (chunk digests are per-doc local,
    * so baseline digests are exactly the old docs' digests) and one
    * (source, digest) aggregate classifies every digest as carried or new.
    * All integers ⇒ bit-exact oracle.
    */
  def publishDiff(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val isNew = $"doc_id" % 3 === 0
    // fixed-boundary family: one window pass, both snapshots' offsets
    val sb = graft.operators.Multimodal.ShardBytes
    val rows = docs
      .select($"doc_id", $"source",
        concat(lit("IMG0"), $"text").cast("binary").as("blob"), isNew.as("is_new"))
      .select($"doc_id", $"source", $"is_new",
        length($"blob").cast("long").as("byte_len"), md5($"blob").as("blob_md5"))
      .withColumn("shard_cur",
        expr(s"coalesce(sum(byte_len) over (partition by source order by doc_id " +
          s"rows between unbounded preceding and 1 preceding), 0L) div $sb"))
      .withColumn("shard_base", expr(s"coalesce(sum(CASE WHEN NOT is_new THEN byte_len END) " +
        s"over (partition by source order by doc_id " +
        s"rows between unbounded preceding and 1 preceding), 0L) div $sb"))
    val manifests = rows
      .select($"source", $"doc_id", $"blob_md5", explode(
        when($"is_new", array(struct(lit("cur").as("snap"), $"shard_cur".as("shard_idx"))))
          .otherwise(array(
            struct(lit("cur").as("snap"), $"shard_cur".as("shard_idx")),
            struct(lit("base").as("snap"), $"shard_base".as("shard_idx"))))).as("m"))
      .groupBy($"source", $"m.snap".as("snap"), $"m.shard_idx".as("shard_idx"))
      .agg(expr("md5(array_join(transform(array_sort(collect_list(" +
        "struct(doc_id, blob_md5))), x -> x.blob_md5), ','))").as("manifest_md5"))
    val fixed = manifests.filter($"snap" === "cur")
      .select($"source", $"shard_idx", $"manifest_md5".as("cur_md5"))
      .join(manifests.filter($"snap" === "base")
        .select($"source", $"shard_idx", $"manifest_md5".as("base_md5")),
        Seq("source", "shard_idx"), "left")
      .groupBy($"source")
      .agg(count(lit(1)).as("fixed_total"),
        sum(when($"base_md5".isNull || $"base_md5" =!= $"cur_md5", 1L)
          .otherwise(0L)).as("fixed_changed"))
    // CDC family: chunk once, classify digests by old-occurrence presence
    val cdc = graft.operators.TextOps.chunkRows(docs)
      .join(docs.select($"doc_id", $"source", isNew.as("is_new")), Seq("doc_id"))
      .groupBy($"source", $"chunk_hash")
      .agg(max(when(!$"is_new", 1L).otherwise(0L)).as("in_base"))
      .groupBy($"source")
      .agg(count(lit(1)).as("cdc_total"),
        sum(when($"in_base" === 0L, 1L).otherwise(0L)).as("cdc_new"))
    fixed.join(cdc, Seq("source"))
      .select($"source", $"fixed_total", $"fixed_changed",
        expr("fixed_changed * 1000000 div fixed_total").as("fixed_changed_ppm"),
        $"cdc_total", $"cdc_new",
        expr("cdc_new * 1000000 div cdc_total").as("cdc_new_ppm"))
      .orderBy($"source")
  }
}
