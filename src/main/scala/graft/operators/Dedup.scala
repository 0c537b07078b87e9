package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Materialize, Tables}
import graft.functions.GraftFunctions._

/** Deduplication for LLM-corpus building — SURVEY.md §2.D.
  *
  * Scale shape: every variant is (per-row signature) -> (bucket-local join).
  * Nothing here compares all pairs; LSH banding / hamming banding bound the
  * candidate set so the shuffle key is always a bucket id.
  */
object Dedup {

  /** Exact dedup: normalized-content hash, min-id survivor per group. */
  def exactDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"content_md5")
    Tables.documents(s, dir)
      .withColumn("content_md5", TextOps.contentFp)
      .withColumn("keeper_id", min($"doc_id").over(w))
      .select($"doc_id", $"content_md5", $"keeper_id",
              ($"doc_id" === $"keeper_id").as("is_survivor"))
      .orderBy($"doc_id")
  }

  /** Bucket-local candidate pairing shared by d02 (minhash bands) and m09
    * (phash hamming bands — Multimodal.phashNeardup). Input: one row per
    * (bucket, doc) with a per-doc payload column; output: (doc_a, doc_b,
    * outA, outB) candidate rows with doc_a < doc_b.
    *
    * `Some(m)` is the bounded successor-window view: each doc pairs with its
    * next m bucket members in doc_id order as m lead() columns over ONE
    * bucket window — the banded rows cross one exchange, the per-bucket
    * buffer is m rows, and only skinny pair rows leave the window (the
    * round-11 shape; the former rank/explode/self-join re-sorted the
    * m-times-exploded side inside a sort-merge join, d02's superlinear
    * stage at 1000x). lead(j) ≡ the rank rk+j bucket member, so the pair
    * SET matches the oracle's ROW_NUMBER rank-range replay exactly.
    * Successors have strictly larger doc_id, so doc_a < doc_b holds by
    * construction. `None` is the exhaustive O(c²) bucket self-join, kept
    * for bounded stores.
    */
  private[graft] def bucketPairs(banded: DataFrame, bucketCols: Seq[String],
      payloadCol: String, outA: String, outB: String,
      successorWindow: Option[Int]): DataFrame = {
    val s = banded.sparkSession
    import s.implicits._
    successorWindow match {
      case Some(m) =>
        val w = Window.partitionBy(bucketCols.map(col): _*).orderBy($"doc_id")
        banded
          .select($"doc_id".as("doc_a"), col(payloadCol).as(outA),
            array((1 to m).map(j => struct(
              lead($"doc_id", j).over(w).as("doc_b"),
              lead(col(payloadCol), j).over(w).as(outB))): _*).as("succs"))
          .select($"doc_a", col(outA), explode($"succs").as("p"))
          .filter($"p.doc_b".isNotNull) // lead past the bucket end
          .select($"doc_a", $"p.doc_b".as("doc_b"), col(outA), col(s"p.$outB").as(outB))
      case None =>
        val a = banded.select(bucketCols.map(col) ++
          Seq($"doc_id".as("doc_a"), col(payloadCol).as(outA)): _*)
        val b = banded.select(bucketCols.map(col) ++
          Seq($"doc_id".as("doc_b"), col(payloadCol).as(outB)): _*)
        a.join(b, bucketCols).filter($"doc_a" < $"doc_b")
    }
  }

  private val NumHashes = 32
  private[graft] val Bands = 8
  private val Rows = NumHashes / Bands // 4 rows per band
  private val ShingleK = 3

  /** Per-doc minhash signature over 3-word shingle strings (one codegen'd
    * pass through the cross-engine kernel — the DuckDB oracle recomputes the
    * identical signature, see CrossHash / the d02 oracle SQL).
    */
  private def signatures(s: SparkSession, dir: String): DataFrame =
    signaturesOf(Tables.documents(s, dir))

  /** Signature form over any (doc_id, text) frame — the streaming index
    * sink (s14) signs micro-batches through the same kernel. Uses the fused
    * minhash_shingle_sig kernel: value-identical to
    * crosskernels.minhashSig31(shingle_strings(...)) (the oracle
    * recomputes the string form), with no shingle-string materialization —
    * one character scan.
    */
  private[graft] def signaturesOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs.select($"doc_id",
      minhashShingleSig(
        TextOps.words($"text"), lit(ShingleK),
        lit(NumHashes)).as("sig"))
  }

  /** LSH banding of minhash signatures: Bands buckets per doc, keyed by the
    * band's signature slice rendered as a string (engine-neutral join key —
    * the oracle builds the identical key with array_to_string).
    */
  private[graft] def bandSignatures(sigs: DataFrame): DataFrame = {
    import sigs.sparkSession.implicits._
    sigs.select($"doc_id", $"sig",
        explode(expr(
          s"transform(sequence(0, ${Bands - 1}), " +
          s"b -> struct(b AS band_id, " +
          s"array_join(transform(slice(sig, b*$Rows+1, $Rows), v -> CAST(v AS STRING)), ',') AS band_key))"))
          .as("band"))
      .select($"doc_id", $"sig", $"band.band_id", $"band.band_key")
  }

  /** Signature-agreement Jaccard estimate between two sig columns. */
  private def estJaccard(a: String, b: String) =
    expr(s"aggregate(zip_with($a, $b, (x, y) -> IF(x = y, 1, 0)), 0, (acc, v) -> acc + v)") /
      org.apache.spark.sql.functions.lit(NumHashes.toDouble)

  /** Per-band successor window for the BOUNDED pair views (d02/m09): inside
    * a band bucket each doc pairs only with its next `NeighborWindow`
    * members in doc_id order, so per-bucket pair generation is O(c·M), not
    * O(c²) — the keyed contract stays linear in corpus size even where
    * collision density saturates (identical docs piling into one bucket).
    * Connectivity survives the cap: a bucket's mutually-similar members
    * form a chain under adjacent pairing, so downstream clustering (d10's
    * connected components) reaches the same clusters; only the redundant
    * transitive pairs are dropped. Exhaustive pairs stay available behind
    * `successorWindow = None` for bounded corpora.
    */
  val NeighborWindow = 8

  /** Probe seams for `graft.Probe dedup-scale` — the measurement loop the
    * band-bucket occupancy analysis (SURVEY §7f) is based on.
    */
  private[graft] def probeSignatures(s: SparkSession, dir: String): DataFrame =
    signatures(s, dir)
  private[graft] def probeBands(sigs: DataFrame): DataFrame =
    bandSignatures(sigs)

  /** MinHash + LSH near-dup candidates: band-bucket join, then signature-
    * agreement Jaccard estimate. Shuffles on (band_id, band_hash) only.
    * The keyed form is the bounded successor-window view (see
    * [[NeighborWindow]]): each doc pairs with its next M bucket members in
    * doc_id order — at most M candidate rows per (doc, band) ever exist,
    * map-side bounded, no post-hoc limit.
    *
    * PLAN SHAPE (round 11): successor pairing is M `lead()` columns over
    * ONE bucket window — pairs stream out of the same sort that orders the
    * bucket. The previous shape (rank, explode rank+1..rank+M, self-join on
    * (band, key, rank)) re-sorted the M-times-exploded side inside a
    * sort-merge join: at 1000x that was a 320M-row sort (with 32 shuffle
    * partitions, a spilling one) stacked on a second full shuffle — d02's
    * 12.5x-wall-at-10x-data superlinearity (BENCH x1000, round 10). With
    * lead() the banded rows cross ONE exchange, the per-bucket buffer is M
    * rows, and only skinny (doc_a, doc_b, est) rows leave the window —
    * candidate volume itself was always linear (n·bands·M); the join was
    * the superlinear part. The pair SET is identical (lead(j) ≡ the rank
    * rk+j bucket member), so the oracle's ROW_NUMBER + rank-range replay is
    * unchanged.
    */
  def minhashLsh(s: SparkSession, dir: String, threshold: Double = 0.3,
                 successorWindow: Option[Int] = Some(NeighborWindow)): DataFrame = {
    import s.implicits._
    val banded = bandSignatures(signatures(s, dir))
    val pairs = bucketPairs(banded, Seq("band_id", "band_key"),
      payloadCol = "sig", outA = "sig_a", outB = "sig_b", successorWindow)
    pairs
      .select($"doc_a", $"doc_b", estJaccard("sig_a", "sig_b").as("est_jaccard"))
      .filter($"est_jaccard" >= threshold) // cut before the dedup shuffle
      .distinct()
      .orderBy($"doc_a", $"doc_b")
  }

  /** Fuzzy decontamination: where [[decontaminate]] catches verbatim copies,
    * this catches NEAR copies of the eval set — corpus and eval docs are LSH-
    * banded, candidates meet in bucket-local joins, the minhash Jaccard
    * estimate gates the match, and flagged docs are anti-joined away. The
    * corpus side never joins the eval set directly: only band-bucket
    * collisions are compared, so cost scales with collisions, not |corpus|x|eval|.
    */
  def fuzzyDecontaminate(s: SparkSession, dir: String, threshold: Double = 0.5): DataFrame = {
    import s.implicits._
    // the eval and corpus band sides are two consumers of the same minhash
    // lineage — ReuseExchange does not fire across the filter split, so the
    // shingle+minhash kernel ran twice per doc; materialize the per-doc
    // signatures once (doc_id + NumHashes ints — the d20 persisted-index
    // shape) and band both sides off that
    val banded = bandSignatures(Materialize(signatures(s, dir)))
    val evalB = banded.filter(isEval)
      .select($"band_id", $"band_key", $"sig".as("eval_sig"))
    val corpusB = banded.filter(!isEval)
      .select($"band_id", $"band_key", $"doc_id", $"sig")
    val contaminated = corpusB.join(evalB, Seq("band_id", "band_key"))
      .filter(estJaccard("sig", "eval_sig") >= threshold)
      .select($"doc_id").distinct()
    Tables.documents(s, dir)
      .filter(!isEval) // eval rows themselves are never training candidates
      .join(contaminated, Seq("doc_id"), "left_anti")
      .select($"doc_id", $"source", $"lang")
      .orderBy($"doc_id")
  }

  /** d20: incremental dedup against a persisted signature index — the
    * ingest-time shape at 100 TB: the already-indexed corpus (simulated
    * here as doc_id % 3 != 0) has its banded minhash signatures persisted
    * and bucketed by (band_id, band_key); a NEW batch (doc_id % 3 == 0)
    * is banded and joined against the index buckets only. Cost is
    * O(|batch| + collisions) — the corpus is never re-signed, never
    * self-joined: the index is a persisted posting table
    * ([[signatureIndexBands]]) probed with zero index-side shuffle, and
    * signature payloads ([[signatureIndexSigs]]) join back for the
    * deduplicated collision pairs only.
    * Each new doc gets a verdict row: how many indexed docs it collides
    * with at >= threshold signature agreement, and the smallest matching
    * index id (the canonical survivor it would dedup against).
    */
  /** The PERSISTED bucketed signature-index artifact d20 joins against —
    * TWO tables, the posting-list + payload-lookup split every at-scale
    * index uses:
    *
    *   - `<tbl>_bands` (band_id, band_key, state_id): the posting list,
    *     bucketed (and sorted) on (band_id, band_key) so every
    *     incremental-dedup batch probes it with ZERO index-side exchange —
    *     only the batch moves (plan-asserted in BucketingSpec on this
    *     artifact, not a fixture).
    *   - `<tbl>_sigs` (state_id, state_sig): the per-doc signature payload
    *     stored ONCE, bucketed on state_id, joined only for the collision
    *     rows that need signature-agreement verification.
    *
    * The previous single-table shape carried the full signature array in
    * EVERY band row — a bands× payload replication that measured ~48 GB of
    * index+shuffle writes at the ×1000 point (5M docs) and is the wrong
    * storage economics at 100 TB (the posting row is ~24 B; the payload is
    * ~1 KB and belongs in a doc-keyed table). The split trades one extra
    * bucketed join on the COLLISION volume for a bands× cut in index
    * bytes; verdict semantics are byte-identical (same pairs, same
    * agreement filter).
    *
    * Memoized per (session, sfDir); the data lands under java.io.tmpdir
    * here, a real warehouse path in production — the recipe
    * (bucketBy + sortBy + saveAsTable) is identical. The index is signed
    * once at build time, never re-derived per query — the actual ingest
    * economics at 100 TB.
    */
  private val sigIndexCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), String]

  private def sigIndexBase(s: SparkSession, dir: String): String =
    sigIndexCache.getOrElseUpdate((s, dir), {
      import s.implicits._
      val tbl = "graft_sig_index_" + java.lang.Integer.toHexString(dir.hashCode)
      val nBuckets = s.conf.get("spark.sql.shuffle.partitions").toInt
      val tmp = sys.props("java.io.tmpdir")
      val indexed = bandSignatures(signatures(s, dir)).filter($"doc_id" % 3 =!= 0)
      indexed
        .select($"band_id", $"band_key", $"doc_id".as("state_id"))
        .write.option("path", s"$tmp/graft_state/${tbl}_bands")
        .bucketBy(nBuckets, "band_id", "band_key").sortBy("band_id", "band_key")
        .mode("overwrite").saveAsTable(s"${tbl}_bands")
      // band_id = 0 picks each doc's single payload row without a distinct
      // (bandSignatures replicates the sig across all band rows)
      indexed.filter($"band_id" === 0)
        .select($"doc_id".as("state_id"), $"sig".as("state_sig"))
        .write.option("path", s"$tmp/graft_state/${tbl}_sigs")
        .bucketBy(nBuckets, "state_id").sortBy("state_id")
        .mode("overwrite").saveAsTable(s"${tbl}_sigs")
      tbl
    })

  /** The posting-list side of the d20 index: (band_id, band_key, state_id),
    * bucketed on the probe key. */
  private[graft] def signatureIndexBands(s: SparkSession, dir: String): DataFrame =
    s.table(sigIndexBase(s, dir) + "_bands")

  /** The payload side of the d20 index: (state_id, state_sig), one row per
    * indexed doc, bucketed on state_id. */
  private[graft] def signatureIndexSigs(s: SparkSession, dir: String): DataFrame =
    s.table(sigIndexBase(s, dir) + "_sigs")

  def incrementalDedup(s: SparkSession, dir: String, threshold: Double = 0.5): DataFrame = {
    import s.implicits._
    val banded = bandSignatures(signatures(s, dir))
    val isNew = $"doc_id" % 3 === 0
    val batch = banded.filter(isNew)
    // posting probe: zero index-side exchange (bucketed on the band key);
    // pairs colliding on several bands dedup SKINNY (16 B/row) before any
    // payload joins, so each (batch doc, index doc) pair is verified
    // exactly once and no signature array rides the distinct exchange
    val collisions = batch.select($"doc_id", $"band_id", $"band_key")
      .join(signatureIndexBands(s, dir), Seq("band_id", "band_key"))
      .select($"doc_id", $"state_id").distinct()
    // payload joins on the deduplicated pair volume only: batch sigs are
    // re-derived doc-keyed (one more scan-local signing pass over |batch| —
    // linear CPU, cheaper than carrying the array through the exchanges);
    // the index payload table joins bucketed on state_id
    val batchSigs = signatures(s, dir).filter(isNew)
    val matches = collisions.join(batchSigs, Seq("doc_id"))
      .join(signatureIndexSigs(s, dir), Seq("state_id"))
      .filter(estJaccard("sig", "state_sig") >= threshold)
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_matches"), min($"state_id").as("matched_id"))
    Tables.documents(s, dir)
      .filter(isNew)
      .select($"doc_id")
      .join(matches, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"n_matches", lit(0L)).as("n_matches"),
        (coalesce($"n_matches", lit(0L)) > 0).as("is_dup"),
        $"matched_id")
      .orderBy($"doc_id")
  }

  /** d22: dedup survivorship report — the corpus-curation summary built on
    * d10's components: how many near-dup clusters exist at each size, and
    * what dedup at min-id survivorship would remove vs keep. Size-1 rows
    * are the untouched singleton mass; the tail of large clusters is what
    * a curator inspects first (boilerplate storms, mirrored sources).
    * Consumes the MATERIALIZED cluster artifact ([[clusterLabels]]) instead
    * of re-running the clustering (the round-5/6 scale-killer): the labeled
    * set covers only edge endpoints, so the size histogram is two partial
    * aggregates over |near-dup docs| rows, and the singleton row is
    * n_docs − n_labeled — the corpus itself crosses ZERO exchanges (one
    * partial-agg count scan), never a join.
    */
  def dedupSurvivorship(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val labels = clusterLabels(s, dir)
    // every labeled doc has ≥1 near-dup edge, so labeled clusters have
    // size ≥ 2; the final re-group still merges defensively if not
    val labeled = labels
      .groupBy($"cluster_id").agg(count(lit(1)).as("cluster_size"))
      .groupBy($"cluster_size").agg(count(lit(1)).as("n_clusters"))
    val singleton = Tables.documents(s, dir).agg(count(lit(1)).as("n_docs"))
      .crossJoin(broadcast(labels.agg(count(lit(1)).as("n_labeled"))))
      .select(lit(1L).as("cluster_size"), ($"n_docs" - $"n_labeled").as("n_clusters"))
    singleton.unionByName(labeled)
      .groupBy($"cluster_size").agg(sum($"n_clusters").as("n_clusters"))
      .select($"cluster_size", $"n_clusters",
              (($"cluster_size" - 1) * $"n_clusters").as("docs_removed"),
              $"n_clusters".as("docs_kept"))
      .orderBy($"cluster_size")
  }

  /** d29: quality-aware survivorship — for each near-dup cluster keep the
    * HIGHEST-t06-quality member (quality DESC, doc_id ASC tie-break), not
    * the min-id: min-id survivorship (d01/d22) is arbitrary about WHICH
    * near-duplicate survives, while a curator wants the cleanest copy of
    * each duplicated text to be the one that trains. One verdict row per
    * clustered doc (singletons are untouched by definition — they appear
    * in no cluster and need no verdict).
    *
    * Scale shape: consumes the materialized cluster artifact
    * ([[clusterLabels]], d22/d26 pattern) so the clustering never re-runs;
    * quality is projected scan-locally BEFORE the join, so only narrow
    * (doc_id, quality) pairs cross the exchange — never text. Two
    * exchanges total over the labeled subset (the doc_id join, the
    * cluster_id window); the election itself is one window pass whose
    * default frame already exposes the partition's top row to every member
    * (no second survivor join). No broadcast hint on the label side: on a
    * boilerplate-heavy crawl most docs are clustered, so labels is
    * corpus-sized (the d28 small-table-that-isn't trap) — AQE converts
    * when a run measures small.
    */
  def qualitySurvivor(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val labels = clusterLabels(s, dir)
    val w = Window.partitionBy($"cluster_id").orderBy($"quality".desc, $"doc_id".asc)
    Tables.documents(s, dir)
      .select($"doc_id", TextOps.qualityCol.as("quality"))
      .join(labels, Seq("doc_id"))
      .select($"doc_id", $"cluster_id", $"quality",
              // default window frame (UNBOUNDED PRECEDING .. CURRENT ROW)
              // contains the rank-1 row for every member, so first() IS the
              // elected survivor — no explicit full-partition frame needed
              first($"doc_id").over(w).as("survivor_id"))
      .withColumn("kept", $"doc_id" === $"survivor_id")
      .orderBy($"doc_id")
  }

  /** d32: duplication-aware soft dedup — keep EVERY doc and attach a
    * training weight inversely proportional to its duplication degree, so
    * a text duplicated k times contributes ~one document's worth of
    * gradient in aggregate. This is the down-weighting alternative to
    * survivorship removal (d01/d22/d29): a curator reaches for it when
    * duplicates carry distribution signal worth preserving (popular
    * boilerplate SHOULD weigh more than a one-off — just not k× more).
    * Degree = size of the doc's near-dup cluster from the materialized
    * artifact ([[clusterLabels]]; exact copies have identical simhash, so
    * every band collides and exact-dup edges are a subset of the near-dup
    * graph). Unclustered docs have degree 1 and full weight. Weights are
    * emitted in integer ppm (1e6 div degree) so the verdict hashes exactly
    * across engines.
    *
    * Scale shape: degree is one narrow agg over the label artifact (edge
    * endpoints only — never the corpus); the corpus-side attach is a
    * single doc_id join of (doc_id, degree) pairs — at 100 TB a bucketed
    * join against the persisted cluster table, zero text movement, zero
    * clustering rebuild. The weight column then rides the corpus scan
    * into whatever mix (d14/d19/d25) consumes it.
    */
  def softDedupWeights(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val labels = clusterLabels(s, dir)
    val degrees = labels.groupBy($"cluster_id").agg(count(lit(1)).as("sz"))
    val perDoc = labels.join(degrees, Seq("cluster_id")).select($"doc_id", $"sz")
    Tables.documents(s, dir).select($"doc_id")
      .join(perDoc, Seq("doc_id"), "left")
      .withColumn("dup_degree", coalesce($"sz", lit(1L)))
      .select($"doc_id", $"dup_degree",
        expr("1000000 div dup_degree").as("weight_ppm"))
      .orderBy($"doc_id")
  }

  /** s14 fold merge: sign + band the incoming docs, refuse any doc
    * that collides with the persisted signature index at >= threshold
    * agreement (the d20 verdict, applied at ingest), and append the
    * survivors' bands to the index — so the index d20 queries never goes
    * stale. Intra-batch near-dups are the upstream d01/d02 stages' job;
    * this sink guards the batch↔index boundary. (A transactional table
    * format with bucket-preserving appends replaces the parquet state at
    * scale — the state is already keyed by (band_id, band_key).)
    */
  private[graft] def signatureIndexMerge(existing: Option[DataFrame], batch: DataFrame,
                                         threshold: Double = 0.5): DataFrame = {
    val s = batch.sparkSession
    import s.implicits._
    val banded = bandSignatures(signaturesOf(batch))
    val fresh = existing match {
      case None => banded
      case Some(st) =>
        val dupIds = banded
          .join(st.select($"band_id", $"band_key", $"sig".as("state_sig")),
                Seq("band_id", "band_key"))
          .filter(estJaccard("sig", "state_sig") >= threshold)
          .select($"doc_id").distinct()
        banded.join(dupIds, Seq("doc_id"), "left_anti")
    }
    existing.map(_.unionByName(fresh)).getOrElse(fresh)
  }

  /** d21: adaptive per-source quality gate — a single global quality
    * threshold misjudges heterogeneous sources (a code-heavy source's
    * median would fail a prose threshold, prose would sail past a code
    * one). This calibrates the cutoff PER SOURCE: rank each doc's t06
    * quality score within its source (deterministic ntile over
    * (quality, doc_id)) and drop the bottom quartile of every source.
    * One window shuffle on source; survivors keep their tile so the
    * downstream mix can stratify by quality band. At 100 TB the exact
    * per-source sort is the cost ceiling — this key is the exact-ranked
    * yardstick its two scale-path variants are judged against:
    * [[sketchQualityGate]] (d23, percentile_approx cutoffs, rank-error
    * claim) and [[histogramQualityGate]] (d24, exact quantized-histogram
    * cutoffs — what p27 runs).
    */
  def adaptiveQualityGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"source").orderBy($"quality", $"doc_id")
    Tables.documents(s, dir)
      .select($"doc_id", $"source", TextOps.qualityCol.as("quality"))
      .withColumn("tile", ntile(4).over(w).cast("long"))
      .filter($"tile" > 1)
      .orderBy($"doc_id")
  }

  /** Rank-error budget of the d23 sketch: percentile_approx's GK summary
    * guarantees the returned element's rank is within n/accuracy of the
    * target; the +2/n term is q30's discreteness slack at small groups.
    */
  private[graft] val SketchQualityAccuracy = 10000

  /** d23: sketch-calibrated per-source quality gate — d21's contract on the
    * 100-TB plan. d21's exact ntile puts each source's ENTIRE corpus
    * through one task's sort (a multi-TB single-executor sort when a
    * handful of sources carry the corpus); this variant never sorts the
    * corpus at all. Pass 1 partial-aggregates a per-source
    * percentile_approx(quality, 0.25) GK sketch (constant state per
    * partition, one tiny row per source out); pass 2 broadcasts the cutoffs
    * back and the gate itself is a scan-local `quality > cutoff` filter —
    * the corpus crosses one hash exchange (the sketch agg), nothing is
    * per-source-serialized. The engine-specific cutoff is reduced to
    * oracle-assertable claim rows (q30's rank pattern): the cutoff's exact
    * rank interval [|q < cutoff|, |q <= cutoff|] must overlap the target
    * rank 0.25·n within n/accuracy + 2 — i.e. the sketch cutoff matches
    * d21's exact quartile boundary within the sketch's published
    * rank-error bound. gate_consistent pins the applied filter to the
    * measured counts (kept = n − |q <= cutoff|).
    */
  def sketchQualityGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
      .select($"doc_id", $"source", TextOps.qualityCol.as("quality"))
    val cutoffs = docs.groupBy($"source")
      .agg(percentile_approx($"quality", lit(0.25), lit(SketchQualityAccuracy)).as("cutoff"),
           count(lit(1)).as("n_docs"))
    docs.join(broadcast(cutoffs), "source")
      .groupBy($"source", $"n_docs", $"cutoff")
      .agg(sum(when($"quality" < $"cutoff", 1L).otherwise(0L)).as("cnt_lt"),
           sum(when($"quality" <= $"cutoff", 1L).otherwise(0L)).as("cnt_le"),
           sum(when($"quality" > $"cutoff", 1L).otherwise(0L)).as("n_kept"))
      .select($"source", $"n_docs",
        (($"cnt_lt" / $"n_docs" <= lit(0.25) + lit(1.0 / SketchQualityAccuracy) + lit(2.0) / $"n_docs") &&
         ($"cnt_le" / $"n_docs" >= lit(0.25) - lit(1.0 / SketchQualityAccuracy) - lit(2.0) / $"n_docs"))
          .as("cutoff_within_bound"),
        ($"n_kept" === $"n_docs" - $"cnt_le").as("gate_consistent"))
      .orderBy($"source")
  }

  /** d24: histogram-calibrated per-source quality gate — the variant that
    * keeps d21's EXACTNESS and d23's scale shape at once, exploiting the
    * quantized score domain (see [[histogramQualityCutoffs]]). Survivors are
    * every doc strictly above its source's exact lower-quartile value
    * (whole tie-classes drop together — rank-splitting ties like d21's
    * ntile does requires the per-source sort this variant exists to avoid).
    * Fully hash-oracled: cutoffs, survivor set and carried quality are all
    * DuckDB-replayed. p27's stage 1 runs this same gate.
    */
  def histogramQualityGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // the scored projection feeds the cutoff histogram AND the gate join:
    // materialize it once (3 narrow columns) so the regex-heavy quality
    // score runs one pass instead of two
    val docs = Materialize(Tables.documents(s, dir)
      .select($"doc_id", $"source", TextOps.qualityCol.as("quality")))
    withQualityCutoffs(docs, histogramQualityCutoffs(docs))
      .filter(qualityAdmits)
      .select($"doc_id", $"source", $"quality", $"cutoff")
      .orderBy($"doc_id")
  }

  /** (source, cutoff) table for [[histogramQualityGate]] / p27: per-source
    * exact lower-quartile cutoffs WITHOUT a per-source corpus sort. The t06
    * quality score is quantized to 1e-4 (TextOps.qualityCol), so each
    * source's value HISTOGRAM is bounded at ≤ 10001 rows no matter how many
    * documents the source holds. One partial-aggregated
    * groupBy(source, quality) count builds the histogram; the quartile walk
    * (cumulative count ≥ ceil(0.25·n)) is a window over HISTOGRAM rows —
    * thousands per source, never the corpus. Exact, deterministic,
    * integer-thresholded (no interpolation, so DuckDB replays it
    * bit-for-bit); the corpus itself crosses exactly one hash exchange.
    * Input must carry (source, quality).
    */
  private[graft] def histogramQualityCutoffs(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val hist = docs.groupBy($"source", $"quality").agg(count(lit(1)).as("c"))
    val wCum = Window.partitionBy($"source").orderBy($"quality")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy($"source")
    hist
      .withColumn("cum", sum($"c").over(wCum))
      .withColumn("n", sum($"c").over(wAll))
      .filter($"cum" >= ceil(lit(0.25) * $"n"))
      .groupBy($"source").agg(min($"quality").as("cutoff"))
  }

  /** The quality gate's join (d24, p27, p33, both s16 twins): each scored
    * (source, quality) row meets its source's broadcast cutoff, null for
    * an uncalibrated source; [[qualityAdmits]] is the verdict. */
  private[graft] def withQualityCutoffs(scored: DataFrame, cutoffs: DataFrame): DataFrame =
    scored.join(broadcast(cutoffs), Seq("source"), "left")

  /** A doc passes strictly above its source's cutoff; an uncalibrated
    * source passes uncut (refusing a new feed until someone recalibrates
    * would be an outage, not a gate). Cutoffs calibrated on the gated frame
    * cover every source, so there the null arm never fires. */
  private[graft] def qualityAdmits: Column =
    col("cutoff").isNull || col("quality") > col("cutoff")

  /** The eval set every decontamination key holds out (a benchmark's docs). */
  private[graft] def isEval: Column = col("doc_id") % 7 === 3

  /** The eval set's distinct `fp` — the blocklist d09, d16, p27, p33 and
    * s13 decontaminate against. */
  private[graft] def evalFingerprints(docs: DataFrame,
      fp: Column = col("content_md5").as("eval_md5")): DataFrame =
    docs.filter(isEval).select(fp).distinct()

  /** SimHash near-dup: 60-bit cross-engine fingerprints, 15-bit hamming
    * bands, exact hamming verify. At the default maxHamming = 3 the result
    * is EXACT, not approximate: 4 bands of 15 bits mean any pair within
    * hamming 3 differs in at most 3 bands, so it must agree on one
    * (pigeonhole) and is guaranteed to surface as a candidate. The whole
    * chain — tokenize, fingerprint, band, verify — is replicated by the
    * DuckDB oracle, so candidate semantics are hash-checked, not just spec'd.
    * Pairs come unordered: [[labelPropagation]] materializes them, which
    * keeps no order, and the d03 key sorts at its edge.
    */
  def simhashDedup(s: SparkSession, dir: String, maxHamming: Int = 3): DataFrame = {
    import s.implicits._
    val hashed = Tables.documents(s, dir)
      .select($"doc_id", simhash60(TextOps.words($"text")).as("sh"))
      .transform(Materialize(_))
    val banded = hashed.select($"doc_id", $"sh",
        explode(expr("transform(sequence(0, 3), " +
          "b -> struct(b AS band_id, shiftright(sh, b*15) & 32767 AS band_bits))")).as("band"))
      .select($"doc_id", $"sh", $"band.band_id", $"band.band_bits")
    val a = banded.select($"band_id", $"band_bits", $"doc_id".as("doc_a"), $"sh".as("sh_a"))
    val b = banded.select($"band_id", $"band_bits", $"doc_id".as("doc_b"), $"sh".as("sh_b"))
    a.join(b, Seq("band_id", "band_bits"))
      .filter($"doc_a" < $"doc_b")
      .select($"doc_a", $"doc_b", bit_count($"sh_a".bitwiseXOR($"sh_b")).cast("long").as("hamming"))
      .distinct()
      .filter($"hamming" <= maxHamming)
  }

  /** d43: [[simhashDedup]]'s near-dup contract with a WIDE signature so the
    * band space never saturates — the 100-TB simhash. d03's 60-bit/4×15-bit
    * layout is exact at hamming ≤ 3 but its 32,768-key band space caps the
    * corpus: at 5M docs every band bucket averages ~150 members and the
    * candidate pair view is ~6e9 rows no matter how DISSIMILAR the corpus
    * is (the §7j ×1000 exclusion — saturation, not fixture geometry).
    * Here the signature is 120 bits — two independently-salted 60-bit
    * halves through the same cross-engine kernel (hi hashes 'w'-prefixed
    * tokens) — banded at 4×30 bits. Pigeonhole exactness survives: ≤ 3
    * differing bits over the CONCATENATED signature leave at least one of
    * the 4 disjoint 30-bit bands untouched, so every true pair still
    * surfaces. The 2^30-key band space holds expected bucket occupancy at
    * |corpus|/2^30 (~0.005 at 5M docs): collisions are dominated by true
    * near-dups at any realistic corpus size, the pair view stays linear,
    * and the key gates at the ×1000 point (§7l) where d03 cannot.
    * Unordered, as [[simhashDedup]]; the d43 key sorts.
    */
  def simhashWide(s: SparkSession, dir: String, maxHamming: Int = 3): DataFrame = {
    import s.implicits._
    // fused one-pass kernel: value-identical to simhash60(toks) /
    // simhash60('w'-prefixed toks) but decodes each token once and never
    // materializes the prefixed array (KernelPropertySpec pins equality)
    val toks = TextOps.words($"text")
    val hashed = Tables.documents(s, dir)
      .select($"doc_id", simhashWide120(toks).as("shw"))
      .select($"doc_id", $"shw".getItem(0).as("sh_lo"), $"shw".getItem(1).as("sh_hi"))
      .transform(Materialize(_))
    val banded = hashed.select($"doc_id", $"sh_lo", $"sh_hi",
        explode(expr("transform(sequence(0, 3), b -> struct(b AS band_id, " +
          "CASE WHEN b < 2 THEN shiftright(sh_lo, b*30) & 1073741823 " +
          "ELSE shiftright(sh_hi, (b-2)*30) & 1073741823 END AS band_bits))")).as("band"))
      .select($"doc_id", $"sh_lo", $"sh_hi", $"band.band_id", $"band.band_bits")
    val a = banded.select($"band_id", $"band_bits",
      $"doc_id".as("doc_a"), $"sh_lo".as("lo_a"), $"sh_hi".as("hi_a"))
    val b = banded.select($"band_id", $"band_bits",
      $"doc_id".as("doc_b"), $"sh_lo".as("lo_b"), $"sh_hi".as("hi_b"))
    a.join(b, Seq("band_id", "band_bits"))
      .filter($"doc_a" < $"doc_b")
      .select($"doc_a", $"doc_b",
        (bit_count($"lo_a".bitwiseXOR($"lo_b")) +
          bit_count($"hi_a".bitwiseXOR($"hi_b"))).cast("long").as("hamming"))
      .distinct()
      .filter($"hamming" <= maxHamming)
  }

  /** The materialized near-dup cluster artifact: (doc_id, cluster_id) for
    * every EDGE-ENDPOINT doc (singletons are implicit — their cluster is
    * their own id). d10 is the builder; d22/d26 are consumers that JOIN this
    * table instead of re-running the iterative clustering (re-deriving
    * connected components per downstream report was the round-5/6
    * scale-killer). Memoized per (session, sfDir) on the labels
    * [[graft.Materialize]] returns — the in-session stand-in for a persisted
    * table bucketed by cluster_id at 100 TB (d20's signature-index artifact
    * pattern), where each consumer is one bucketed join, zero rebuild.
    * maxIterations is part of the key so a non-default bound never aliases
    * the default artifact.
    */
  private val clusterLabelCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String, Int), DataFrame]

  private[graft] def clusterLabels(s: SparkSession, dir: String,
                                   maxIterations: Int = 20): DataFrame =
    clusterLabelCache.getOrElseUpdate((s, dir, maxIterations),
      buildClusterLabels(s, dir, maxIterations))

  /** Connected components over the candidate-pair graph (simhash banding
    * supplies the edges) by iterative min-label propagation — each doc
    * converges to the minimum doc_id reachable through near-dup edges,
    * which becomes the dedup group id (keep one doc per group).
    * The edge list is materialized once (the banding join is the expensive
    * part; re-deriving it inside every iteration's lazy plan would multiply
    * that cost), then each iteration is one shuffle join + min-agg. Planted
    * near-dup clusters are tiny, so a bounded iteration count covers the
    * diameter; at 100 TB the same loop runs with AQE until a fixpoint.
    */
  private def buildClusterLabels(s: SparkSession, dir: String,
                                 maxIterations: Int): DataFrame =
    labelPropagation(simhashDedup(s, dir), maxIterations)

  /** The (doc_id, cluster_id) corpus view shared by d10 and d44: every doc
    * labeled, singletons as their own id via the left join's coalesce.
    */
  private def clusterCorpusView(s: SparkSession, dir: String,
                                labels: DataFrame): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .join(labels.select($"doc_id".as("l_doc"), $"cluster_id"),
            $"doc_id" === $"l_doc", "left")
      .select($"doc_id", coalesce($"cluster_id", $"doc_id").as("cluster_id"))
      .orderBy($"doc_id")
  }

  /** The min-label + pointer-jumping propagation loop shared by the d10
    * (60-bit) and d44 (120-bit) cluster artifacts — input is any
    * (doc_a, doc_b) candidate-pair frame.
    */
  private def labelPropagation(pairs0: DataFrame, maxIterations: Int): DataFrame = {
    val s = pairs0.sparkSession
    import s.implicits._
    val pairs = Materialize(pairs0.select($"doc_a", $"doc_b"))
    val edges = pairs.union(pairs.select($"doc_b".as("doc_a"), $"doc_a".as("doc_b")))
    // Only edge endpoints participate in propagation — in a deduped corpus
    // near-dups are a small fraction, so the iterated tables stay tiny while
    // the untouched singleton majority (cluster_id = own id) joins back in
    // once at the end.
    //
    // Label init already folds in the first neighbor pull (label = min of
    // self and direct neighbors, one lazy agg fused into the first
    // materialization) — one fewer checked round, and each round after
    // that propagates min-labels with pointer jumping.
    var labels = edges
      .select($"doc_a".as("doc_id"), least($"doc_a", $"doc_b").as("cluster_id"))
      .groupBy($"doc_id").agg(min($"cluster_id").as("cluster_id"))
      .transform(Materialize(_))
    var converged = false
    var iter = 0
    while (!converged && iter < maxIterations) {
      val nbrMin = edges.join(labels, $"doc_b" === $"doc_id")
        .groupBy($"doc_a").agg(min($"cluster_id").as("nbr_min"))
      val pulled = labels.join(nbrMin, $"doc_id" === $"doc_a", "left")
        .select($"doc_id", $"cluster_id".as("old_cl"),
                least($"cluster_id", coalesce($"nbr_min", $"cluster_id")).as("cluster_id"))
      // pointer jumping: label(n) <- label(label(n)); with the neighbor pull
      // above the propagation radius grows superlinearly, so the fixpoint
      // arrives in O(log diameter) rounds rather than O(diameter). (A double
      // jump per round was measured SLOWER — the 4x plan duplication of the
      // un-materialized `pulled` outweighs the saved rounds.)
      val byDoc = pulled.select($"doc_id".as("l_doc"), $"cluster_id".as("l_cl"))
      val next = pulled.join(byDoc, pulled("cluster_id") === $"l_doc")
        .select(pulled("doc_id"),
                least(pulled("cluster_id"), $"l_cl").as("cluster_id"),
                (least(pulled("cluster_id"), $"l_cl") =!= pulled("old_cl")).as("changed"))
        .transform(Materialize(_))
      // fixpoint test reads the just-materialized rows — labels only
      // decrease, so "no row changed this round" is a sound stopping rule,
      // and carrying the flag in the row avoids a per-round two-table join
      converged = next.filter($"changed").isEmpty
      labels = next.select($"doc_id", $"cluster_id")
      iter += 1
    }
    labels
  }

  /** d10: per-doc near-dup cluster ids — the full corpus view over the
    * [[clusterLabels]] artifact (singletons surface as their own id via the
    * left join's coalesce).
    */
  def neardupClusters(s: SparkSession, dir: String, maxIterations: Int = 20): DataFrame =
    clusterCorpusView(s, dir, clusterLabels(s, dir, maxIterations))

  private val clusterLabelWideCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String, Int), DataFrame]

  /** d44: d10's cluster contract over d43's WIDE edge set — the closure
    * family's 100-TB path. d10/d22/d26 are capped at the ×100 gate because
    * their EDGE SET (d03's 15-bit-band candidates) saturates at 5M docs
    * (measured 34.6e9-row pair view, §7l); the propagation loop itself was
    * never the bottleneck. Swapping in [[simhashWide]]'s 30-bit-band edges
    * (identical near-dup contract, 2142× less candidate volume at 5M docs)
    * lets the same [[labelPropagation]] loop — and the same recursive-
    * closure oracle — gate at the ×1000 point. Singletons surface as their
    * own id via the left join's coalesce, exactly d10's view.
    */
  def neardupClustersWide(s: SparkSession, dir: String,
                          maxIterations: Int = 20): DataFrame =
    clusterCorpusView(s, dir,
      clusterLabelWideCache.getOrElseUpdate((s, dir, maxIterations),
        labelPropagation(simhashWide(s, dir), maxIterations)))

  /** d26: leakage-free train/val/test split — the assignment is a pure
    * function of the near-dup CLUSTER id ([[neardupClusters]]' min-label),
    * not the doc id, so near-duplicate documents can never straddle the
    * train/eval boundary. Splitting per-doc (q25's shape) leaves exactly
    * that hole: a doc and its near-copy hash to different splits and the
    * eval set leaks into training. Buckets come from the cross-engine
    * [[graft.SampleHash]] (90/5/5 at mod-100), so DuckDB replays the whole
    * assignment bit-for-bit on top of its recursive-closure clustering.
    * Consumes the materialized [[clusterLabels]] artifact (via
    * [[neardupClusters]]' corpus view) — one bucketed-or-broadcast join +
    * a codegen'd case expression; the split itself never re-derives the
    * clustering and the corpus never shuffles for it.
    */
  def clusterSplit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val bucket = pmod(graft.SampleHash.column($"cluster_id"), lit(100L))
    neardupClusters(s, dir)
      .withColumn("split",
        when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test"))
      .select($"doc_id", $"cluster_id", $"split")
      .orderBy($"doc_id")
  }

  /** Benchmark decontamination: drop every training doc whose normalized
    * content matches the eval/benchmark set — by CONTENT, not id, so verbatim
    * copies under different ids are caught too. The eval set (simulated here
    * as doc_id % 7 == 3) is tiny next to a 100-TB corpus: broadcast its
    * fingerprints and anti-join, so the corpus never shuffles.
    */
  def decontaminate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir).withColumn("content_md5", TextOps.contentFp)
    val evalFps = evalFingerprints(docs)
    docs.join(broadcast(evalFps), $"content_md5" === $"eval_md5", "left_anti")
      .select($"doc_id", $"source", $"content_md5")
      .orderBy($"doc_id")
  }

  /** Bloom-accelerated decontamination: the d09 contract on the 100-TB plan.
    * The eval fingerprint set aggregates into ONE Bloom filter row (custom
    * bloom_agg, [[graft.functions.BloomBuffer]]: fixed bit-array, map-side
    * partial build, bitwise-OR merge — numBits/8 bytes per partition cross
    * the wire), the corpus is prefiltered by a codegen'd bloom_contains
    * probe inside the scan stage, and the exact anti-join runs only on the
    * suspected fraction. False positives are removed by the exact join, so
    * the result is IDENTICAL to d09 — same oracle, second physical strategy
    * (the p18/p20 pattern). When the eval set outgrows a broadcast
    * hash-relation, the few-KB filter still broadcasts.
    */
  val BloomBits = 1 << 17
  val BloomHashes = 5
  def bloomDecontaminate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.GraftFunctions.{bloomAgg, bloomContains}
    val docs = Tables.documents(s, dir).withColumn("content_md5", TextOps.contentFp)
    val evalFps = evalFingerprints(docs)
    val evalBloom = evalFps
      .agg(bloomAgg($"eval_md5", lit(BloomBits), lit(BloomHashes)).as("bloom"))
    // ONE corpus scan: flag each row with its Bloom verdict, then a single
    // conditional anti-join — non-hit rows match nothing (the `bloom_hit`
    // residual is false) and pass straight through; only suspected rows are
    // checked against the exact eval relation. The filter has no false
    // negatives, so this is identical to d09's plain anti-join. The earlier
    // two-branch form (suspected/cleared as separate filters unioned back)
    // scanned the corpus twice, which defeats the prefilter at 100 TB.
    docs.crossJoin(broadcast(evalBloom))
      .select($"doc_id", $"source", $"content_md5",
              bloomContains($"bloom", $"content_md5").as("bloom_hit"))
      .join(broadcast(evalFps),
            $"bloom_hit" && ($"content_md5" === $"eval_md5"), "left_anti")
      .select($"doc_id", $"source", $"content_md5")
      .orderBy($"doc_id")
  }

  /** Stratified corpus mix — the domain-weighting step of a training-data
    * pipeline: per-source sampling rates (high-quality sources kept at a
    * higher rate) with an inverse-rate weight column so downstream token
    * accounting stays unbiased. Selection is a deterministic Knuth-hash
    * gate on doc_id, so the mix is reproducible, embarrassingly parallel,
    * pushes the filter into the scan, and both engines derive the identical
    * sample — at 100 TB this is a single pass with no shuffle.
    */
  def stratifiedMix(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val permille = when($"source".isin("src0", "src1"), 200).otherwise(50)
    Tables.documents(s, dir)
      .withColumn("permille", permille)
      .filter(pmod(graft.SampleHash.column($"doc_id"), lit(1000L)) < $"permille")
      .select($"doc_id", $"source", $"lang",
              (lit(1000.0) / $"permille").as("weight"))
      .orderBy($"doc_id")
  }

  /** Fixed-budget quota sampling: EXACTLY k docs per source (d14's rate
    * sampling keeps a proportion; curation budgets are absolute). Selection
    * order is a deterministic Knuth-multiplicative hash of doc_id, so both
    * engines (and any rerun) draw the identical sample; rank <= k compiles
    * to WindowGroupLimit, so each map partition forwards at most k rows per
    * source before the single shuffle — a per-source reservoir, exact and
    * order-independent at any corpus size.
    */
  val QuotaPerSource = 20
  def quotaSample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"source")
      .orderBy(graft.SampleHash.column($"doc_id"), $"doc_id")
    Tables.documents(s, dir)
      .withColumn("pick", row_number().over(w).cast("long"))
      .filter($"pick" <= QuotaPerSource)
      .select($"source", $"pick", $"doc_id", $"lang")
      .orderBy($"source", $"pick")
  }

  /** Weighted quota mix (driver key d19) — the actual curation interface:
    * per-source ABSOLUTE budgets from a broadcast config row (d18's exact
    * quotas) plus d14's inverse-inclusion weights for unbiased downstream
    * token accounting, in ONE window pass. The constant [[MixMaxQuota]]
    * filter sits directly on the row_number so it compiles to a partial
    * WindowGroupLimit — each map partition forwards at most max-quota rows
    * per source into the single corpus exchange — and the exact per-source
    * budget is the residual filter after the broadcast config join. Weights
    * are n_source / selected (longs, one IEEE division), so a weighted sum
    * over the sample estimates the source total exactly in expectation.
    * Unconfigured sources fall back to [[MixDefaultQuota]].
    */
  val MixQuotaConfig: Seq[(String, Int)] = Seq("src0" -> 18, "src1" -> 12)
  val MixDefaultQuota = 6
  val MixMaxQuota = 18
  def weightedQuotaMix(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cfg = MixQuotaConfig.toDF("source", "cfg_quota")
    val docs = Tables.documents(s, dir)
    // per-source totals: partial-aggregated, only |sources| rows shuffle
    val counts = docs.groupBy($"source").agg(count(lit(1)).as("n_source"))
    val w = Window.partitionBy($"source")
      .orderBy(graft.SampleHash.column($"doc_id"), $"doc_id")
    docs.withColumn("pick", row_number().over(w).cast("long"))
      .filter($"pick" <= MixMaxQuota) // literal bound -> WindowGroupLimit
      .join(broadcast(cfg), Seq("source"), "left")
      .withColumn("quota", coalesce($"cfg_quota", lit(MixDefaultQuota)).cast("long"))
      .filter($"pick" <= $"quota")
      .join(broadcast(counts), Seq("source"))
      .select($"source", $"pick", $"doc_id", $"lang",
              ($"n_source" / least($"quota", $"n_source")).as("weight"))
      .orderBy($"source", $"pick")
  }

  /** d33: weighted priority sampling (Duffield/Efraimidis–Spirakis shape) —
    * d18 draws every doc with EQUAL probability, which under-represents the
    * long documents that dominate token mass; a curator estimating token
    * statistics wants inclusion probability ∝ length. Priority sampling
    * gets that with the same single-window plan: each doc's priority is
    * u/w (u = the shared Knuth selection hash in [0,P), w = n_chars), and
    * the per-source sample is the k SMALLEST priorities — a doc's chance of
    * ranking in the top k rises with its weight, the weighted reservoir.
    * The priority is one IEEE double division of two exact integers
    * (correctly rounded, so Spark and DuckDB order identically — t18's
    * precedent), doc_id breaks the measure-zero ties, and the literal
    * rank filter compiles to WindowGroupLimit: each map partition forwards
    * at most k rows per source into the single exchange, a weighted
    * reservoir that never sorts the corpus. n_chars rides along so the
    * sample is self-describing for Horvitz–Thompson-style reweighting.
    */
  val PrioritySampleK = 20
  def prioritySample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val priority = graft.SampleHash.column($"doc_id").cast("double") /
      greatest($"n_chars", lit(1L))
    val w = Window.partitionBy($"source").orderBy(priority.asc, $"doc_id".asc)
    Tables.documents(s, dir)
      .withColumn("pick", row_number().over(w).cast("long"))
      .filter($"pick" <= PrioritySampleK)
      .select($"source", $"pick", $"doc_id", $"n_chars")
      .orderBy($"source", $"pick")
  }

  /** Per-source token budget for [[tokenBudgetMix]] — an absolute cap like
    * d18/d19's doc quotas, but in the unit a trainer actually provisions.
    */
  val BudgetTokens = 5000L

  /** d25: token-budget curation — "the highest-quality documents per
    * source, up to B tokens" — the selection a data-mix owner runs once
    * per source per training run. Naively this is a per-source sort by
    * quality with a running token sum: the same scale ceiling d21 had.
    * Like d24 it rides the quantized score domain instead: per-(source,
    * quality) token masses (bounded histogram), a top-down cumulative sum
    * over HISTOGRAM rows picks the lowest quality band that still fits the
    * budget, and survivors are a broadcast-join + scan-local filter.
    * Selection is band-granular: the budget-crossing band is left out
    * whole (undershoot, never split — splitting a tie-band fairly is
    * exactly the per-source rank the histogram path exists to avoid), and
    * a source whose TOP band alone exceeds B keeps nothing. budget_used
    * carries the realized per-source spend for accounting. The corpus
    * crosses one hash exchange (the histogram agg); at 100 TB the
    * histogram is thousands of rows per source regardless of corpus size.
    */
  def tokenBudgetMix(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // scored feeds the band histogram AND the final keep-join: materialize
    // the 4 narrow columns once so the quality regexes + token count
    // (the per-row cost) run one pass instead of two
    val scored = Tables.documents(s, dir)
      .select($"doc_id", $"source", TextOps.qualityCol.as("quality"),
        size(TextOps.nonEmptyWords($"text")).cast("long").as("tokens"))
      .transform(Materialize(_))
    val bands = scored.groupBy($"source", $"quality").agg(sum($"tokens").as("band_toks"))
    val wDesc = Window.partitionBy($"source").orderBy($"quality".desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val kept = bands
      .withColumn("cum", sum($"band_toks").over(wDesc))
      .filter($"cum" <= BudgetTokens)
      .groupBy($"source")
      .agg(min($"quality").as("cutoff"), max($"cum").as("budget_used"))
    scored.join(broadcast(kept), "source")
      .filter($"quality" >= $"cutoff")
      .select($"doc_id", $"source", $"quality", $"tokens", $"budget_used")
      .orderBy($"doc_id")
  }

  /** Exact n-gram Jaccard on a deterministic linear pairing (doc i vs doc
    * i + n/2): the verify step that LSH candidates would feed at scale.
    * Grams are word-bigram STRINGS (not hashes) so the DuckDB oracle computes
    * the identical sets with string_split + list_intersect/list_distinct.
    */
  /** d31: asymmetric n-gram CONTAINMENT over the LSH candidate pairs —
    * quote / sub-document copy detection. containment(A in B) =
    * |grams(A) ∩ grams(B)| / |grams(A)| stays at 1.0 when a small doc is
    * copied wholesale into a large host, exactly where symmetric Jaccard
    * (d04) dilutes toward zero as the host grows — so this is the gate
    * that catches quotation farms and page-merge copies Jaccard misses.
    * Empty gram sets are contained by convention (1.0, the d04 precedent).
    *
    * Candidates are the d02 band collisions WITHOUT the Jaccard gate (a
    * contained-pair's est_jaccard is low by construction — gating on it
    * would throw away the very pairs this operator exists for); exact
    * distinct-gram sets then join back for candidate pairs only.
    *
    * BOUNDED BY DEFAULT (round 13): the keyed form runs the same
    * successor-window candidate view as d02/m09 ([[bucketPairs]] with
    * [[NeighborWindow]]) — the exhaustive bucket self-join materialized
    * 17.77e9 pairs at the measured 5M-doc point (62x the bounded view) and
    * died disk-full twice; the window keeps pair volume O(docs·bands·M).
    * The window's containment recall is MEASURED, not assumed: the d42
    * referee ([[containmentRecall]]) plants low-Jaccard/high-containment
    * pairs and reports bounded-vs-exhaustive recall per threshold.
    * Exhaustive stays available behind `successorWindow = None` for
    * bounded stores.
    *
    * Gram sets are HASHED (the shared poly31 chain, d39's exact-verify
    * representation) rather than gram strings: the per-pair join payload
    * drops ~4x (5M-doc measured: ~430 B vs ~2 KB per doc), hash collisions
    * are ~|g|²/2³¹ ≈ 1e-6 per pair on ~50-gram docs, and the oracle
    * replays the identical hashes so the compare stays bit-exact. The
    * corpus-sized gram table shuffles on doc_id; the pair side is
    * window-bounded. At 100 TB the principled candidate source is an
    * LSH-Ensemble / containment-minhash index (d39 is that path); the band
    * join here is the same bucket-local shape with the threshold pushed to
    * the verifier.
    */
  def containmentPairs(s: SparkSession, dir: String): DataFrame =
    containmentPairsOf(Tables.documents(s, dir))

  private[graft] def containmentPairsOf(docs: DataFrame,
      successorWindow: Option[Int] = Some(NeighborWindow)): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    // sig dropped before the bucket window: the pairing needs only ids, so
    // the window sort carries 3 columns, not the 32-long signature array
    val banded = bandSignatures(signaturesOf(docs))
      .select($"doc_id", $"band_id", $"band_key")
    val pairs = bucketPairs(banded, Seq("band_id", "band_key"),
        payloadCol = "doc_id", outA = "pa", outB = "pb", successorWindow)
      .select($"doc_a", $"doc_b").distinct()
    // the gram-hash projection is joined for both pair sides (hv_a, hv_b) —
    // DELIBERATELY left as two lazy scans: an r14 probe that checkpointed it
    // measured 0.62 → 0.75 s at sf0.1 (materializing corpus-sized hash
    // arrays costs more than the second column-pruned scan + rehash here,
    // unlike d39 where FOUR consumers amortize the materialization)
    val grams = docs.select($"doc_id",
      array_distinct(gramHashes31(TextOps.words($"text"), lit(3)))
        .as("hv"))
    val inter = size(array_intersect($"hv_a", $"hv_b")).cast("double")
    def contain(base: org.apache.spark.sql.Column) =
      when(size(base) === 0, 1.0)
        .otherwise(floor(inter / size(base).cast("double") * 10000.0 + 0.5) / 10000.0)
    pairs
      .join(grams.select($"doc_id".as("doc_a"), $"hv".as("hv_a")), Seq("doc_a"))
      .join(grams.select($"doc_id".as("doc_b"), $"hv".as("hv_b")), Seq("doc_b"))
      .select($"doc_a", $"doc_b",
        contain($"hv_a").as("contain_a_in_b"),
        contain($"hv_b").as("contain_b_in_a"))
      .withColumn("max_containment", greatest($"contain_a_in_b", $"contain_b_in_a"))
      .withColumn("is_contained", $"max_containment" >= 0.8)
      .orderBy($"doc_a", $"doc_b")
  }

  def ngramJaccard(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val grams = Tables.documents(s, dir)
      .select($"doc_id",
        array_distinct(shingleStrings(TextOps.words($"text"), lit(2))).as("grams"))
    val half = grams.agg((count(lit(1)) / 2).cast("long").as("half"))
    val a = grams.crossJoin(broadcast(half)).filter($"doc_id" < $"half")
      .select($"doc_id".as("doc_a"), $"grams".as("grams_a"), $"half")
    val b = grams.select($"doc_id".as("doc_b"), $"grams".as("grams_b"))
    val unionSize = size(array_union($"grams_a", $"grams_b"))
    a.join(b, $"doc_b" === $"doc_a" + $"half")
      .select($"doc_a", $"doc_b",
        when(unionSize === 0, 1.0) // two empty gram sets: identical by convention
          .otherwise(floor(size(array_intersect($"grams_a", $"grams_b")) /
                           unionSize.cast("double") * 10000.0 + 0.5) / 10000.0)
          .as("jaccard"))
      .orderBy($"doc_a")
  }

  /** d36: corpus overlap matrix — EXACT pairwise shingle overlap between
    * sources ("how much of src3 already lives in src0"), the planning
    * readout BEFORE a cross-corpus dedup or mixing run: symmetric Jaccard
    * plus BOTH directed containments per source pair (a small crawl fully
    * contained in a big one shows tiny Jaccard but 1000-permille
    * containment — the case that decides whether the small source adds
    * anything). Plan shape: one explode, then ONE shingle-keyed aggregate
    * (collect_set of sources — bounded by the source domain, a fixed small
    * vocabulary, NOT corpus-scale; for an unbounded key domain the
    * shingle-keyed co-partition join is the fallback shape) with ONE
    * consumer: each shingle row explodes into per-source membership
    * markers plus ordered pair markers, and a single tiny aggregate
    * yields totals AND intersections together — the corpus-sized
    * collect_set merge runs exactly once; pair expansion is
    * |srcs|≤|sources| per shingle, and everything downstream is
    * |sources|²-bounded (its duplicate ta/tb lineages dedupe at runtime,
    * the q43 ReusedExchange lesson). Exact integers only (permille via
    * BIGINT div) ⇒ bit-exact oracle.
    */
  def corpusOverlap(s: SparkSession, dir: String): DataFrame =
    overlapMatrix(s, dir, withSketch = false)

  /** Shared core of d36 (exact matrix) and d38 (exact anchors + HLL
    * referee). With `withSketch` the per-(a,b) marker aggregate ALSO folds
    * an HLL sketch of the shingles it sees: the membership-marker rows
    * (src_b null) are exactly the DISTINCT (source, shingle) pairs, and
    * HLL register updates are duplicate-insensitive maxes, so the sketch
    * built here is bit-identical to one built over every occurrence — at
    * the price of zero extra scans. (d38 previously re-scanned the corpus
    * and re-exploded every shingle OCCURRENCE into a second per-source
    * exchange just to feed hll_sketch_agg — one full corpus pass, deleted.)
    */
  private def overlapMatrix(s: SparkSession, dir: String,
                            withSketch: Boolean): DataFrame = {
    import s.implicits._
    // gram construction through the codegen'd shingle_strings kernel — an
    // equivalent transform(sequence…concat_ws) higher-order lambda measured
    // 9.9 s vs 0.3 s at sf0.1: Spark evals HOF lambdas interpreted,
    // per element, and that dominated the whole key
    val exploded = Tables.documents(s, dir)
      .select($"source", explode(
        shingleStrings(TextOps.words($"text"), lit(ShingleK)))
        .as("shingle"))
    // Source domain, collected once: |sources| rows off a column-pruned
    // scan — the twoPhaseIndex bounded-collect rule; at 100 TB this list is
    // catalog/partition metadata, not a job. It gates the aggregate choice
    // below and supplies the bit→name decode for the mask path.
    val srcNames: Seq[String] = Tables.documents(s, dir)
      .select($"source").distinct().orderBy($"source")
      .collect().toSeq.map(_.getString(0))
    // ONE consumer of the corpus-sized shingle aggregate: each shingle row
    // emits its per-source membership markers (src_b null) AND its ordered
    // pair markers in a single explode — everything downstream of the next
    // aggregate is (|sources| + |sources|²/2) rows. (The first cut derived
    // totals and pairs as two consumers; exchange reuse dedupes the
    // partial agg but each consumer re-ran the object-hash FINAL merge —
    // measured 8.1 s at sf0.1, 2.3 s with the marker union.)
    // The membership set per shingle aggregates as a LONG BIT-MASK over the
    // sorted source domain when it fits (≤64 sources): bit_or is a
    // codegen'd DeclarativeAggregate updating one long in place, where
    // collect_set pays a per-row object-hash set merge — and the mask
    // explodes through the same codegen'd marker kernel
    // (overlap_marks_mask ≡ overlap_marks ∘ sort_array ∘ collect_set,
    // property-spec-pinned). A wider-than-64 domain falls back to the
    // collect_set form — the unbounded-domain shape SURVEY documents.
    val marked =
      if (srcNames.length <= 64) {
        val bit = call_function("shiftleft", lit(1L),
          (array_position(typedlit(srcNames), $"source") - 1L).cast("int"))
        exploded.groupBy($"shingle").agg(bit_or(bit).as("mask"))
          .select(
            (if (withSketch) Seq($"shingle") else Nil) :+
            explode(overlapMarksMask($"mask", typedlit(srcNames))).as("p"): _*)
      } else {
        exploded.groupBy($"shingle")
          .agg(sort_array(collect_set($"source")).as("srcs"))
          .select(
            (if (withSketch) Seq($"shingle") else Nil) :+
            explode(graft.functions.GraftFunctions.overlapMarks($"srcs")).as("p"): _*)
      }
    // sketch only the membership rows (src_b null): they are exactly the
    // DISTINCT (source, shingle) pairs the totals branch keeps — pair rows
    // feed null, which the aggregate skips, instead of paying register
    // updates on the quadratically larger pair population whose sketches
    // were discarded anyway
    val marks = marked.groupBy($"p.src_a".as("a"), $"p.src_b".as("b"))
      .agg(count(lit(1)).as("n"),
        (if (withSketch)
           Seq(hll_sketch_agg(when($"p.src_b".isNull, $"shingle"),
             lit(SketchLgK)).as("sk"))
         else Nil): _*)
    val totals = marks.filter($"b".isNull)
    val inter = marks.filter($"b".isNotNull)
      .select($"a".as("src_a"), $"b".as("src_b"), $"n".as("inter"))
    // complete |sources|² upper-triangle matrix: zero-overlap pairs appear
    val ta = totals.select($"a".as("src_a") +: $"n".as("n_a") +:
      (if (withSketch) Seq($"sk".as("sk_a")) else Nil): _*)
    val tb = totals.select($"a".as("src_b") +: $"n".as("n_b") +:
      (if (withSketch) Seq($"sk".as("sk_b")) else Nil): _*)
    val px = ta.join(tb, $"src_a" < $"src_b")
      .join(inter, Seq("src_a", "src_b"), "left")
      .na.fill(0L, Seq("inter"))
    if (!withSketch)
      px.select($"src_a", $"src_b", $"inter", $"n_a", $"n_b",
        ($"n_a" + $"n_b" - $"inter").as("n_union"),
        // greatest(.,1) guards the degenerate all-short-docs corpus: Spark's
        // div NULLs on zero while DuckDB errors — the guard (mirrored in the
        // oracle) makes both engines produce the same defined 0 instead
        expr("inter * 1000 div greatest(n_a + n_b - inter, 1L)").as("jaccard_permille"),
        expr("inter * 1000 div greatest(n_a, 1L)").as("a_in_b_permille"),
        expr("inter * 1000 div greatest(n_b, 1L)").as("b_in_a_permille"))
      .orderBy($"src_a", $"src_b")
    else
      px.select($"src_a", $"src_b",
        expr("inter * 1000 div greatest(n_a + n_b - inter, 1L)").as("jaccard_permille"),
        ($"n_a" + $"n_b" - $"inter").as("n_union"), $"inter", $"n_a", $"n_b",
        hll_sketch_estimate($"sk_a").cast("double").as("est_a"),
        hll_sketch_estimate($"sk_b").cast("double").as("est_b"),
        hll_sketch_estimate(hll_union($"sk_a", $"sk_b")).cast("double").as("est_union"))
      .select($"src_a", $"src_b", $"jaccard_permille",
        (abs($"est_a" - $"n_a") <= $"n_a" * 0.05).as("a_est_ok"),
        (abs($"est_b" - $"n_b") <= $"n_b" * 0.05).as("b_est_ok"),
        (abs($"est_union" - $"n_union") <= $"n_union" * 0.05).as("union_est_ok"),
        (abs(greatest($"est_a" + $"est_b" - $"est_union", lit(0.0)) / $"est_union" -
             $"inter".cast("double") / $"n_union") <= lit(0.05)).as("jaccard_est_ok"))
      .orderBy($"src_a", $"src_b")
  }

  /** d38: SKETCH-based corpus overlap — the 100-TB path next to d36's
    * exact matrix. Per-source HLL sketches of the shingle sets (Spark 4's
    * Datasketches `hll_sketch_agg` — mergeable, a few KB each), then the
    * pairwise matrix is |sources|² sketch unions on a driver-sized frame:
    * est(A), est(B), est(A∪B) by `hll_union`, the intersection and Jaccard
    * by inclusion–exclusion. A production sketch-only run is ONE corpus
    * scan with map-side sketch partials — only |sources| sketch rows cross
    * an exchange; at 100 TB the difference between a corpus-sized exchange
    * and a broadcast. HLL estimates are engine-specific, so the key follows
    * d13's referee pattern: d36's exact integers ride along as anchors and
    * the HASH-CHECKED claim is the error bounds — per-source and union
    * estimates within 5% relative, Jaccard estimate within 0.05 absolute
    * (lgK=12 standard error ≈ 1.6%, independent of set size, so the bounds
    * are SF-stable). Production emits the estimate columns alone; the exact
    * side here is the verification referee, never the production cost —
    * and since the referee key must compute d36's exact matrix anyway, the
    * sketches fold into the SAME marker aggregate ([[overlapMatrix]]): HLL
    * updates are duplicate-insensitive, so sketching the distinct
    * (source, shingle) membership rows yields registers bit-identical to
    * sketching every occurrence, and the r12 shape's second corpus scan +
    * occurrence-level exchange is deleted.
    */
  val SketchLgK = 12
  def sketchOverlap(s: SparkSession, dir: String): DataFrame =
    overlapMatrix(s, dir, withSketch = true)

  /** d37: corpus drift monitor — the retraining trigger a continuously
    * ingested 100-TB corpus needs: between a baseline snapshot (fixture
    * law doc_id % 3 ≠ 0 — the "previous release") and the current corpus,
    * compare the population composition per monitored dimension
    * (language, source, quality decile) bucket by bucket. The metric is
    * per-bucket ppm shares plus the absolute share delta — all EXACT
    * integers (the usual PSI needs logs and drifts across engines;
    * summing abs_diff_ppm div 2 per dimension IS the total-variation
    * distance in ppm, derivable from these rows) — so alert thresholds
    * are bit-reproducible. Plan shape: both snapshots aggregate from ONE
    * scan lineage (a conditional count per bucket — no self-join, no
    * second scan), buckets are the dimension's value domain (bounded),
    * share denominators ride a broadcast one-row cross join; everything
    * after the one partial-aggregated exchange is |buckets|-sized.
    */
  val DriftBaselineMod = 3L
  def driftMonitor(s: SparkSession, dir: String): DataFrame =
    driftReport(driftBase(s, dir))

  /** The monitored-dimension projection shared by d37's one-shot report
    * and s24's ingest-time fold.
    */
  private[graft] def driftBase(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir).select(
      $"doc_id", $"lang", $"source",
      (floor(TextOps.qualityCol * lit(10000d) + lit(0.5d)).cast("long") / 1000L)
        .cast("long").as("q_dec"),
      (pmod($"doc_id", lit(DriftBaselineMod)) =!= 0L).as("in_base"))
  }

  /** Per-(dim, bucket) conditional counts over any driftBase-shaped frame
    * — additive, so s24 folds them batch by batch. `extraKeys` lets the
    * s24 replay derive ALL batch partials from one scan (grouping by the
    * batch column as well); additivity makes the regrouped counts fold to
    * the same state bit-for-bit.
    */
  private[graft] def driftCounts(base: DataFrame,
                                 extraKeys: Seq[(String, org.apache.spark.sql.Column)] = Nil)
      : DataFrame = {
    val s = base.sparkSession
    import s.implicits._
    val dims = Seq(
      ("lang", $"lang".cast("string")),
      ("source", $"source".cast("string")),
      ("quality_decile", $"q_dec".cast("string")))
    base.select(($"in_base" +: extraKeys.map { case (n, c) => c.as(n) }) :+
        explode(array(dims.map { case (d, c) =>
          struct(lit(d).as("dim"), c.as("bucket")) }: _*)).as("k"): _*)
      .groupBy(extraKeys.map { case (n, _) => col(n) } ++
               Seq($"k.dim".as("dim"), $"k.bucket".as("bucket")): _*)
      .agg(sum(when($"in_base", 1L).otherwise(0L)).as("n_a"),
           count(lit(1)).as("n_b"))
  }

  /** The ppm read-out over accumulated counts (totals derive from the
    * counts themselves: every doc carries exactly one lang bucket).
    */
  private[graft] def driftReadout(counts: DataFrame): DataFrame = {
    val s = counts.sparkSession
    import s.implicits._
    val totals = counts.filter($"dim" === "lang")
      .agg(sum($"n_a").as("t_a"), sum($"n_b").as("t_b"))
    counts.crossJoin(broadcast(totals))
      .select($"dim", $"bucket",
        // greatest(.,1): an empty baseline snapshot (t_a = 0) must read as
        // zero shares on both engines, not Spark-NULL vs DuckDB-error
        expr("n_a * 1000000L div greatest(t_a, 1L)").as("a_ppm"),
        expr("n_b * 1000000L div greatest(t_b, 1L)").as("b_ppm"))
      .withColumn("abs_diff_ppm",
        abs($"a_ppm" - $"b_ppm").cast("long"))
      .orderBy($"dim", $"bucket")
  }

  private[graft] def driftReport(base: DataFrame): DataFrame =
    driftReadout(driftCounts(base))

  /** d39: bottom-k containment sketch search — the INDEXED path d31
    * promised ("at 100 TB the candidate source generalizes to an
    * LSH-Ensemble / containment-minhash index"): a fixed-size bottom-k
    * signature of each QUERY doc's distinct gram-hash set estimates
    * asymmetric containment — matches/k of the query's k smallest hashes
    * found anywhere in a candidate's gram set is an unbiased estimate of
    * |g(q) ∩ g(d)| / |g(q)| (the bottom-k positions are a uniform sample
    * of g(q) under the shared poly31 hash) — so "which corpus docs contain
    * this eval item" costs k posting-list probes per query instead of
    * d31's band-collision scan. Plan: corpus gram hashes explode ONCE into
    * a posting list (at 100 TB: the persisted hash-bucketed index, d20's
    * artifact shape); queries (d09's eval law, doc_id ≡ 3 mod 7, constant-
    * capped at [[BottomkEvalCap]]) carry k=16 hashes each and BROADCAST
    * (|eval|×16 narrow rows — eval sets are benchmarks, not corpora, and
    * the cap keeps that true at every scale point); candidates = one
    * hash-keyed join + a
    * (query, doc) count, WindowGroupLimit top-10 per query; EXACT
    * containment then verifies candidates only (d31's join-back shape).
    * Everything integer (permille estimates, count matches) under the
    * cross-engine poly31 kernel ⇒ the oracle replays sketch AND exact
    * bit-for-bit — the estimate's measured error rides along per row.
    */
  val BottomK = 16

  /** Constant cap on d39's query (eval) side — the d13 NumQueries posture.
    * The eval law alone (doc_id ≡ 3 mod 7) grows the query set WITH the
    * corpus (714k queries at the 5M-doc point), so the eval×collision
    * matrix grew superlinearly by fixture construction and the ×1000 dump
    * died on disk; real decontamination evals are O(10³–10⁴) items
    * regardless of corpus size. doc_id < 25000 keeps ~3.6k eval items at
    * every scale point from ×10 up (and is non-binding below 25k docs, so
    * sf0.01/0.1 results are unchanged), which also keeps the broadcast
    * query side at |eval|×16 genuinely narrow.
    */
  val BottomkEvalCap = 25000L

  def bottomkContainment(s: SparkSession, dir: String): DataFrame =
    bottomkContainmentOf(Tables.documents(s, dir))

  private[graft] def bottomkContainmentOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    // the gram-hash signature projection feeds FOUR consumers (postings,
    // queries, and both sides of the exact verify) — materialize it once
    // (guide §8: compute the lightweight proxy once, reuse it), instead of
    // re-scanning and re-hashing the corpus per consumer; at 100 TB this
    // projection IS the persisted index artifact the scaladoc names
    val hv = docs
      .select($"doc_id",
        array_distinct(gramHashes31(TextOps.words($"text"), lit(3)))
          .as("hv"))
      .transform(Materialize(_))
    val postings = hv.select($"doc_id", explode($"hv").as("h"))
    val queries = hv.filter(isEval && $"doc_id" < BottomkEvalCap)
      .select($"doc_id".as("eval_id"),
        slice(array_sort($"hv"), 1, BottomK).as("bk"),
        least(size($"hv"), lit(BottomK)).cast("long").as("k_eff"))
    val qx = queries.select($"eval_id", $"k_eff", explode($"bk").as("h"))
    val cand = postings.join(broadcast(qx), Seq("h"))
      .filter($"doc_id" =!= $"eval_id")
      .groupBy($"eval_id", $"doc_id", $"k_eff")
      .agg(count(lit(1)).as("matches"))
      .filter($"matches" >= 2)
    val topPerQuery = cand.withColumn("rk", row_number().over(
        Window.partitionBy($"eval_id").orderBy($"matches".desc, $"doc_id")))
      .filter($"rk" <= 10).drop("rk")
    topPerQuery
      .join(hv.select($"doc_id".as("eval_id"), $"hv".as("hv_q")), Seq("eval_id"))
      .join(hv.select($"doc_id", $"hv".as("hv_d")), Seq("doc_id"))
      .select($"eval_id", $"doc_id", $"matches", $"k_eff",
        expr("matches * 1000 div k_eff").as("est_permille"),
        expr("CAST(size(array_intersect(hv_q, hv_d)) AS BIGINT) * 1000 " +
             "div CAST(size(hv_q) AS BIGINT)").as("exact_permille"))
      .withColumn("err_permille", abs($"est_permille" - $"exact_permille").cast("long"))
      .orderBy($"eval_id", $"doc_id")
  }

  /** d41: the LSH quality referee — d13's role for the DEDUP family: how
    * good is the d02 band-collision candidate stage, measured against
    * EXACT 3-gram Jaccard ground truth on a constant-capped sample
    * (doc_id < 256 at every SF, so the referee is bounded verification
    * cost — ~131k exact pairs — never a production query; the same
    * constant-cap posture as d13's brute-force recall baseline). The
    * corpus's own near-dups sit at J ≥ 0.8 where 8×4 banding is
    * near-certain, so the sample is AUGMENTED with deterministic mid-J
    * partners: each doc gets a copy with every p-th token replaced
    * (p = 4 + doc_id mod 5), which lands true Jaccard across ~0.15-0.45 —
    * exactly the S-curve knee P(collide) = 1−(1−j⁴)⁸ where band recall is
    * genuinely uncertain and worth measuring (both engines rebuild the
    * perturbation byte-identically, the fixture convention). Per Jaccard
    * threshold (0.2 / 0.3 / 0.5): true pairs, candidates, overlap, and
    * precision/recall in exact ppm — the numbers a curator tunes
    * bands/rows against, measured instead of trusted. All integers ⇒
    * exact hash; truth and candidates replayed independently by the
    * oracle from the shared poly31/affine constants.
    */
  val LshQualityCap = 256L
  val SynthOffset = 100000L
  val LshQualityThresholds: Seq[Long] = Seq(200L, 300L, 500L)
  def lshQuality(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val origs = Tables.documents(s, dir)
      .filter($"doc_id" < LshQualityCap).select($"doc_id", $"text")
    val synth = origs
      .withColumn("toks", TextOps.words($"text"))
      .select(($"doc_id" + SynthOffset).as("doc_id"),
        array_join(expr(
          "transform(toks, (x, i) -> CASE WHEN (i + 1) % (4 + doc_id % 5) = 0 " +
          "THEN concat('zz', i) ELSE x END)"), " ").as("text"))
    val sample = origs.unionByName(synth)
    val gd = sample.select($"doc_id",
      array_distinct(shingleStrings(TextOps.words($"text"), lit(3)))
        .as("grams"))
    val pairs = broadcast(gd.select($"doc_id".as("doc_a"), $"grams".as("ga")))
      .join(gd.select($"doc_id".as("doc_b"), $"grams".as("gb")),
            $"doc_a" < $"doc_b")
      .select($"doc_a", $"doc_b",
        size(array_intersect($"ga", $"gb")).cast("long").as("inter"),
        (size($"ga") + size($"gb")).cast("long").as("sum_n"))
      .select($"doc_a", $"doc_b",
        when($"sum_n" - $"inter" === 0L, lit(1000L))
          .otherwise(expr("inter * 1000 div (sum_n - inter)")).as("j"))
    val banded = bandSignatures(signaturesOf(sample))
    val cands = banded.select($"band_id", $"band_key", $"doc_id".as("doc_a"))
      .join(banded.select($"band_id", $"band_key", $"doc_id".as("doc_b")),
            Seq("band_id", "band_key"))
      .filter($"doc_a" < $"doc_b")
      .select($"doc_a", $"doc_b").distinct()
      .withColumn("cand", lit(true))
    val flagged = pairs.join(cands, Seq("doc_a", "doc_b"), "left")
      .withColumn("cand", coalesce($"cand", lit(false)))
    val th = LshQualityThresholds.toDF("threshold_permille")
    flagged.crossJoin(broadcast(th))
      .groupBy($"threshold_permille")
      .agg(
        sum(when($"j" >= $"threshold_permille", 1L).otherwise(0L)).as("n_true"),
        sum(when($"cand", 1L).otherwise(0L)).as("n_cand"),
        sum(when($"cand" && $"j" >= $"threshold_permille", 1L).otherwise(0L)).as("tp"))
      .select($"threshold_permille", $"n_true", $"n_cand", $"tp",
        expr("tp * 1000000 div greatest(n_cand, 1L)").as("precision_ppm"),
        expr("tp * 1000000 div greatest(n_true, 1L)").as("recall_ppm"))
      .orderBy($"threshold_permille")
  }

  /** d42: the CONTAINMENT referee for d31's bounded candidate view — d41's
    * role (measure the candidate stage against exact truth on a
    * constant-capped sample) asked about asymmetric containment instead of
    * symmetric Jaccard. d31's round-13 move to the successor-window view
    * needs its M argued against CONTAINMENT recall, not the Jaccard
    * S-curve (containment pairs are low-Jaccard by construction — the
    * S-curve says little about them), so this referee PLANTS the regime
    * d31 exists for: each sample doc (doc_id < [[LshQualityCap]], the d41
    * cap) gets a synthetic HOST — every p-th token replaced
    * (p = 6 + 3·(doc_id mod 5), landing true containment ≈ 0.5–0.85
    * across the 0.8 gate) then diluted with doc-keyed filler tokens
    * (token count doubled, halving Jaccard again). Both engines rebuild
    * the host byte-identically (the d41 fixture convention).
    *
    * Per containment threshold (0.5 / 0.7 / 0.8): true pairs (exact
    * hashed-gram containment, max of both directions, empty-set = 1000
    * permille), candidates from the EXHAUSTIVE band self-join and from the
    * BOUNDED successor window ([[NeighborWindow]]), their true-positive
    * counts, recall ppm for each, and window_loss_ppm — the fraction of
    * exhaustive's true positives the window drops. That last column is
    * the measured price of d31's ×62 pair-volume cut; a fixture or kernel
    * change that re-concentrates buckets (pushing true pairs > M ranks
    * apart) surfaces here as a hash-checked number, not a bench anecdote.
    * All integers ⇒ exact oracle replay, truth and both candidate sets
    * derived independently from the shared poly31/affine constants.
    */
  val ContainmentThresholds: Seq[Long] = Seq(500L, 700L, 800L)
  val ContainHostOffset = 200000L
  def containmentRecall(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val origs = Tables.documents(s, dir)
      .filter($"doc_id" < LshQualityCap).select($"doc_id", $"text")
    // host construction: oid kept distinct from the emitted doc_id so both
    // engines unambiguously key the perturbation/filler off the ORIGINAL id
    // (a lateral-alias resolution difference would otherwise drift silently)
    val hosts = origs
      .select($"doc_id".as("oid"), TextOps.words($"text").as("toks"))
      .select(($"oid" + ContainHostOffset).as("doc_id"),
        concat(
          array_join(expr(
            "transform(toks, (x, i) -> CASE WHEN (i + 1) % (6 + 3 * (oid % 5)) = 0 " +
            "THEN concat('zz', i) ELSE x END)"), " "),
          lit(" "),
          array_join(expr(
            "transform(sequence(1, size(toks)), i -> concat('qq', (oid * 37 + i) % 9973))"),
            " ")).as("text"))
    val sample = origs.unionByName(hosts)
    val gd = sample.select($"doc_id",
      array_distinct(gramHashes31(TextOps.words($"text"), lit(3)))
        .as("hv"))
    val truth = broadcast(gd.select($"doc_id".as("doc_a"), $"hv".as("ha")))
      .join(gd.select($"doc_id".as("doc_b"), $"hv".as("hb")), $"doc_a" < $"doc_b")
      .select($"doc_a", $"doc_b",
        size(array_intersect($"ha", $"hb")).cast("long").as("inter"),
        size($"ha").cast("long").as("na"), size($"hb").cast("long").as("nb"))
      .select($"doc_a", $"doc_b",
        greatest(
          when($"na" === 0L, 1000L).otherwise(expr("inter * 1000 div na")),
          when($"nb" === 0L, 1000L).otherwise(expr("inter * 1000 div nb"))).as("cont"))
    val banded = bandSignatures(signaturesOf(sample))
      .select($"doc_id", $"band_id", $"band_key")
    def cands(w: Option[Int], name: String) =
      bucketPairs(banded, Seq("band_id", "band_key"),
          payloadCol = "doc_id", outA = "pa", outB = "pb", w)
        .select($"doc_a", $"doc_b").distinct().withColumn(name, lit(true))
    val flagged = truth
      .join(cands(Some(NeighborWindow), "cand_b"), Seq("doc_a", "doc_b"), "left")
      .join(cands(None, "cand_x"), Seq("doc_a", "doc_b"), "left")
      .withColumn("cand_b", coalesce($"cand_b", lit(false)))
      .withColumn("cand_x", coalesce($"cand_x", lit(false)))
    val th = ContainmentThresholds.toDF("threshold_permille")
    flagged.crossJoin(broadcast(th))
      .groupBy($"threshold_permille")
      .agg(
        sum(when($"cont" >= $"threshold_permille", 1L).otherwise(0L)).as("n_true"),
        sum(when($"cand_x", 1L).otherwise(0L)).as("n_cand_exhaustive"),
        sum(when($"cand_b", 1L).otherwise(0L)).as("n_cand_bounded"),
        sum(when($"cand_x" && $"cont" >= $"threshold_permille", 1L).otherwise(0L))
          .as("tp_exhaustive"),
        sum(when($"cand_b" && $"cont" >= $"threshold_permille", 1L).otherwise(0L))
          .as("tp_bounded"))
      .select($"threshold_permille", $"n_true", $"n_cand_exhaustive", $"n_cand_bounded",
        $"tp_exhaustive", $"tp_bounded",
        expr("tp_exhaustive * 1000000 div greatest(n_true, 1L)").as("recall_exhaustive_ppm"),
        expr("tp_bounded * 1000000 div greatest(n_true, 1L)").as("recall_bounded_ppm"),
        expr("(tp_exhaustive - tp_bounded) * 1000000 div greatest(tp_exhaustive, 1L)")
          .as("window_loss_ppm"))
      .orderBy($"threshold_permille")
  }
}
