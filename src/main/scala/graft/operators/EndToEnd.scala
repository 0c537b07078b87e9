package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Materialize, Tables}

/** The flagship composite: the whole reference pipeline as ONE declarative
  * plan — fetch (scan) -> clean -> analyze -> dedup -> render — that
  * Catalyst optimizes end to end. Mirrors master_script.process_page
  * (/root/reference/master_script.py:89-220) at corpus scale.
  */
object EndToEnd {

  def corpusPipeline(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)

    // 1. clean (t01 logic, inlined so the plan fuses)
    val cleaned = trim(regexp_replace($"text", "\\s+", " "))
    // 2. analyze: tokens + quality
    val tokens = size(split(cleaned, " ")).cast("long")
    val stop = graft.functions.GraftFunctions.regexCount(
      lower(cleaned), lit("\\b(the|a|and|of|to|in|is)\\b")).cast("double")
    val quality = least(lit(1.0), length(cleaned) / lit(500.0)) * lit(0.6) +
      (stop / (tokens.cast("double") + lit(1.0))) * lit(0.4)
    // 3. exact-dedup survivors (min doc_id per normalized-content hash)
    val keeper = min($"doc_id").over(Window.partitionBy($"content_md5"))
    // 4. render survivors above the quality bar
    val enriched = docs
      .select($"doc_id", $"source", $"lang", cleaned.as("cleaned"),
              tokens.as("tokens"), quality.as("quality"),
              md5(lower(cleaned)).as("content_md5"))
      .withColumn("keeper_id", keeper)
      .filter($"doc_id" === $"keeper_id" && $"quality" >= 0.3)
    enriched.select(
      $"doc_id", $"source", $"lang", $"tokens", $"quality",
      concat(lit("<!DOCTYPE html><html><head><title>"),
             $"source", lit("/doc-"), $"doc_id",
             lit("</title></head><body><div class=\"content\">"),
             $"cleaned", lit("</div></body></html>")).as("html"))
      .orderBy($"doc_id")
  }

  /** The LLM training-data flagship: clean -> quality + repetition +
    * cross-entropy gates -> exact dedup -> benchmark decontamination ->
    * stratified domain mix -> per-source token accounting, as ONE
    * declarative plan. The surface gates are per-row column math ahead of
    * the first shuffle, so they cut the corpus before anything moves; the
    * entropy gate (t18's corpus-LM surprisal, exact quantized-log2
    * arithmetic) adds the LM's vocab-keyed exchanges plus one doc-keyed
    * join, then the dedup window's hash shuffle and the tiny final
    * per-source agg (map-side partial) complete the plan. The eval
    * fingerprint set rides a broadcast. Weighted token counts stay exact
    * (weights are 5.0/20.0).
    */
  val QualityFloor = 0.3
  val RepCeiling = 0.6
  /** Corpus-calibrated surprisal band: below the floor is degenerate
    * repetition, above the ceiling is out-of-distribution gibberish (the
    * ceiling sits just under the synthetic corpus's max, so the gate
    * demonstrably bites while keeping ~99.6% of docs).
    */
  val EntropyFloorBits = 1.0
  val EntropyCeilingBits = 5.4
  def trainingMix(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val cleaned = trim(regexp_replace($"text", "\\s+", " "))
    // per-row analysis on the cleaned text (single-spaced, so split on ' ')
    val toks = split(lower($"cleaned"), " ")
    val tokens = size(toks).cast("long")
    val rep = floor((lit(1.0) - size(array_distinct(toks)) / size(toks).cast("double"))
      * 10000.0 + 0.5) / 10000.0
    val stop = graft.functions.GraftFunctions.regexCount(
      lower($"cleaned"), lit("\\b(the|a|and|of|to|in|is)\\b")).cast("double")
    val quality = least(lit(1.0), length($"cleaned") / lit(500.0)) * lit(0.6) +
      (stop / (tokens.cast("double") + lit(1.0))) * lit(0.4)
    // corpus-LM surprisal gate (t18): docs with no tokens carry no defined
    // surprisal and drop with the inner join
    val entropy = TextOps.entropyScoreRaw(s, dir)
      .select($"doc_id", $"bits_per_token")
    val gated = docs.filter(!Dedup.isEval)
      .select($"doc_id", $"source", cleaned.as("cleaned"))
      .select($"doc_id", $"source", tokens.as("tokens"),
              md5(lower($"cleaned")).as("content_md5"),
              rep.as("rep_ratio"), quality.as("quality"))
      .filter($"quality" >= QualityFloor && $"rep_ratio" <= RepCeiling)
      .join(entropy, "doc_id")
      .filter($"bits_per_token".between(EntropyFloorBits, EntropyCeilingBits))
      .drop("bits_per_token")
    // dedup survivors (min doc_id per content hash) — the plan's one big shuffle
    val keeper = min($"doc_id").over(Window.partitionBy($"content_md5"))
    val deduped = gated.withColumn("keeper_id", keeper)
      .filter($"doc_id" === $"keeper_id")
    // decontaminate against the (tiny, broadcast) eval fingerprint set
    val evalMd5 = docs.filter(Dedup.isEval)
      .select(md5(lower(trim(regexp_replace($"text", "\\s+", " ")))).as("eval_md5"))
      .distinct()
    val clean = deduped.join(broadcast(evalMd5),
      $"content_md5" === $"eval_md5", "left_anti")
    // stratified mix + unbiased token accounting per source
    val permille = when($"source".isin("src0", "src1"), 200).otherwise(50)
    clean
      .withColumn("permille", permille)
      .filter(pmod(graft.SampleHash.column($"doc_id"), lit(1000L)) < $"permille")
      .withColumn("weight", lit(1000.0) / $"permille")
      .groupBy($"source")
      .agg(count(lit(1)).as("docs_kept"),
           sum($"tokens").as("tokens_kept"),
           sum($"tokens" * $"weight").as("weighted_tokens"))
      .orderBy($"source")
  }

  /** p27: curation → training sequences, end to end — the second fusion
    * flagship. Where p19 ends at the mix's token accounting, p27 carries
    * the curated corpus all the way to the packed-sequence manifest a
    * trainer consumes: d24's histogram-calibrated per-source quality gate
    * (drop everything at or below each source's exact lower-quartile
    * value) → d09's broadcast decontamination → d01's min-id exact dedup →
    * p26's concat-and-chunk packing. One declarative plan, three hash
    * exchanges for the corpus (quality histogram agg on source, dedup
    * window on content_md5, packing window on (source, shard) whose
    * partitioning the rollup reuses) plus two broadcasts (cutoffs,
    * blocklist) — every stage's shuffle key is the stage's natural key,
    * nothing moves twice on the same key. Stage 1 was d21's exact ntile
    * through round 4; the per-source corpus sort that implied was this
    * flagship's scale ceiling, and [[Dedup.histogramQualityCutoffs]]
    * removes it while KEEPING the exact, DuckDB-replayable semantics — the
    * sketch gate (d23) remains the posture for un-quantized score domains.
    */
  def curatedPacking(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // ONE per-row pass computes every heavy text derivation the pipeline
    // needs (quality regexes, fingerprint, token count) and drops text; the
    // cutoff histogram, the eval blocklist, and the main curated lineage all
    // read the same narrow materialized frame — the r13 shape paid the
    // quality regexes twice and the fingerprint 1 + 1/7 times across three
    // corpus scans. Downstream only ever needed n_toks from text (the
    // packing law), so nothing wide is stored.
    val scored = Tables.documents(s, dir)
      .select($"doc_id", $"source", TextOps.qualityCol.as("quality"),
        TextOps.contentFp.as("content_md5"),
        size(TextOps.nonEmptyWords($"text")).cast("long").as("n_toks"))
      .transform(Materialize(_))
    // 1. histogram-calibrated per-source quality gate (d24)
    val gated = Dedup.withQualityCutoffs(scored, Dedup.histogramQualityCutoffs(scored))
      .filter(Dedup.qualityAdmits)
    // 2. decontaminate against the broadcast eval blocklist (d09), then
    //    exact-dedup survivors on the same fingerprint (d01)
    val evalFps = Dedup.evalFingerprints(scored)
    val wFp = Window.partitionBy($"content_md5").orderBy($"doc_id")
    val curated = gated
      .join(broadcast(evalFps), $"content_md5" === $"eval_md5", "left_anti")
      .withColumn("rn", row_number().over(wFp))
      .filter($"rn" === 1)
      .select($"doc_id", $"source", $"n_toks")
    // 3. pack what survived (p26's manifest, same budget/shards)
    PipelineOps.packingManifestTok(curated)
  }

  /** p33: curation attrition audit — per-doc FIRST-FAILING-STAGE attribution
    * for exactly p27's pipeline order (histogram quality gate →
    * decontamination → exact dedup). A 100-TB curation run answers to an
    * ops question p27's survivor manifest can't: "where did my corpus go?"
    * — and a funnel of counts alone can't answer the follow-up "why was
    * doc X dropped?". This key emits both in one frame: per-doc stage
    * verdicts whose group-by IS the funnel report. Stage semantics reuse
    * p27's exact predicates (same cutoff artifact, same fingerprint, same
    * eval law), so `stage = 'kept'` is provably p27's pre-packing corpus.
    * Attribution is ORDERED: a low-quality doc that is also contaminated
    * reports 'quality' (the first gate it hit), and the dedup keeper is
    * elected only among docs that survived stages 1-2 — a min-over-CASE
    * window, so a contaminated earlier copy does not shadow a clean later
    * one. Plan shape: one corpus scan, two broadcasts (cutoffs, eval
    * fingerprints), ONE corpus exchange (the content_md5 window) — the
    * audit costs no more than the pipeline stage it explains.
    * Reference twin: master_script.py's per-page skip/process accounting
    * (master_script.py:89-220) generalized to named-stage attribution.
    */
  def attritionFunnel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    // ONE narrow projection (no text) carries everything the audit needs —
    // quality and fingerprint are the per-row heavy steps and the r13 shape
    // paid them on three separate corpus scans (cutoff histogram, eval
    // fingerprints, main lineage); all three consumers now read the same
    // materialized 4-column frame
    val scored = Materialize(docs.select($"doc_id", $"source",
      TextOps.qualityCol.as("quality"), TextOps.contentFp.as("content_md5")))
    val flagged = Dedup.withQualityCutoffs(scored, Dedup.histogramQualityCutoffs(scored))
      .join(broadcast(Dedup.evalFingerprints(scored)), $"content_md5" === $"eval_md5", "left")
      .select($"doc_id", $"source", $"quality", $"content_md5",
              (!Dedup.qualityAdmits).as("q_fail"),
              $"eval_md5".isNotNull.as("contam"))
    // dedup keeper elected only among stage-1/2 survivors of the group
    val keeper = min(when(!$"q_fail" && !$"contam", $"doc_id"))
      .over(Window.partitionBy($"content_md5"))
    flagged
      .withColumn("keeper_id", keeper)
      .select($"doc_id", $"source", $"quality",
        when($"q_fail", "quality")
          .when($"contam", "contaminated")
          .when($"doc_id" =!= $"keeper_id", "exact_dup")
          .otherwise("kept").as("stage"))
      .orderBy($"doc_id")
  }

  /** p36: erasure impact analysis — the right-to-be-forgotten question a
    * 100-TB lake must answer BEFORE it can honor a deletion request: a
    * document does not live only in the documents table, it is woven into
    * derived artifacts (packed training sequences, the CDC chunk store,
    * dedup survivor groups), and each affected unit must be rebuilt or
    * re-elected when the doc goes. This key takes the deletion set
    * (fixture law: doc_id ≡ [[ErasureResidue]] mod [[ErasureMod]], ~1%)
    * and reports per artifact how many units the erasure touches:
    * sequences that must be repacked (the p26 placement law — a deleted
    * doc shifts every later offset in its (source, shard)), chunk digests
    * losing a copy (t28's decomposition; an orphaned digest leaves the
    * store), exact-dup groups (≥2 members) needing survivor re-election
    * (d01), and the documents base row. Shapes: each artifact section is
    * the existing operator's exchange with a max-flag partial aggregate
    * on top — the deletion set never broadcasts as data (it is a scan
    * predicate); output is 4 rows of exact integers.
    */
  val ErasureMod = 101L
  val ErasureResidue = 13L
  def erasureImpact(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    def del(c: org.apache.spark.sql.Column) =
      when(pmod(c, lit(ErasureMod)) === ErasureResidue, 1L).otherwise(0L)
    def report(name: String, units: DataFrame): DataFrame =
      units.agg(coalesce(sum($"hit"), lit(0L)).as("impacted_units"),
                count(lit(1)).as("total_units"))
        .select(lit(name).as("artifact"), $"impacted_units", $"total_units",
          expr("impacted_units * 1000000L div greatest(total_units, 1L)")
            .as("impact_ppm"))
    val docRow = report("documents",
      docs.select(del($"doc_id").as("hit")))
    val seqRow = report("sequences",
      PipelineOps.seqMembership(docs)
        .groupBy($"source", $"shard", $"seq_id")
        .agg(max(del($"doc_id")).as("hit")))
    val chunkRow = report("chunks",
      TextOps.chunkRows(docs)
        .groupBy($"chunk_hash").agg(max(del($"doc_id")).as("hit")))
    val dupRow = report("dup_groups",
      docs.select($"doc_id", TextOps.contentFp.as("fp"))
        .groupBy($"fp")
        .agg(count(lit(1)).as("n"), max(del($"doc_id")).as("hit"))
        .filter($"n" >= 2))
    docRow.unionByName(seqRow).unionByName(chunkRow).unionByName(dupRow)
      .orderBy($"artifact")
  }
}
