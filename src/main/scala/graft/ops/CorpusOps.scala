package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftext.Scratch

import graft.obs.Stages

/** The canonical training-data cleaning pipeline — the composition the
  * individual operators exist for, as one declarative flow:
  *
  *   1. quality gate: heuristic score ≥ threshold ([[TextOps.qualityScore]])
  *   2. language gate: detected language ∈ accepted set ([[TextOps.langId]])
  *   3. exact dedup: keep the smallest doc_id per normalized content hash
  *      ([[DedupOps.dedupExact]])
  *   4. near-dup removal: drop the higher doc_id of every MinHash/LSH pair
  *      with verified Jaccard ≥ threshold ([[DedupOps.dedupMinhashLsh]]).
  *      This is the conservative PAIRWISE policy (only docs directly
  *      similar to a surviving lower id are dropped); for transitive
  *      cluster collapse — one survivor per connected component of the
  *      pair graph — compose with [[DedupOps.connectedComponents]] and
  *      keep `is_rep` rows instead
  *
  * Shuffle inventory at 100 TB: one hash shuffle (content hash), one band
  * shuffle + candidate-bounded verify join (LSH), two joins on doc_id —
  * everything else is narrow. The cheap quality/language gates run FIRST
  * so the dedup stages only see surviving documents.
  */
object CorpusOps {

  val QualityThreshold = 0.5
  val AcceptedLangs: Seq[String] = Seq("en")

  /** The gated set + the two dedup-loser id lists the clean pipeline
    * derives from it — shared by [[cleanCorpus]] (which drops) and
    * [[filterReasons]] (which reports), so the two can never disagree on
    * a stage's semantics.
    */
  private def cleanStages(docs: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    // both gates are pure projections over `docs`, so their columns ride
    // ONE narrow select — no doc_id joins (which at corpus scale would be
    // two full shuffles); expressions identical to qualityScore/langId.
    // toksOf: a caller holding the shared token table skips re-splitting
    // the corpus text for the gates (identical result by table contract)
    val toks = TextOps.toksOf(docs)
    val (nTok, quality) = TextOps.qualityColsWith(col("text"), toks)
    val gated = docs
      .withColumn("n_tokens", nTok)
      .withColumn("quality", quality)
      .withColumn("detected_lang", TextOps.detectLangWith(toks))
      .filter(col("quality") >= QualityThreshold &&
        col("detected_lang").isin(AcceptedLangs: _*))
    // exact dedup: survivors are each hash group's min doc_id
    val reps = DedupOps.dedupExact(gated)
      .select(col("rep_doc_id").as("doc_id"))
    val exactDeduped = gated.join(reps, "doc_id")
    // near-dup removal: the LSH pair list is computed over the deduped
    // set; every pair's higher id is dropped (left_anti on doc_b)
    val nearDupLosers = DedupOps.dedupMinhashLsh(exactDeduped)
      .select(col("doc_b").as("doc_id")).distinct()
    (gated, reps, nearDupLosers)
  }

  def cleanCorpus(docs: DataFrame): DataFrame = {
    val (gated, reps, nearDupLosers) = cleanStages(docs)
    gated.join(reps, "doc_id")
      .join(nearDupLosers, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("n_tokens"), col("quality"), col("detected_lang"))
  }

  /** The AUDIT face of [[cleanCorpusDecontam]]: one row per INPUT doc
    * with a flag per removal reason and the final keep verdict — the
    * filter-reason report every production cleaning run emits beside the
    * cleaned corpus (rejection-rate dashboards, gate tuning, "why did my
    * doc disappear"). Flags are derived from the pipeline's OWN stage
    * tables ([[cleanStages]]), so `keep` is definitionally the
    * [[cleanCorpusDecontam]] survivor set: fail_quality/fail_lang from
    * the doc's text, dup_exact = gated but not its hash group's rep,
    * dup_near = LSH loser among exact survivors, contaminated =
    * production-width benchmark overlap (flagged for every doc, gated or
    * not — an eval leak is worth knowing about even in a rejected doc).
    *
    * Scale shape: the gates ride the corpus scan; the three flag lists
    * are doc_id-only frames (losers/hits are per-mille in practice, AQE
    * broadcasts them); the report row is doc_id + six booleans — text
    * never joins, never shuffles.
    */
  def filterReasons(docs: DataFrame): DataFrame = {
    val (_, reps, nearDupLosers) = cleanStages(docs)
    val contaminated = PretrainOps.decontaminate(docs, PretrainOps.DecontamGramProd)
      .select("doc_id").distinct()
    val toks = TextOps.toksOf(docs)
    val (_, quality) = TextOps.qualityColsWith(col("text"), toks)
    val flagged = docs.select(col("doc_id"),
      (quality < QualityThreshold).as("fail_quality"),
      (!TextOps.detectLangWith(toks).isin(AcceptedLangs: _*)).as("fail_lang"))
    // gated membership is definitionally !fail_quality && !fail_lang —
    // already in hand, so no join against the gated frame (that would
    // re-evaluate both gates over the corpus a second time and add a
    // corpus-wide doc_id join for a fact this row states itself)
    flagged
      .join(reps.withColumn("is_rep", lit(true)), Seq("doc_id"), "left")
      .join(nearDupLosers.withColumn("is_loser", lit(true)), Seq("doc_id"), "left")
      .join(contaminated.withColumn("is_contam", lit(true)), Seq("doc_id"), "left")
      .select(col("doc_id"), col("fail_quality"), col("fail_lang"),
        (!col("fail_quality") && !col("fail_lang") &&
          !coalesce(col("is_rep"), lit(false))).as("dup_exact"),
        coalesce(col("is_loser"), lit(false)).as("dup_near"),
        coalesce(col("is_contam"), lit(false)).as("contaminated"))
      .withColumn("keep", !(col("fail_quality") || col("fail_lang") ||
        col("dup_exact") || col("dup_near") || col("contaminated")))
  }

  /** [[cleanCorpus]] with the benchmark-decontamination gate appended —
    * the full published composition (gates → exact dedup → near-dup →
    * decontaminate): any surviving doc sharing ≥ 1 exact
    * [[PretrainOps.DecontamGramProd]]-word gram with the held-out
    * benchmark split is REMOVED, not just audited.
    *
    * Scale shape: the contamination side re-uses [[PretrainOps
    * .decontaminate]]'s asymmetry (benchmark gram set broadcast, corpus
    * text never shuffles), and the removal is one anti-join on doc_id
    * against the O(contaminated docs) hit list — contamination rates are
    * per-mille in practice, so AQE broadcasts the hit list at runtime.
    */
  def cleanCorpusDecontam(
      docs: DataFrame,
      gramWidth: Int = PretrainOps.DecontamGramProd): DataFrame = {
    val contaminated = PretrainOps.decontaminate(docs, gramWidth)
      .select(col("doc_id"))
    cleanCorpus(docs).join(contaminated, Seq("doc_id"), "left_anti")
  }

  /** The WHOLE published pipeline, raw docs → training-sequence index:
    * [[cleanCorpusDecontam]] (quality gate → language gate → exact dedup
    * → MinHash near-dup removal → benchmark decontamination removal),
    * then exact-substring trim over the SURVIVORS ([[PretrainOps
    * .dedupSubstringTrim]] — repeated spans are counted among surviving
    * docs only, matching Lee et al. 2021's order: substring dedup runs on
    * the already-deduplicated corpus), then GPT-style contiguous packing
    * of the surviving token counts ([[PretrainOps.packSequences]]
    * semantics: per-source shard, doc_id order, [[PretrainOps.SeqLen]]
    * cut). Docs trimmed to zero tokens leave the corpus. Output per
    * surviving doc: its shard, surviving token count, stream offset and
    * sequence span — the index a packed-dataset loader consumes.
    *
    * Scale shape: the union of its stages' shapes — cheap gates first,
    * hash/band shuffles on hashes only, broadcast decontamination,
    * doc-partitioned interval merge — plus ONE per-shard window for the
    * packing (the same cumulative sum every packed-dataset writer runs)
    * and doc_id-keyed joins AQE sizes. Nothing new materializes beyond
    * the shared span table; corpus text never shuffles.
    */
  def corpusToSequences(docs: DataFrame): DataFrame = {
    // the cleaned corpus is consumed twice (trim input + shard/source
    // join) and its subtree is the whole multi-stage clean pipeline —
    // materialize its ID SET once (exactly what a production pipeline
    // does: write the cleaned corpus, THEN pack), instead of re-running
    // gates+LSH+decontam per consumer. Only the doc_id column is
    // materialized (review round-12): copying the wide token arrays
    // into a second cache cost a full serialization pass of the
    // corpus — the id set is doc-count-sized, AQE broadcasts it, and
    // both consumers re-read the already-cached corpus table instead
    val cleanIds = DedupOps.materialize(
      cleanCorpusDecontam(docs).select("doc_id"), "clean_survivor_ids")
    val survivors = docs.join(cleanIds, "doc_id")
    val trimmed = PretrainOps.dedupSubstringTrim(survivors)
      .filter(col("surviving_tokens") >= 1)
      .select(col("doc_id"), col("surviving_tokens").as("n_tokens"))
    PretrainOps.packTokenCounts(
      trimmed.join(survivors.select("doc_id", "source"), "doc_id"))
  }

  /** [[corpusToSequences]]'s sibling with a REAL tokenizer in the loop:
    * clean the corpus ([[cleanCorpusDecontam]]: quality gate → language
    * gate → exact dedup → MinHash near-dup removal → benchmark
    * decontamination removal), TRAIN the BPE merge table on the
    * survivors ([[TokenizerOps.bpeTrain]] — the tokenizer is learned on
    * cleaned data, the order every published pipeline uses: a tokenizer
    * trained before dedup memorizes boilerplate merges), then tokenize
    * the survivors with the learned merges and pack the resulting BPE
    * counts ([[TokenizerOps.packSequencesBpe]] ≡ [[PretrainOps
    * .packTokenCounts]] over real token counts).
    *
    * The substring-trim stage of [[corpusToSequences]] is deliberately
    * absent here: trim's surviving counts are defined over whitespace
    * token spans, and mixing a whitespace-denominated trim with a
    * BPE-denominated pack would make `seq_offset` arithmetic
    * incoherent. A production pipeline that wants both applies trim to
    * the TEXT first and re-tokenizes — a text-rewrite stage, not a
    * count adjustment.
    *
    * Scale shape: the clean pipeline's bounded exchanges, then BPE
    * training over the Zipf-small survivor vocab (driver sees one row
    * per merge), then [[TokenizerOps.tokenizeBpe]]'s zero-shuffle
    * narrow map and the one per-shard packing window. The survivor set
    * is materialized ONCE and feeds both the trainer and the
    * tokenizer.
    */
  def corpusToSequencesBpe(docs: DataFrame): DataFrame = {
    // id-set materialization (see [[corpusToSequences]]): the trainer
    // and the tokenizer both read the cached corpus through one cheap
    // broadcast semi-join instead of a second wide cache copy
    val cleanIds = DedupOps.materialize(
      cleanCorpusDecontam(docs).select("doc_id"), "clean_survivor_ids_bpe")
    val survivors = docs.join(cleanIds, "doc_id")
    val merges = TokenizerOps.bpeTrain(survivors, TokenizerOps.NumMerges)
    TokenizerOps.packSequencesBpe(survivors, merges)
  }

  /** Oracle twin: [[sqlCleanCorpusDecontam]] nested as the survivor set
    * (exactly as in [[sqlCorpusToSequences]]), then [[TokenizerOps]]'
    * unrolled 8-step learn chain and doc-count tail rebased from
    * `documents` onto the survivors, under [[PretrainOps.sqlPackOver]].
    */
  def sqlCorpusToSequencesBpe: String =
    s"""WITH cleaned AS (SELECT doc_id FROM (
       |$sqlCleanCorpusDecontam
       |)),
       |survivors AS MATERIALIZED (SELECT d.* FROM documents d JOIN cleaned USING (doc_id)),
       |${TokenizerOps.sqlLearnCtes(TokenizerOps.NumMerges, "survivors")}
       |${PretrainOps.sqlPackOver(
           s"""    SELECT doc_id, source, n_tokens FROM (
              |${TokenizerOps.sqlDocCounts(TokenizerOps.NumMerges, "survivors")})""".stripMargin)}""".stripMargin

  /** Oracle twin: [[sqlCleanCorpusDecontam]] nested as the survivor set,
    * the shared merged-range CTE chain rebased onto it, the trim tail
    * reduced to surviving counts, and [[PretrainOps.sqlPackSequences]]'s
    * window/arithmetic over those counts.
    */
  def sqlCorpusToSequences: String = {
    val spans = PretrainOps.sqlMergedRangeCtes("survivors").stripPrefix("WITH ")
    s"""WITH cleaned AS (SELECT doc_id FROM (
       |$sqlCleanCorpusDecontam
       |)),
       |survivors AS (SELECT d.* FROM documents d JOIN cleaned USING (doc_id)),
       |$spans,
       |trimmed AS (
       |  SELECT b.doc_id, b.n - coalesce(p.trimmed, 0) AS n_tokens
       |  FROM (SELECT DISTINCT doc_id, n FROM sp) b
       |  LEFT JOIN (
       |    SELECT doc_id, n, CAST(sum(re - rs + 1) AS BIGINT) AS trimmed
       |    FROM r GROUP BY doc_id, n) p USING (doc_id, n)
       |  WHERE b.n - coalesce(p.trimmed, 0) >= 1)
       |${PretrainOps.sqlPackOver(
           """    SELECT t.doc_id, sv.source, t.n_tokens
             |    FROM trimmed t JOIN survivors sv USING (doc_id)""".stripMargin)}""".stripMargin
  }

  /** Oracle twin: [[sqlCleanCorpus]] with the contamination hit list
    * (the full decontaminate oracle at production gram width) appended as
    * one more NOT IN gate — a nested-WITH subquery, scoped like the LSH
    * pair subquery inside `losers`.
    */
  def sqlCleanCorpusDecontam: String =
    s"""${sqlCleanCorpus}
       |  AND doc_id NOT IN (SELECT doc_id FROM (
       |${PretrainOps.sqlDecontaminateAt(PretrainOps.DecontamGramProd)}
       |  ))""".stripMargin

  /** The clean pipeline's shared CTE body (q, l, gated_docs, reps,
    * exact_deduped, losers) — one definition under [[sqlCleanCorpus]] and
    * [[sqlFilterReasons]], like [[cleanStages]] on the Spark side.
    * `gated_docs` is `AS MATERIALIZED`: it is referenced by reps,
    * exact_deduped and the reason report — an inlining planner would
    * re-run both gate subqueries per reference.
    */
  private def sqlCleanCtes: String = {
    val pairsOverDeduped = DedupOps.sqlDedupMinhashLsh
      .replace("FROM documents", "FROM exact_deduped")
    s"""q AS (SELECT doc_id, n_tokens, quality FROM (${TextOps.sqlQualityScore})),
       |l AS (SELECT doc_id, detected_lang FROM (${TextOps.sqlLangId})),
       |gated_docs AS MATERIALIZED (
       |  SELECT d.*, q.n_tokens, q.quality, l.detected_lang
       |  FROM documents d JOIN q USING (doc_id) JOIN l USING (doc_id)
       |  WHERE q.quality >= $QualityThreshold
       |    AND l.detected_lang IN (${AcceptedLangs.map(x => s"'$x'").mkString(", ")})),
       |reps AS (
       |  SELECT min(doc_id) AS doc_id FROM (
       |    SELECT doc_id,
       |      ${DedupOps.SqlNormalizedContentHash} AS content_hash
       |    FROM gated_docs)
       |  GROUP BY content_hash),
       |exact_deduped AS (SELECT g.* FROM gated_docs g JOIN reps USING (doc_id)),
       |losers AS (
       |  SELECT DISTINCT doc_b AS doc_id FROM (
       |$pairsOverDeduped
       |  ))""".stripMargin
  }

  /** Oracle twin: the per-operator oracle SQL composed as CTEs over the
    * same gated set (full sub-pipelines embedded as parenthesized
    * WITH-subqueries, rebased from `documents` onto the gated CTE).
    */
  def sqlCleanCorpus: String =
    s"""WITH $sqlCleanCtes
       |SELECT doc_id, n_tokens, quality, detected_lang
       |FROM exact_deduped
       |WHERE doc_id NOT IN (SELECT doc_id FROM losers)""".stripMargin

  /** Oracle twin of [[filterReasons]]: the shared clean CTEs plus the
    * production-width contamination hit list, assembled into one flag
    * row per input doc.
    */
  def sqlFilterReasons: String =
    s"""WITH $sqlCleanCtes,
       |contam AS (SELECT DISTINCT doc_id FROM (
       |${PretrainOps.sqlDecontaminateAt(PretrainOps.DecontamGramProd)}
       |))
       |SELECT doc_id, fail_quality, fail_lang, dup_exact, dup_near, contaminated,
       |  NOT (fail_quality OR fail_lang OR dup_exact OR dup_near OR contaminated) AS keep
       |FROM (
       |  SELECT q.doc_id,
       |    q.quality < $QualityThreshold AS fail_quality,
       |    l.detected_lang NOT IN (${AcceptedLangs.map(x => s"'$x'").mkString(", ")})
       |      AS fail_lang,
       |    (q.quality >= $QualityThreshold
       |      AND l.detected_lang IN (${AcceptedLangs.map(x => s"'$x'").mkString(", ")})
       |      AND r.doc_id IS NULL) AS dup_exact,
       |    lo.doc_id IS NOT NULL AS dup_near,
       |    c.doc_id IS NOT NULL AS contaminated
       |  FROM q
       |  JOIN l ON l.doc_id = q.doc_id
       |  LEFT JOIN reps r ON r.doc_id = q.doc_id
       |  LEFT JOIN losers lo ON lo.doc_id = q.doc_id
       |  LEFT JOIN contam c ON c.doc_id = q.doc_id)""".stripMargin

  // ------------------------------------------- corpus_to_preferences

  /** The post-training sibling of [[corpusToSequences]] — the published
    * preference-data pipeline as ONE declarative flow: clean the corpus
    * ([[cleanCorpusDecontam]]: quality gate → language gate → exact
    * dedup → MinHash near-dup removal → benchmark decontamination),
    * then construct DPO pairs over the SURVIVORS
    * ([[PostTrainOps.dpoPairs]]). Cleaning first matters for
    * preferences specifically: a contaminated or duplicated candidate
    * that wins a group poisons every pair it appears in.
    */
  def corpusToPreferences(docs: DataFrame): DataFrame =
    // no materialize (round 15): dpoPairs is ONE linear aggregation over
    // the survivors, so the former full-width survivor cache (doc text
    // serialized into a second InMemoryRelation) was a pure extra pass —
    // the slim-cache rule's degenerate case: one consumer needs no cache
    // at all. The clean chain's internal signature/gram materializations
    // are unchanged.
    PostTrainOps.dpoPairs(
      docs.join(cleanCorpusDecontam(docs).select("doc_id"), "doc_id"))

  def sqlCorpusToPreferences: String =
    s"""WITH cleaned AS (SELECT doc_id FROM (
       |$sqlCleanCorpusDecontam
       |)),
       |survivors AS (SELECT d.* FROM documents d JOIN cleaned USING (doc_id)),
       |${PostTrainOps.sqlDpoPairs.stripPrefix("WITH ")
            .replace("FROM documents", "FROM survivors")}""".stripMargin

  // ------------------------------------------------------ corpus_diff

  /** Snapshot diff between two corpus VERSIONS — the dataset-versioning
    * primitive every periodically-rebuilt 100 TB corpus needs (what
    * changed between yesterday's crawl and today's, before re-running
    * the expensive downstream stages on everything): per doc_id,
    * `added` (only in `b`), `removed` (only in `a`) or `changed`
    * (present in both, content hash differs); unchanged docs emit
    * NOTHING, which is the point — diff output is proportional to the
    * CHURN, not the corpus.
    *
    * Shape: each side reduces to (doc_id, md5) narrow projections, then
    * ONE full-outer join on doc_id — both sides shuffle once on the
    * join key and nothing else moves; with both snapshots stored in the
    * [[BucketedLayout]] doc_id buckets even those two exchanges vanish.
    */
  def corpusDiff(a: DataFrame, b: DataFrame): DataFrame = {
    def h(df: DataFrame, name: String) =
      df.select(col("doc_id"), md5(coalesce(col("text"), lit(""))).as(name))
    h(a, "hash_a").join(h(b, "hash_b"), Seq("doc_id"), "full_outer")
      .withColumn("status",
        when(col("hash_a").isNull, lit("added"))
          .when(col("hash_b").isNull, lit("removed"))
          .when(col("hash_a") =!= col("hash_b"), lit("changed")))
      .filter(col("status").isNotNull)
      .select(col("doc_id"), col("status"),
        coalesce(col("hash_a"), lit("")).as("hash_a"),
        coalesce(col("hash_b"), lit("")).as("hash_b"))
  }

  /** The oracle key binds [[corpusDiff]] to two DETERMINISTIC synthetic
    * versions of the fixture corpus: v1 drops doc_id % 7 == 0, v2 drops
    * doc_id % 5 == 0 and "edits" doc_id % 11 == 0 (upper-cases the
    * text) — all three statuses exercised, engine-independent.
    */
  def corpusDiffKey(docs: DataFrame): DataFrame =
    corpusDiff(
      docs.filter(col("doc_id") % 7 =!= 0),
      docs.filter(col("doc_id") % 5 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 11 === 0, upper(col("text")))
            .otherwise(col("text"))))

  // ------------------------------------------- corpus_clean_incremental

  /** The artifacts a [[cleanCorpus]] run persists so the NEXT corpus
    * version can be cleaned incrementally — the daily-rebuild production
    * story ([[corpusDiff]]'s doc comment promises exactly this use):
    *
    *   - `gated`: (doc_id, content_hash, n_tokens, quality,
    *     detected_lang, is_rep) for every doc passing the quality +
    *     language gates — metadata only, text never persists here.
    *     `is_rep` marks each hash group's min doc_id (the exact-dedup
    *     survivor), so survivor membership is readable without a
    *     corpus-wide re-aggregation.
    *   - `sigs`: the MinHash signature table (doc_id, hs, mh) of the
    *     exact-dedup survivors — the standing LSH index
    *     ([[DedupOps.historySignatureTable]]'s role), from which band
    *     rows derive narrowly.
    *   - `cands`: the capped per-bucket candidate pairs WITH bucket
    *     provenance (band_idx, band_sig, doc_a, doc_b). Provenance is
    *     load-bearing: the deterministic bucket cap means a NEW small
    *     doc_id entering a bucket can evict an old member and delete
    *     pairs between two UNTOUCHED docs — only per-bucket bookkeeping
    *     replays that exactly.
    *   - `verdicts`: (doc_a, doc_b, jaccard, is_dup) for every distinct
    *     candidate pair — complete (false verdicts included), so the
    *     incremental pass can tell "verified below threshold" from
    *     "never verified" and re-verify only genuinely new pairs.
    *
    * At 100 TB each face is written via [[BucketedLayout]] (gated by
    * content_hash, sigs/bands by band_sig, cands/verdicts by doc pair),
    * so every churn-keyed semi/anti-join below prunes to the touched
    * buckets instead of scanning the index.
    */
  final case class CleanState(gated: DataFrame, sigs: DataFrame,
      cands: DataFrame, verdicts: DataFrame)

  /** Build [[CleanState]] from scratch — the v1 full run. Stage
    * semantics are IDENTICAL to [[cleanStages]]/[[DedupOps
    * .dedupMinhashLsh]] (same gates, same min-per-hash rep rule, same
    * band/cap geometry, same shared [[DedupOps.verifyPairs]] kernel), so
    * `state.gated.filter(is_rep)` minus `verdicts(is_dup).doc_b` IS the
    * [[cleanCorpus]] output set.
    */
  def cleanState(docs: DataFrame): CleanState = {
    // state faces are lineage-TRUNCATED, not merely cached: each round's
    // state is the next round's input, so a cache()-backed plan doubles
    // per chained version (the connectedComponents lesson — canonicalizing
    // a 3-versions-deep clean plan OOMs before any data moves). With
    // [[DedupOps.CheckpointDirConf]] set this is the durable parquet
    // write a production daily rebuild does anyway.
    val runId = java.util.UUID.randomUUID().toString.take(8)
    // handed to the caller's Scratch.scope too: the stream's FIRST
    // batch builds the state here, writes it to parquet, then releases
    // the pins
    def trunc(df: DataFrame, name: String): DataFrame =
      Stages.time(s"patch.state_$name")(
        Scratch.keep(DedupOps.truncateIter(df, s"cleanstate-$runId", name)))
    val toks = TextOps.toksOf(docs)
    val (nTok, quality) = TextOps.qualityColsWith(col("text"), toks)
    // materialized: feeds both the rep election and the join-back —
    // uncached, the gate+hash scan over the corpus would run twice
    val gatedRaw = DedupOps.materializeScoped(docs
      .withColumn("n_tokens", nTok)
      .withColumn("quality", quality)
      .withColumn("detected_lang", TextOps.detectLangWith(toks))
      .filter(col("quality") >= QualityThreshold &&
        col("detected_lang").isin(AcceptedLangs: _*))
      .select(col("doc_id"),
        DedupOps.normalizedContentHash.as("content_hash"),
        col("n_tokens"), col("quality"), col("detected_lang")),
      "clean_state_gated_raw")
    val reps = gatedRaw.groupBy("content_hash")
      .agg(min("doc_id").as("rep_id"))
    val gated = trunc(
      gatedRaw.join(reps, "content_hash")
        .withColumn("is_rep", col("doc_id") === col("rep_id"))
        .select("doc_id", "content_hash", "n_tokens", "quality",
          "detected_lang", "is_rep"),
      "clean_state_gated")
    val survivorIds = gated.filter(col("is_rep")).select("doc_id")
    val sigs = trunc(
      DedupOps.historySignatureTable(docs.join(survivorIds, "doc_id")),
      "clean_state_sigs")
    val capped = DedupOps.capBuckets(DedupOps.bandRows(sigs),
      DedupOps.BandBucketCap)
    val a = capped.alias("a")
    val b = capped.alias("b")
    val cands = trunc(
      a.join(b,
          col("a.band_idx") === col("b.band_idx") &&
            col("a.band_sig") === col("b.band_sig") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.band_idx").as("band_idx"),
          col("a.band_sig").as("band_sig"),
          col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b")),
      "clean_state_cands")
    val verdicts = trunc(
      DedupOps.verifyPairs(
        cands.select("doc_a", "doc_b").distinct(), sigs),
      "clean_state_verdicts")
    CleanState(gated, sigs, cands, verdicts)
  }

  /** clean(v) read off a [[CleanState]] alone — survivors minus the
    * doc_b side of pairs that are BOTH current candidates and verified
    * dups (a verdict whose candidacy was cap-evicted must not fire).
    * `cleanFromState(cleanState(docs))` ≡ [[cleanCorpus]](docs); ONE
    * definition shared by the batch composition, the incremental patch
    * and the streaming face, so the three cannot drift on the loser
    * rule.
    */
  def cleanFromState(state: CleanState): DataFrame = {
    val losers = state.cands.select("doc_a", "doc_b").distinct()
      .join(state.verdicts.filter(col("is_dup")),
        Seq("doc_a", "doc_b"), "left_semi")
      .select(col("doc_b").as("doc_id")).distinct()
    state.gated.filter(col("is_rep"))
      .join(losers, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("n_tokens"), col("quality"),
        col("detected_lang"))
  }

  /** Persist a [[CleanState]] as four bucketed tables — the artifact a
    * daily rebuild writes so the next day's patch starts from DISK
    * (and the LSM compaction for a long-lived in-memory chain: the
    * write collapses base+delta lineage into a flat layout). Bucket
    * keys match the patch's own join keys, so the churn-keyed
    * semi/anti-joins plan against pre-partitioned bases: gated by
    * content_hash (affected-group splits), sigs by doc_id (±survivor
    * joins), cands by band_sig (affected-bucket splits), verdicts by
    * doc_a (churn drops).
    */
  def writeCleanState(state: CleanState, tablePrefix: String,
      dir: String, buckets: Int = 8): Unit = {
    BucketedLayout.writeBucketed(state.gated, s"${tablePrefix}_gated",
      "content_hash", buckets, s"$dir/gated")
    BucketedLayout.writeBucketed(state.sigs, s"${tablePrefix}_sigs",
      "doc_id", buckets, s"$dir/sigs")
    BucketedLayout.writeBucketed(state.cands, s"${tablePrefix}_cands",
      "band_sig", buckets, s"$dir/cands")
    BucketedLayout.writeBucketed(state.verdicts, s"${tablePrefix}_verdicts",
      "doc_a", buckets, s"$dir/verdicts")
    // the band-row projection persisted beside the signatures — the one
    // full-width pass [[cleanCorpusIncremental]]'s doc promises away
    // "when band rows are persisted beside the signatures": the pruned
    // patch reads affected buckets straight off this face instead of
    // re-exploding every survivor's bands
    BucketedLayout.writeBucketed(DedupOps.bandRows(state.sigs),
      s"${tablePrefix}_bands", "band_sig", buckets, s"$dir/bands")
  }

  /** The persisted band-row face (see [[writeCleanState]]); derived on
    * the fly for states written before the face existed.
    */
  def readBands(spark: org.apache.spark.sql.SparkSession,
      tablePrefix: String): DataFrame =
    if (spark.catalog.tableExists(s"${tablePrefix}_bands"))
      BucketedLayout.table(spark, s"${tablePrefix}_bands")
    else DedupOps.bandRows(
      BucketedLayout.table(spark, s"${tablePrefix}_sigs"))

  /** Read a persisted [[CleanState]] back (bucket metadata intact — the
    * base-side exchanges of the next patch vanish).
    */
  /** Re-attach a [[writeCleanState]] artifact in a NEW session (the
    * next day's patch driver): registers all five faces with the same
    * bucket spec the writer used ([[BucketedLayout.register]]).
    */
  def registerCleanState(spark: org.apache.spark.sql.SparkSession,
      tablePrefix: String, dir: String, buckets: Int = 8): Unit = {
    BucketedLayout.register(spark, s"${tablePrefix}_gated",
      "content_hash", buckets, s"$dir/gated")
    BucketedLayout.register(spark, s"${tablePrefix}_sigs",
      "doc_id", buckets, s"$dir/sigs")
    BucketedLayout.register(spark, s"${tablePrefix}_cands",
      "band_sig", buckets, s"$dir/cands")
    BucketedLayout.register(spark, s"${tablePrefix}_verdicts",
      "doc_a", buckets, s"$dir/verdicts")
    BucketedLayout.register(spark, s"${tablePrefix}_bands",
      "band_sig", buckets, s"$dir/bands")
  }

  def readCleanState(spark: org.apache.spark.sql.SparkSession,
      tablePrefix: String): CleanState =
    CleanState(
      BucketedLayout.table(spark, s"${tablePrefix}_gated"),
      BucketedLayout.table(spark, s"${tablePrefix}_sigs"),
      BucketedLayout.table(spark, s"${tablePrefix}_cands"),
      BucketedLayout.table(spark, s"${tablePrefix}_verdicts"))

  /** Incremental corpus rebuild: given the v1 [[CleanState]] and the
    * [[corpusDiff]] v1→v2, produce clean(v2) — IDENTICAL to running
    * [[cleanCorpus]] on v2 from scratch — touching only churn-
    * proportional slices, plus the v2 state for the next day's rebuild.
    *
    * The exactness argument, stage by stage:
    *   - gates are per-doc pure → only churned docs re-gate;
    *   - `is_rep` can change only inside AFFECTED hash groups (a hash a
    *     churned doc had in v1 or has in v2) — an untouched group has
    *     identical membership in both versions, so its rep carries. This
    *     replays both demotion (a removed/changed rep's next-min
    *     promotes) and eviction (an added smaller id demotes an
    *     unchanged rep);
    *   - LSH candidates can change only inside AFFECTED band buckets
    *     (buckets holding a band row of a survivor-set delta doc) — the
    *     deterministic cap makes this per-bucket, not per-doc: a plus
    *     doc entering a bucket can evict an old member and delete pairs
    *     between two untouched docs, and a minus doc leaving can pull a
    *     beyond-cap doc INTO the capped set, creating pairs between two
    *     untouched docs. Both replay exactly because affected buckets
    *     recompute from the v2 membership;
    *   - verdicts are per-pair pure given signatures → only pairs
    *     touching churn re-verify, through the same shared
    *     [[DedupOps.verifyPairs]] kernel.
    *
    * Cost ∝ churn: every recompute below is keyed by diff ids, affected
    * hashes or affected buckets; with the state faces bucket-stored
    * (see [[CleanState]]) the semi/anti-joins prune I/O to the touched
    * buckets. The one full-width pass is the narrow band-row projection
    * over the signature index (no text, no shuffle), and even that
    * vanishes when band rows are persisted beside the signatures.
    */
  def cleanCorpusIncremental(v2docs: DataFrame, state: CleanState,
      diff: DataFrame): (DataFrame, CleanState) = {
    import DedupOps.materializeScoped
    // BASE + DELTA state discipline (review round-10, measured): an
    // eager checkpoint of each returned face re-COPIES the corpus-sized
    // state every version, making patch cost ∝ corpus however small the
    // churn. Instead, only CHURN-SIZED deltas are checkpointed; each
    // returned face is `lazy-filter(prior checkpoint) ∪ delta` — the
    // LSM shape. Every other reference a round makes to a prior face is
    // cut by a delta checkpoint of its own, so the lazy spine holds
    // exactly ONE reference per face per version (linear plan growth;
    // a long-lived chain periodically compacts the base — production
    // rewrites the bucketed parquet, the same LSM compaction).
    val runId = java.util.UUID.randomUUID().toString.take(8)
    // every churn-sized checkpoint/cache below goes to the caller's
    // Scratch.scope: the returned faces read them lazily, and a
    // per-batch caller frees them after its write.
    // Eager checkpoints are DELIBERATE (round 14, measured): lazy
    // localCheckpoint under AQE still executes every upstream shuffle
    // stage at call time (getFinalPhysicalPlan), so laziness saves
    // nothing — and the deferred final stages re-ran per consumer
    // (decontam patch 7.2 -> 13.3 s). The rounds are driver-sequential
    // by data dependency; their cost at toy scale is fixed per-job
    // overhead, amortized at real churn sizes.
    def trunc(df: DataFrame, name: String): DataFrame =
      Stages.time(s"patch.patch_$name")(
        Scratch.keep(DedupOps.truncateIter(df, s"cleaninc-$runId", name)))
    // the diff materializes ONCE: it is a two-corpus-scan full-outer
    // join, and every churn-keyed step below reads it
    val diffM = materializeScoped(diff, "inc_diff")
    val diffIds = diffM.select("doc_id")
    val churnNewIds = diffM
      .filter(col("status").isin("added", "changed")).select("doc_id")
    // 1. re-gate the churn (per-doc pure — the only text the gates read)
    val toks = TextOps.toksOf(v2docs)
    val (nTok, quality) = TextOps.qualityColsWith(col("text"), toks)
    val gatedChurn = materializeScoped(v2docs.join(churnNewIds, "doc_id")
      .withColumn("n_tokens", nTok)
      .withColumn("quality", quality)
      .withColumn("detected_lang", TextOps.detectLangWith(toks))
      .filter(col("quality") >= QualityThreshold &&
        col("detected_lang").isin(AcceptedLangs: _*))
      .select(col("doc_id"),
        DedupOps.normalizedContentHash.as("content_hash"),
        col("n_tokens"), col("quality"), col("detected_lang"),
        lit(false).as("is_rep")), "inc_gated_churn")
    // 2. exact-dedup reps: recompute min-per-hash ONLY inside AFFECTED
    // hash groups (a hash a churned doc had in v1 or has in v2); every
    // other group's membership — hence its rep — is untouched and rides
    // the base unchanged
    val affectedHashes = trunc(
      state.gated.join(diffIds, "doc_id").select("content_hash")
        .union(gatedChurn.select("content_hash")).distinct(),
      "inc_affected_hashes")
    val touchedOld = state.gated.join(diffIds, Seq("doc_id"), "left_anti")
      .join(affectedHashes, Seq("content_hash"), "left_semi")
    val touched = touchedOld.unionByName(gatedChurn)
    val touchedReps = touched.groupBy("content_hash")
      .agg(min("doc_id").as("rep_id"))
    // the gated DELTA: affected groups re-elected — churn-sized ckpt
    val gatedDelta = trunc(
      touched.join(touchedReps, "content_hash")
        .withColumn("is_rep", col("doc_id") === col("rep_id"))
        .drop("rep_id")
        .select("doc_id", "content_hash", "n_tokens", "quality",
          "detected_lang", "is_rep"),
      "inc_gated_delta")
    val gatedV2 = state.gated
      .join(diffIds, Seq("doc_id"), "left_anti")
      .join(affectedHashes, Seq("content_hash"), "left_anti")
      .select("doc_id", "content_hash", "n_tokens", "quality",
        "detected_lang", "is_rep")
      .unionByName(gatedDelta)
    // 3. survivor-set delta, read off the gated delta alone (survivors
    // can only change inside affected groups): plus = newly-rep docs
    // whose signature must enter the index (new/changed text, or
    // promoted); minus = old survivors whose signature must leave
    // (removed/changed, or demoted inside an affected group)
    val oldSurvIds = state.gated.filter(col("is_rep")).select("doc_id")
    val plus = trunc(
      gatedDelta.filter(col("is_rep")).select("doc_id")
        .join(oldSurvIds.join(diffIds, Seq("doc_id"), "left_anti"),
          Seq("doc_id"), "left_anti"),
      "inc_plus")
    val minus = trunc(
      oldSurvIds.join(diffIds, Seq("doc_id"), "left_semi")
        .union(oldSurvIds.join(
          gatedDelta.filter(!col("is_rep")).select("doc_id"),
          Seq("doc_id"), "left_semi"))
        .distinct(),
      "inc_minus")
    // 4. signature index delta + affected band buckets
    val plusSigs = trunc(
      DedupOps.historySignatureTable(v2docs.join(plus, "doc_id")),
      "inc_plus_sigs")
    // cached, not checkpointed: three consumers (touched-band build +
    // both verify sides) would each re-scan the base otherwise; cache
    // materializes once and keeps the delta-state lineage intact
    val sigsV2 = materializeScoped(
      state.sigs.join(minus, Seq("doc_id"), "left_anti")
        .unionByName(plusSigs),
      "inc_sigs_v2")
    val affectedBuckets = trunc(
      DedupOps.bandRows(
        plusSigs.unionByName(state.sigs.join(minus, "doc_id")
          .select(plusSigs.columns.map(col): _*)))
        .select("band_idx", "band_sig").distinct(),
      "inc_affected_buckets")
    // 5. candidates: affected buckets re-rank + re-pair from the v2
    // membership (this replays cap eviction/back-fill exactly);
    // unaffected buckets ride the base with provenance
    val touchedBands = DedupOps.bandRows(sigsV2)
      .join(affectedBuckets, Seq("band_idx", "band_sig"), "left_semi")
    val cappedTouched =
      DedupOps.capBuckets(touchedBands, DedupOps.BandBucketCap)
    val ca = cappedTouched.alias("ca")
    val cb = cappedTouched.alias("cb")
    val candsTouched = trunc(ca.join(cb,
        col("ca.band_idx") === col("cb.band_idx") &&
          col("ca.band_sig") === col("cb.band_sig") &&
          col("ca.doc_id") < col("cb.doc_id"))
      .select(col("ca.band_idx").as("band_idx"),
        col("ca.band_sig").as("band_sig"),
        col("ca.doc_id").as("doc_a"), col("cb.doc_id").as("doc_b")),
      "inc_cands_touched")
    val candsV2 = state.cands
      .join(affectedBuckets, Seq("band_idx", "band_sig"), "left_anti")
      .unionByName(candsTouched)
    // 6. verdicts: drop any touching churn (stale text), re-verify only
    // touched-bucket pairs without a kept verdict
    val verdictsKept = state.verdicts
      .join(diffIds.withColumnRenamed("doc_id", "doc_a"), Seq("doc_a"), "left_anti")
      .join(diffIds.withColumnRenamed("doc_id", "doc_b"), Seq("doc_b"), "left_anti")
      .select("doc_a", "doc_b", "jaccard", "is_dup")
    val freshVerdicts = trunc(
      DedupOps.verifyPairs(
        candsTouched.select("doc_a", "doc_b").distinct()
          .join(verdictsKept.select("doc_a", "doc_b"),
            Seq("doc_a", "doc_b"), "left_anti"),
        sigsV2),
      "inc_verdicts_fresh")
    val verdictsV2 = verdictsKept.unionByName(freshVerdicts)
    // 7. clean(v2) via the shared state→clean projection
    val next = CleanState(gatedV2, sigsV2, candsV2, verdictsV2)
    (cleanFromState(next), next)
  }

  /** Churn-key bound above which [[cleanCorpusIncrementalPruned]] falls
    * back to the generic join-driven patch: the pruned path drives every
    * probe through DRIVER-COLLECTED literal key sets, which is only the
    * right trade while those sets are plan-literal-sized.
    *
    * Driver memory model (why 200k is safe on a default driver, and
    * what a 100 TB deployment tunes against): the patch holds the diff
    * rows, the gated delta and the old-row probe on the driver at once —
    * ~5 sets of ≤churn (Long, flag) tuples ≈ churn × 5 × 48 B ≈ 50 MB
    * at the default. PAIR collects are governed separately by
    * [[PatchMaxPairCollect]] (pairs ≈ 32 B each + the kept-set hash
    * overhead ≈ 3×), because pair count amplifies beyond churn keys by
    * bands × [[DedupOps.BandBucketCap]]. Override per deployment via
    * `spark.graft.patch.maxChurnKeys` ([[PatchMaxChurnConf]]) — a 4 GB
    * driver might push 1M keys; a shared 1 GB driver should drop it.
    */
  val PrunedPatchMaxChurn = 200000

  /** Session-conf override for [[PrunedPatchMaxChurn]] — when set it
    * takes precedence over the method default (NOT over an explicit
    * caller argument, which wins as the more specific intent).
    */
  val PatchMaxChurnConf = "spark.graft.patch.maxChurnKeys"

  /** Candidate-PAIR bound for the step-6 driver collects of the InSet
    * patch (`cand_pairs`/`kept_probe`): at 2M pairs the collected array
    * is ~64 MB and the kept-set ~3× that — comfortably driver-sized —
    * while the adversarial regime (churn concentrated in near-cap band
    * buckets: up to churn × bands × cap pairs, i.e. multi-GB) falls to
    * the distributed anti-join instead. Override via
    * `spark.graft.patch.maxPairCollect` ([[PatchMaxPairCollectConf]]).
    */
  val PatchMaxPairCollect = 2000000L
  val PatchMaxPairCollectConf = "spark.graft.patch.maxPairCollect"

  private def patchMaxPairCollect(
      spark: org.apache.spark.sql.SparkSession): Long =
    spark.conf.getOption(PatchMaxPairCollectConf).map(_.toLong)
      .getOrElse(PatchMaxPairCollect)

  /** The BUCKET-PRUNED daily patch — [[cleanCorpusIncremental]] driven
    * from the PERSISTED bucketed state ([[writeCleanState]]) with every
    * churn-keyed probe expressed as a driver-collected literal key set
    * instead of a join. Identical output by construction (same affected-
    * hash / affected-bucket / plus-minus set algebra, same shared
    * [[capBuckets]]/[[DedupOps.verifyPairs]]/[[cleanFromState]] kernels —
    * spec-pinned ≡ from-scratch [[cleanCorpus]](v2)); what changes is the
    * PLAN:
    *
    *   - churn/affected sets are `InSet` predicates ON THE BUCKET COLUMN
    *     of each face (gated by content_hash, sigs by doc_id, bands by
    *     band_sig, verdicts by doc_a), so the scans BUCKET-PRUNE —
    *     `SelectedBucketsCount: k out of n` in the executed plan, I/O ∝
    *     touched buckets, not corpus;
    *   - the band-row projection reads the persisted `_bands` face
    *     filtered to affected sigs instead of re-exploding every
    *     survivor (the one full-width pass of the generic path, gone);
    *   - the verify join's signature side prunes to the candidate doc
    *     ids before the join, so the signature ARRAYS read from disk are
    *     candidate-proportional;
    *   - zero churn-side shuffles: literal filters replace every
    *     semi/anti-join the generic path pays a broadcast or exchange
    *     for, and the patch runs ~6 bounded jobs instead of ~12
    *     checkpoint rounds.
    *
    * The lazy v2 faces (base minus churn, plus delta) remain full
    * bucketed scans — they are the next daily WRITE, corpus-proportional
    * by nature and priced at the daily cadence.
    *
    * Falls back to the generic patch when the diff exceeds
    * `maxChurnKeys` (driver-literal sets stop being the right trade).
    */
  /** Literal-set predicates with the empty-set edge pinned (an empty
    * literal list must read as FALSE, not lean on In(empty) behavior).
    */
  private def inIds(c: Column, ids: Seq[Long]): Column =
    if (ids.isEmpty) lit(false) else c.isInCollection(ids)
  private def inStrs(c: Column, ks: Seq[String]): Column =
    if (ks.isEmpty) lit(false) else c.isInCollection(ks)

  /** Key-set size above which a literal InSet stops being the right plan
    * and the probe becomes a broadcast semi/anti-join instead: giant
    * literal sets are re-canonicalized by every AQE stage (measured at
    * x32: a ~25k-literal predicate pushed single probe jobs to ~9 s of
    * DRIVER time), while a LocalRelation join side carries the keys as
    * data. Below the threshold the literal form wins THREE ways: no
    * join at all, parquet predicate pushdown (row-group skipping on the
    * probe column — a join side pushes nothing, so e.g. the churn
    * re-gate would scan every text row), and — on the bucketed state
    * faces — BUCKET PRUNING (`SelectedBucketsCount`), which a join
    * predicate never triggers. 8192 sits under the measured
    * pathological regime (~25k literals) with margin.
    */
  val InSetMaxKeys = 1024

  /** Wider literal bound for the CORPUS-SCAN probes (the churn re-gate
    * and the plus-doc signature source): those plans are single-stage
    * scan→filter→project jobs where the literal set pushes into the
    * parquet reader (row-group skipping over the TEXT column's table —
    * a join side pushes nothing and forces a full text scan), and with
    * no AQE stage chain behind them the per-stage literal
    * re-canonicalization cost that caps [[InSetMaxKeys]] never
    * multiplies.
    */
  val LiteralPushdownMaxKeys = 8192

  /** Chunk ceiling for [[keepIdsPushdown]]: a key set up to
    * chunks × [[LiteralPushdownMaxKeys]] becomes a UNION of ≤8192-literal
    * filtered scans instead of falling straight to the broadcast join
    * (round 14 — the x512 cells showed the 12,489-key churn re-gate
    * crossing the 8192 bound and paying one FULL text scan, the
    * dominant corpus term in the fixed-churn patch slope). The chunks
    * are contiguous runs of the SORTED key set, so each leg's
    * parquet-pushed range predicate (min ≤ c ≤ max — what a >10-literal
    * In pushes down) is tight: row groups outside the run's span skip,
    * and total I/O stays churn-shaped at any corpus size. One plan, one
    * job — the legs share the cached relation listing. Beyond the
    * ceiling the leg count itself becomes the overhead and the
    * broadcast-join form wins again.
    */
  val LiteralPushdownMaxChunks = 8

  private[graft] def keepIdsPushdown(df: DataFrame, c: String,
      ids: Seq[Long],
      maxLiteral: Int = LiteralPushdownMaxKeys): DataFrame =
    if (ids.isEmpty) df.filter(lit(false))
    else if (ids.size <= maxLiteral)
      df.filter(inIds(col(c), ids))
    else if (ids.size <= maxLiteral.toLong * LiteralPushdownMaxChunks)
      ids.sorted.grouped(maxLiteral)
        .map(chunk => df.filter(inIds(col(c), chunk)))
        .reduce(_.unionByName(_))
    else df.join(keySide(df.sparkSession, ids,
      org.apache.spark.sql.Encoders.scalaLong),
      df(c) === col("_graft_k"), "left_semi")

  private def keySide[T](spark: org.apache.spark.sql.SparkSession,
      keys: Seq[T], enc: org.apache.spark.sql.Encoder[T]): DataFrame =
    broadcast(spark.createDataset(keys)(enc).toDF("_graft_k"))

  private def keepIds(df: DataFrame, c: String, ids: Seq[Long]): DataFrame =
    if (ids.isEmpty) df.filter(lit(false))
    else if (ids.size <= InSetMaxKeys) df.filter(inIds(col(c), ids))
    else df.join(keySide(df.sparkSession, ids,
      org.apache.spark.sql.Encoders.scalaLong),
      df(c) === col("_graft_k"), "left_semi")

  private def dropIds(df: DataFrame, c: String, ids: Seq[Long]): DataFrame =
    if (ids.isEmpty) df
    else if (ids.size <= InSetMaxKeys) df.filter(!inIds(col(c), ids))
    else df.join(keySide(df.sparkSession, ids,
      org.apache.spark.sql.Encoders.scalaLong),
      df(c) === col("_graft_k"), "left_anti")

  private def keepStrs(df: DataFrame, c: String, ks: Seq[String]): DataFrame =
    if (ks.isEmpty) df.filter(lit(false))
    else if (ks.size <= InSetMaxKeys) df.filter(inStrs(col(c), ks))
    else df.join(keySide(df.sparkSession, ks,
      org.apache.spark.sql.Encoders.STRING),
      df(c) === col("_graft_k"), "left_semi")

  private def dropStrs(df: DataFrame, c: String, ks: Seq[String]): DataFrame =
    if (ks.isEmpty) df
    else if (ks.size <= InSetMaxKeys) df.filter(!inStrs(col(c), ks))
    else df.join(keySide(df.sparkSession, ks,
      org.apache.spark.sql.Encoders.STRING),
      df(c) === col("_graft_k"), "left_anti")

  /** (band_idx, band_sig) membership — semi/anti against the affected
    * bucket list. Literal form: band_sig InSet FIRST (the bucket-pruning
    * predicate on the bands/cands faces), exact-pair refinement second.
    */
  private def pairSide(spark: org.apache.spark.sql.SparkSession,
      pairs: Seq[(Int, String)]): DataFrame =
    broadcast(spark.createDataset(pairs)(
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaInt,
        org.apache.spark.sql.Encoders.STRING))
      .toDF("_graft_bi", "_graft_bs"))

  private def keepPairs(df: DataFrame, pairs: Seq[(Int, String)]): DataFrame =
    if (pairs.isEmpty) df.filter(lit(false))
    else if (pairs.size <= InSetMaxKeys)
      df.filter(inStrs(col("band_sig"), pairs.map(_._2).distinct) &&
        concat_ws("|", col("band_idx"), col("band_sig"))
          .isInCollection(pairs.map { case (i, g) => s"$i|$g" }))
    else df.join(pairSide(df.sparkSession, pairs),
      df("band_idx") === col("_graft_bi") &&
        df("band_sig") === col("_graft_bs"), "left_semi")

  private def dropPairs(df: DataFrame, pairs: Seq[(Int, String)]): DataFrame =
    if (pairs.isEmpty) df
    else if (pairs.size <= InSetMaxKeys)
      df.filter(!(inStrs(col("band_sig"), pairs.map(_._2).distinct) &&
        concat_ws("|", col("band_idx"), col("band_sig"))
          .isInCollection(pairs.map { case (i, g) => s"$i|$g" })))
    else df.join(pairSide(df.sparkSession, pairs),
      df("band_idx") === col("_graft_bi") &&
        df("band_sig") === col("_graft_bs"), "left_anti")

  def cleanCorpusIncrementalPruned(
      spark: org.apache.spark.sql.SparkSession, v2docs: DataFrame,
      statePrefix: String, diff: DataFrame,
      maxChurnKeys: Int = PrunedPatchMaxChurn): (DataFrame, CleanState) =
    cleanCorpusIncrementalInSet(spark, v2docs,
      readCleanState(spark, statePrefix), readBands(spark, statePrefix),
      diff, maxChurnKeys)

  /** The set-driven patch core over state faces IN HAND — shared by
    * [[cleanCorpusIncrementalPruned]] (bucketed disk state — where
    * literal-sized probes additionally BUCKET-PRUNE the scans) and
    * in-memory callers. Every churn-derived key set is collected to the
    * driver once; each probe is then a literal InSet (small sets — no
    * join, bucket pruning fires) or a broadcast semi/anti-join against a
    * LocalRelation key side (large sets — keys ride as DATA, not as
    * plan-tree literals AQE re-canonicalizes per stage). Versus the
    * generic join path: no 12-round checkpoint chain, the persisted
    * `_bands` face replaces the full band re-projection, and the verify
    * join's signature side prunes to candidate doc ids before reading
    * any array column.
    */
  def cleanCorpusIncrementalInSet(
      spark: org.apache.spark.sql.SparkSession, v2docs: DataFrame,
      st: CleanState, bandsV1: DataFrame, diff: DataFrame,
      maxChurnKeys: Int = PrunedPatchMaxChurn): (DataFrame, CleanState) = {
    // bucket pruning only fires on a BUCKETED scan, and Spark's
    // DisableUnnecessaryBucketedScan rule turns bucketed scans off for
    // filter-only plans (it credits interesting-partitioning consumers,
    // not bucket-filter pruning) — pin it off for the probe collects
    // below, restore after (the returned lazy faces are full scans
    // either way)
    val AutoScanKey = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val autoScanPrev = spark.conf.getOption(AutoScanKey)
    spark.conf.set(AutoScanKey, "false")
    // deployment tuning: the session conf overrides the compiled-in
    // default (a caller passing an explicit bound keeps it)
    val churnBound =
      if (maxChurnKeys != PrunedPatchMaxChurn) maxChurnKeys
      else spark.conf.getOption(PatchMaxChurnConf).map(_.toInt)
        .getOrElse(PrunedPatchMaxChurn)
    try cleanCorpusIncrementalInSetBody(spark, v2docs, st, bandsV1, diff,
      churnBound)
    finally autoScanPrev match {
      case Some(v) => spark.conf.set(AutoScanKey, v)
      case None => spark.conf.unset(AutoScanKey)
    }
  }

  private def cleanCorpusIncrementalInSetBody(
      spark: org.apache.spark.sql.SparkSession, v2docs: DataFrame,
      st: CleanState, bandsV1: DataFrame, diff: DataFrame,
      maxChurnKeys: Int): (DataFrame, CleanState) = {
    import spark.implicits._
    // each probe is a `patch.*` stage of graft.obs.Stages: the first
    // question about any slow patch is WHICH probe paid
    val diffRows = Stages.time("patch.diff_collect")(
      diff.select("doc_id", "status").as[(Long, String)].collect())
    if (diffRows.length > maxChurnKeys)
      return cleanCorpusIncremental(v2docs, st, diff)
    val diffIds = diffRows.map(_._1).toSeq
    val churnNewIds = diffRows.collect {
      case (id, s) if s == "added" || s == "changed" => id
    }.toSeq

    // 1. re-gate the churn (per-doc pure) — churn-sized scan of v2.
    // All four probe materializations below go to the caller's
    // Scratch.scope and honor [[DedupOps.CheckpointDirConf]] — a
    // per-micro-batch caller would otherwise accumulate one generation
    // of cache blocks per batch forever.
    val toks = TextOps.toksOf(v2docs)
    val (nTok, quality) = TextOps.qualityColsWith(col("text"), toks)
    val gatedChurn = DedupOps.materializeScoped(
      keepIdsPushdown(v2docs, "doc_id", churnNewIds)
        .withColumn("n_tokens", nTok)
        .withColumn("quality", quality)
        .withColumn("detected_lang", TextOps.detectLangWith(toks))
        .filter(col("quality") >= QualityThreshold &&
          col("detected_lang").isin(AcceptedLangs: _*))
        .select(col("doc_id"),
          DedupOps.normalizedContentHash.as("content_hash"),
          col("n_tokens"), col("quality"), col("detected_lang"),
          lit(false).as("is_rep")),
      "inset_gated_churn")

    // 2. affected hash groups: old rows of churned docs (ONE doc-id
    // probe of the gated face — hash AND old survivor bit together, so
    // no separate survivor probe later) ∪ the churn's new hashes
    val oldRows = Stages.time("patch.old_rows")(
      keepIds(st.gated, "doc_id", diffIds)
        .select("doc_id", "content_hash", "is_rep")
        .as[(Long, String, Boolean)].collect())
    val newHashes = Stages.time("patch.new_hashes")(
      gatedChurn.select("content_hash").as[String].collect())
    val affHashes = (oldRows.map(_._2) ++ newHashes).distinct.toSeq

    // touched groups: probe of gated keyed by its BUCKET column
    // content_hash — literal-sized churn bucket-prunes the scan
    val touched = dropIds(
      keepStrs(st.gated, "content_hash", affHashes), "doc_id", diffIds)
      .unionByName(gatedChurn)
    val touchedReps = touched.groupBy("content_hash")
      .agg(min("doc_id").as("rep_id"))
    // `was_rep` rides the delta so the survivor-membership probe needs
    // no extra pass: an affected-group member's OLD survivor bit is
    // st.gated's is_rep (false for churn rows — their old bit, if any,
    // came back on the oldRows probe)
    val gatedDelta = DedupOps.materializeScoped(
      touched
        .withColumn("was_rep",
          when(col("is_rep").isNull, lit(false)).otherwise(col("is_rep")))
        .drop("is_rep")
        .join(touchedReps, "content_hash")
        .withColumn("is_rep", col("doc_id") === col("rep_id"))
        .drop("rep_id")
        .select("doc_id", "content_hash", "n_tokens", "quality",
          "detected_lang", "is_rep", "was_rep"),
      "inset_gated_delta")

    // 3. survivor-set delta, all driver-side set algebra over the ONE
    // churn-sized delta collect
    val deltaRows = Stages.time("patch.delta_collect")(
      gatedDelta.select("doc_id", "is_rep", "was_rep")
        .as[(Long, Boolean, Boolean)].collect())
    val repIds = deltaRows.collect { case (id, true, _) => id }
    val nonRepIds = deltaRows.collect { case (id, false, _) => id }
    val oldSurvAmong = (deltaRows.collect { case (id, _, true) => id } ++
      oldRows.collect { case (id, _, true) => id }).toSet
    val diffSet = diffIds.toSet
    val plusSet = repIds.filter(id =>
      !(oldSurvAmong.contains(id) && !diffSet.contains(id))).toSeq
    val minusSet = (diffIds.filter(oldSurvAmong.contains) ++
      nonRepIds.filter(oldSurvAmong.contains)).distinct

    // 4. signature delta + affected band buckets (plus docs' fresh band
    // rows; minus docs' rows off the persisted bands face)
    val plusSigs = DedupOps.materializeScoped(
      DedupOps.historySignatureTable(
        keepIdsPushdown(v2docs, "doc_id", plusSet)),
      "inset_plus_sigs")
    val affPairs = Stages.time("patch.affected_bands")(DedupOps.bandRows(plusSigs)
      .select("band_idx", "band_sig")
      .unionByName(keepIds(bandsV1, "doc_id", minusSet)
        .select("band_idx", "band_sig"))
      .distinct()
      .as[(Int, String)].collect()).toSeq

    // 5. candidates: affected buckets re-rank from v2 membership —
    // probe of the bands face keyed by its bucket column band_sig
    val touchedBands = dropIds(
      keepPairs(bandsV1, affPairs), "doc_id", minusSet)
      .select("doc_id", "band_idx", "band_sig")
      .unionByName(keepPairs(DedupOps.bandRows(plusSigs), affPairs)
        .select("doc_id", "band_idx", "band_sig"))
    val cappedTouched =
      DedupOps.capBuckets(touchedBands, DedupOps.BandBucketCap)
    val ca = cappedTouched.alias("ca")
    val cb = cappedTouched.alias("cb")
    val candsTouched = DedupOps.materializeScoped(
      ca.join(cb,
          col("ca.band_idx") === col("cb.band_idx") &&
            col("ca.band_sig") === col("cb.band_sig") &&
            col("ca.doc_id") < col("cb.doc_id"))
        .select(col("ca.band_idx").as("band_idx"),
          col("ca.band_sig").as("band_sig"),
          col("ca.doc_id").as("doc_a"), col("cb.doc_id").as("doc_b")),
      "inset_cands_touched")

    // 6. verdicts: fresh pairs = touched-bucket pairs without a kept
    // verdict. The churn-key guard above bounds KEYS, not PAIRS: pair
    // count is churn × bands × BandBucketCap-amplified, so adversarial
    // churn concentrated in near-cap buckets can legally produce tens
    // of millions of pairs — a multi-GB driver array — without tripping
    // maxChurnKeys. A count-probe gates the two pair collects
    // (candsTouched is already materialized, so the count is one cheap
    // agg over cached partitions); above [[patchMaxPairCollect]] the
    // fresh-pair anti-join and the signature pruning stay DISTRIBUTED —
    // the generic core's step-6 shape ([[cleanCorpusIncremental]]) with
    // the verdict scan still doc_a-pruned to candidates via semi-join.
    val nCandPairs = Stages.time("patch.cand_count")(candsTouched.count())
    val (freshPairsDf, sigsForVerify) =
      if (nCandPairs <= patchMaxPairCollect(spark)) {
        // collected regime: literal probes bucket-prune the verdict and
        // signature faces; the kept probe keys the verdict face by its
        // bucket column doc_a, and the verify signature side prunes to
        // candidate doc ids before reading any array column
        val candPairs = Stages.time("patch.cand_pairs")(
          candsTouched.select("doc_a", "doc_b").distinct()
            .as[(Long, Long)].collect())
        val candA = candPairs.map(_._1).distinct.toSeq
        val candDocIds = (candPairs.map(_._1) ++ candPairs.map(_._2))
          .distinct.toSeq
        val keptAmongCand = Stages.time("patch.kept_probe")(
          dropIds(dropIds(keepIds(st.verdicts, "doc_a", candA),
            "doc_a", diffIds), "doc_b", diffIds)
            .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet)
        val freshPairs = candPairs.filter(p => !keptAmongCand.contains(p))
        (freshPairs.toSeq.toDF("doc_a", "doc_b"),
          dropIds(keepIds(st.sigs, "doc_id", candDocIds),
            "doc_id", minusSet)
            .unionByName(keepIds(plusSigs, "doc_id", candDocIds)))
      } else Stages.time("patch.fresh_pairs_distributed") {
        val candDistinct = candsTouched.select("doc_a", "doc_b").distinct()
        val keptVerdicts = dropIds(dropIds(
            st.verdicts.join(candDistinct.select("doc_a").distinct(),
              Seq("doc_a"), "left_semi"),
            "doc_a", diffIds), "doc_b", diffIds)
          .select("doc_a", "doc_b")
        val candIds = candsTouched.select(col("doc_a").as("doc_id"))
          .unionByName(candsTouched.select(col("doc_b").as("doc_id")))
          .distinct()
        (candDistinct.join(keptVerdicts, Seq("doc_a", "doc_b"),
            "left_anti"),
          dropIds(st.sigs.join(candIds, Seq("doc_id"), "left_semi"),
            "doc_id", minusSet)
            .unionByName(
              plusSigs.join(candIds, Seq("doc_id"), "left_semi")))
      }
    val freshVerdicts = DedupOps.verifyPairs(freshPairsDf, sigsForVerify)

    // 7. the lazy v2 faces (the next daily write) + the shared
    // state→clean projection
    val gatedV2 = dropStrs(dropIds(st.gated, "doc_id", diffIds),
      "content_hash", affHashes)
      .unionByName(gatedDelta.drop("was_rep"))
    val sigsV2 = dropIds(st.sigs, "doc_id", minusSet)
      .unionByName(plusSigs)
    val candsV2 = dropPairs(st.cands, affPairs)
      .unionByName(candsTouched)
    val verdictsV2 = dropIds(dropIds(st.verdicts, "doc_a", diffIds),
      "doc_b", diffIds)
      .select("doc_a", "doc_b", "jaccard", "is_dup")
      .unionByName(freshVerdicts)
    val next = CleanState(gatedV2, sigsV2, candsV2, verdictsV2)
    (cleanFromState(next), next)
  }


  // -------------------------------- corpus_clean_incremental_decontam

  /** [[CleanState]] extended to the FULL published composition
    * ([[cleanCorpusDecontam]]): the contamination hit list, the
    * benchmark-doc membership, and the frozen benchmark gram set.
    */
  final case class DecontamState(clean: CleanState, contamIds: DataFrame,
      benchIds: DataFrame, benchGrams: DataFrame)

  def cleanStateDecontam(docs: DataFrame,
      gramWidth: Int = PretrainOps.DecontamGramProd): DecontamState = {
    val runId = java.util.UUID.randomUUID().toString.take(8)
    // the returned state faces read these, so they go to the caller's
    // Scratch.scope like cleanState's own rounds
    def trunc(df: DataFrame, name: String): DataFrame =
      Scratch.keep(DedupOps.truncateIter(df, s"decontamstate-$runId", name))
    // the three decontam faces are INDEPENDENT of the clean-state build
    // (different pass over the same docs), but each side is a chain of
    // eager checkpoint rounds — overlap them on a second driver thread
    // (the [[SimilarityOps.communityRepresentativesOn]] discipline);
    // cleanState stays on the caller thread
    val ((contamIds, benchIds, benchGrams), cs) = Scratch.overlap {
      (trunc(PretrainOps.decontaminate(docs, gramWidth)
          .select("doc_id").distinct(), "contam_ids"),
        trunc(docs.filter(col("source") === PretrainOps.BenchmarkSource)
          .select("doc_id"), "bench_ids"),
        trunc(PretrainOps.benchGramSetOf(docs, gramWidth), "bench_grams"))
    }(cleanState(docs))
    DecontamState(cs, contamIds, benchIds, benchGrams)
  }

  /** The FULL published pipeline patched — [[cleanCorpusIncremental]]
    * plus the decontamination stage. Contamination is per-doc pure
    * GIVEN the benchmark gram set, so while the benchmark side is
    * untouched by the churn (the overwhelmingly common case — eval
    * suites are static between corpus versions) only churned train
    * docs re-check, against the FROZEN state grams, and the hit list
    * rides base+delta like every other face. When the churn TOUCHES a
    * benchmark doc the gram set itself moves, and grams can LEAVE it —
    * un-contaminating arbitrary unchanged train docs — so exactness
    * demands a full hit-list recompute (one broadcast-gram pass over
    * the corpus, no LSH, no gates: still far below a full rebuild);
    * surgical gram-level patching would need the gram→docs inverted
    * index, which is the containment index's cost, not a daily
    * patch's. The O(1) bench-churn decision is driver-side (the
    * k-means-stats pattern).
    */
  def cleanCorpusIncrementalDecontam(v2docs: DataFrame,
      state: DecontamState, diff: DataFrame,
      gramWidth: Int = PretrainOps.DecontamGramProd)
      : (DataFrame, DecontamState) =
    decontamPatchBody(v2docs, state, diff, gramWidth,
      cleanCorpusIncremental(v2docs, state.clean, diff))

  /** Persist a [[DecontamState]]: the [[CleanState]] via
    * [[writeCleanState]] (bucketed), plus the three decontam faces as
    * plain parquet — id lists and the frozen benchmark gram set, all
    * broadcast-consumed by the patch, so bucketing buys nothing there.
    */
  def writeDecontamState(state: DecontamState, tablePrefix: String,
      dir: String, buckets: Int = 8): Unit = {
    writeCleanState(state.clean, tablePrefix, dir, buckets)
    state.contamIds.write.mode("overwrite").parquet(s"$dir/contam_ids")
    state.benchIds.write.mode("overwrite").parquet(s"$dir/bench_ids")
    state.benchGrams.write.mode("overwrite").parquet(s"$dir/bench_grams")
  }

  def readDecontamState(spark: org.apache.spark.sql.SparkSession,
      tablePrefix: String, dir: String): DecontamState =
    DecontamState(
      readCleanState(spark, tablePrefix),
      spark.read.parquet(s"$dir/contam_ids"),
      spark.read.parquet(s"$dir/bench_ids"),
      spark.read.parquet(s"$dir/bench_grams"))

  /** The decontam-inclusive DAILY patch from PERSISTED state — the full
    * published composition ([[cleanCorpusDecontam]]) with the clean core
    * running the bucket-pruned InSet path ([[cleanCorpusIncrementalPruned]])
    * instead of the generic join chain, and the decontam faces read from
    * disk. Identical output to [[cleanCorpusIncrementalDecontam]] over
    * the same state by construction (one shared [[decontamPatchBody]]).
    */
  def cleanCorpusIncrementalDecontamPruned(
      spark: org.apache.spark.sql.SparkSession, v2docs: DataFrame,
      tablePrefix: String, dir: String, diff: DataFrame,
      gramWidth: Int = PretrainOps.DecontamGramProd,
      maxChurnKeys: Int = PrunedPatchMaxChurn): (DataFrame, DecontamState) = {
    val state = readDecontamState(spark, tablePrefix, dir)
    decontamPatchBody(v2docs, state, diff, gramWidth,
      cleanCorpusIncrementalPruned(spark, v2docs, tablePrefix, diff,
        maxChurnKeys))
  }

  private def decontamPatchBody(v2docs: DataFrame, state: DecontamState,
      diff: DataFrame, gramWidth: Int,
      cleanCore: => (DataFrame, CleanState)): (DataFrame, DecontamState) = {
    import DedupOps.{materialize, materializeScoped}
    val runId = java.util.UUID.randomUUID().toString.take(8)
    def trunc(df: DataFrame, name: String): DataFrame =
      Scratch.keep(DedupOps.truncateIter(df, s"decontaminc-$runId", name))
    val (clean, nextClean) = cleanCore
    val diffM = materialize(diff, "incd_diff")
    val diffIds = diffM.select("doc_id")
    val churnNewIds = diffM
      .filter(col("status").isin("added", "changed")).select("doc_id")
    // churn docs through the InSet pushdown discipline (round 13: the
    // plain join here cost THREE full corpus text scans per patch — one
    // per consumer below — putting a corpus term into the decontam
    // leg's slope; x512 measured 35.4 s vs 15.9 at x128 on identical
    // churn). Literal-sized churn pushes into the parquet scan;
    // above the InSet bound the join leg still runs, but ONE scratch
    // materialization feeds all three consumers either way.
    val churnIdProbe = diffM
      .filter(col("status").isin("added", "changed")).select("doc_id")
      .limit(PrunedPatchMaxChurn + 1).collect().map(_.getLong(0))
    val churnDocs = materializeScoped(
      if (churnIdProbe.length <= PrunedPatchMaxChurn)
        keepIdsPushdown(v2docs, "doc_id",
          scala.collection.immutable.ArraySeq.unsafeWrapArray(churnIdProbe))
      else v2docs.join(churnNewIds, "doc_id"),
      "decontam_churn_docs")
    val benchChurned = state.benchIds
      .join(diffIds, Seq("doc_id"), "left_semi")
      .unionByName(churnDocs
        .filter(col("source") === PretrainOps.BenchmarkSource)
        .select("doc_id"))
      .head(1).nonEmpty
    val benchIdsV2 = trunc(
      state.benchIds.join(diffIds, Seq("doc_id"), "left_anti")
        .unionByName(churnDocs
          .filter(col("source") === PretrainOps.BenchmarkSource)
          .select("doc_id")),
      "bench_ids_v2")
    val (contamV2, benchGramsV2) =
      if (benchChurned) (
        trunc(PretrainOps.decontaminate(v2docs, gramWidth)
          .select("doc_id").distinct(), "contam_ids_v2"),
        trunc(PretrainOps.benchGramSetOf(v2docs, gramWidth), "bench_grams_v2"))
      else (
        state.contamIds.join(diffIds, Seq("doc_id"), "left_anti")
          .unionByName(trunc(
            PretrainOps.contaminatedAgainst(churnDocs, state.benchGrams,
              gramWidth), "contam_delta")),
        state.benchGrams)
    (clean.join(contamV2, Seq("doc_id"), "left_anti"),
      DecontamState(nextClean, contamV2, benchIdsV2, benchGramsV2))
  }

  /** One incremental oracle key as its two halves over one pair of
    * fixture versions: `build`, the from-scratch v1 state a daily
    * deployment pays ONCE, and `patch`, the churn-proportional daily work
    * (diff + patch against that state). [[run]] composes them — the key's
    * cell deliberately prices both, since the from-scratch oracle hash IS
    * the patch ≡ rebuild proof — and [[walls]] times each half for the
    * bench's staged split (`v1_build` / `patch`, bench observability, not
    * an operator), so the sweep's slowest cells stop reading as "the
    * patch is slow" when most of each wall is the deliberate rebuild.
    */
  final class IncrementalKey[S](build: => S, patch: S => DataFrame) {
    def run: DataFrame = patch(build)
    def walls: Map[String, Double] = {
      val (st, b) = Stages.measure(build)
      val (_, p) = Stages.measure(
        patch(st).write.format("noop").mode("overwrite").save())
      Map("v1_build" -> b.wallSec, "patch" -> p.wallSec)
    }
  }

  /** Oracle key for the decontam-inclusive patch: the
    * [[corpusDiffKey]] churn shape restricted to TRAIN docs (benchmark
    * docs ride both versions unchanged — the static-eval-suite case,
    * so the key exercises the churn-only patch path; the bench-churn
    * full-redo path is spec-driven). The DuckDB twin runs the full
    * [[sqlCleanCorpusDecontam]] on v2 from scratch.
    */
  def cleanIncrementalDecontamKey(docs: DataFrame): IncrementalKey[DecontamState] = {
    val isBench = col("source") === PretrainOps.BenchmarkSource
    val v1 = docs.filter(col("doc_id") % 7 =!= 0 || isBench)
    val v2 = docs.filter(col("doc_id") % 5 =!= 0 || isBench)
      .withColumn("text",
        when(col("doc_id") % 11 === 0 && !isBench, upper(col("text")))
          .otherwise(col("text")))
    new IncrementalKey(cleanStateDecontam(v1), (st: DecontamState) =>
      cleanCorpusIncrementalDecontam(v2, st, corpusDiff(v1, v2))._1)
  }

  def sqlCleanIncrementalDecontam: String =
    "WITH v2docs AS (SELECT * REPLACE (CASE WHEN doc_id % 11 = 0 " +
      s"AND source <> '${PretrainOps.BenchmarkSource}' " +
      "THEN upper(text) ELSE text END AS text) " +
      "FROM documents WHERE doc_id % 5 <> 0 " +
      s"OR source = '${PretrainOps.BenchmarkSource}'),\n" +
      sqlCleanCorpusDecontam.stripPrefix("WITH ")
        .replace("FROM documents", "FROM v2docs")

  /** The oracle key: the [[corpusDiffKey]] fixture versions (v1 drops
    * doc_id % 7 == 0; v2 drops doc_id % 5 == 0 and upper-cases
    * doc_id % 11 == 0), cleaned INCREMENTALLY — full v1 state build,
    * diff, patch — while the DuckDB twin cleans v2 from scratch.
    * Hash-exact agreement is the equivalence proof the operator exists
    * for: patch(clean(v1), diff(v1→v2)) ≡ clean(v2).
    */
  def cleanIncrementalKey(docs: DataFrame): IncrementalKey[CleanState] = {
    val v1 = docs.filter(col("doc_id") % 7 =!= 0)
    val v2 = docs.filter(col("doc_id") % 5 =!= 0)
      .withColumn("text",
        when(col("doc_id") % 11 === 0, upper(col("text")))
          .otherwise(col("text")))
    // generic join-driven patch: the key's fixture churn is ~40% of the
    // corpus, where the InSet core's driver-set probes cost more than
    // the joins they replace (measured: 10.4 s vs 8.2 s in-sweep) — the
    // InSet/bucket-pruned path is the SMALL-churn production patch
    new IncrementalKey(cleanState(v1), (st: CleanState) =>
      cleanCorpusIncremental(v2, st, corpusDiff(v1, v2))._1)
  }

  /** Oracle twin: [[sqlCleanCorpus]] rebased wholesale onto the v2
    * snapshot — the full-recompute answer the incremental path must
    * reproduce bit-for-bit.
    */
  def sqlCleanIncremental: String =
    "WITH v2docs AS (SELECT * REPLACE (CASE WHEN doc_id % 11 = 0 " +
      "THEN upper(text) ELSE text END AS text) " +
      "FROM documents WHERE doc_id % 5 <> 0),\n" +
      sqlCleanCorpus.stripPrefix("WITH ").replace("FROM documents", "FROM v2docs")

  /** The SMALL-churn oracle key — the production daily-patch shape
    * ([[cleanCorpusIncrementalInSet]]'s literal/bucket-pruned regime:
    * ~3% churn, every probe a driver-literal InSet), while the big-churn
    * sibling [[cleanIncrementalKey]] prices the join-driven fallback.
    * The DuckDB twin cleans v2 from scratch, so a hash match proves the
    * InSet path's patch ≡ rebuild on REAL fixture data end-to-end, not
    * just on the spec's planted corpus.
    */
  def cleanIncrementalSmallKey(docs: DataFrame): IncrementalKey[CleanState] = {
    val v2 = docs.filter(col("doc_id") % 97 =!= 0)
      .withColumn("text",
        when(col("doc_id") % 89 === 0, upper(col("text")))
          .otherwise(col("text")))
    new IncrementalKey(cleanState(docs), (st: CleanState) =>
      cleanCorpusIncrementalInSet(docs.sparkSession, v2, st,
        DedupOps.bandRows(st.sigs), corpusDiff(docs, v2))._1)
  }

  def sqlCleanIncrementalSmall: String =
    "WITH v2docs AS (SELECT * REPLACE (CASE WHEN doc_id % 89 = 0 " +
      "THEN upper(text) ELSE text END AS text) " +
      "FROM documents WHERE doc_id % 97 <> 0),\n" +
      sqlCleanCorpus.stripPrefix("WITH ").replace("FROM documents", "FROM v2docs")

  def sqlCorpusDiff: String =
    """WITH a AS (
      |  SELECT doc_id, md5(coalesce(text, '')) AS hash_a
      |  FROM documents WHERE doc_id % 7 <> 0),
      |b AS (
      |  SELECT doc_id,
      |    md5(coalesce(CASE WHEN doc_id % 11 = 0 THEN upper(text)
      |      ELSE text END, '')) AS hash_b
      |  FROM documents WHERE doc_id % 5 <> 0)
      |SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
      |  CASE WHEN a.doc_id IS NULL THEN 'added'
      |       WHEN b.doc_id IS NULL THEN 'removed'
      |       WHEN a.hash_a <> b.hash_b THEN 'changed' END AS status,
      |  coalesce(a.hash_a, '') AS hash_a,
      |  coalesce(b.hash_b, '') AS hash_b
      |FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
      |WHERE (CASE WHEN a.doc_id IS NULL THEN 'added'
      |       WHEN b.doc_id IS NULL THEN 'removed'
      |       WHEN a.hash_a <> b.hash_b THEN 'changed' END) IS NOT NULL""".stripMargin
}
