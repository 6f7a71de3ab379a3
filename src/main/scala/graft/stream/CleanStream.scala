package graft.stream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftext.Scratch
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.{CorpusOps, DedupOps, PretrainOps, TextOps}

/** Streaming ingest face of the clean pipeline ([[graft.ops.CorpusOps]]):
  * documents arrive as files; each micro-batch is gated (quality +
  * language, the SAME column expressions as the batch pipeline), exact-
  * deduplicated against everything previously INGESTED (not just the
  * current batch), optionally decontaminated against a static held-out
  * benchmark set, and split into two outputs — the surviving cleaned
  * corpus and a per-doc filter-reasons audit row (the rejection-rate
  * dashboard feed every production ingest emits).
  *
  * Cross-batch dedup state is the versioned-parquet pattern of
  * [[SampleStream.runMixture]], but APPEND-ONLY DELTAS: `_hashes/b_<id>`
  * holds only batch `<id>`'s NEW content hashes (first occurrences that
  * passed the gates), and a batch's membership check reads the union of
  * deltas with id < its own — so a REPLAYED batch never sees its own
  * partial write (the EsBulkSink idempotence contract), total state I/O
  * stays linear in distinct content, and a restart resumes from the
  * deltas with no state-store recovery. At 100 TB the deltas compact
  * into the bucketed signature layout ([[graft.ops.BucketedLayout]]) and
  * the membership join becomes `dedupAgainstSignatures`' exchange-free
  * probe; the per-batch contract here is identical.
  *
  * First-SEEN-wins across batches (arrival order), matching the batch
  * operator's min-doc_id rule whenever ingestion is id-ordered — the
  * spec drives it that way; within a batch the rule IS min doc_id.
  * The LSH near-dup stage is deliberately absent: it has its own
  * streaming leg ([[DedupStream.runIncrementalDedup]] against a static
  * history index) — compose downstream of the survivor output.
  */
object CleanStream {

  /** Distinct production-width gram hashes of a static benchmark frame —
    * compute ONCE before the stream and pass to [[run]]; it is broadcast
    * into every batch's contamination check (benchmark suites are MBs
    * against a growing corpus — the [[PretrainOps.decontaminate]]
    * asymmetry).
    */
  def benchGramSet(benchDocs: DataFrame): DataFrame =
    benchDocs
      .select(explode_outer(
        PretrainOps.decontamGrams(PretrainOps.DecontamGramProd)).as("g"))
      .filter(col("g").isNotNull).distinct()

  def run(spark: SparkSession, docsDir: String, outDir: String,
      checkpointDir: String,
      benchGrams: Option[DataFrame] = None,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    runFrom(spark, Leg.files(spark, DedupStream.docSchema, docsDir),
      outDir, checkpointDir, benchGrams, trigger)

  /** [[run]] over ANY streaming document source (file arrival, the
    * [[graft.sources.WalReplayProvider]] segment replay, Kafka-shaped
    * frames mapped to the doc schema) with an optional per-batch
    * SURVIVOR hook — the composition point a production deployment uses
    * to fan the cleaned shard into a downstream sink ([[EsHttpSink]] in
    * the e2e spec) in the SAME batch transaction: if the hook throws,
    * the batch fails and replays from the checkpoint, and all CleanStream
    * writes (per-batch overwrite) plus the idempotent downstream batch
    * contract make the replay safe.
    */
  def runFrom(spark: SparkSession, source: DataFrame, outDir: String,
      checkpointDir: String,
      benchGrams: Option[DataFrame] = None,
      trigger: Trigger = Trigger.AvailableNow(),
      onSurvivors: (DataFrame, Long) => Unit = (_, _) => ()): StreamingQuery =
    Leg.start(source, "clean-stream", checkpointDir, trigger) { (batch, batchId) =>
      val hashesRoot = s"$outDir/_hashes"
      val priorDirs = VersionedState.allBefore(spark, hashesRoot, batchId)
      val prior =
        if (priorDirs.isEmpty) None
        else Some(spark.read.parquet(priorDirs: _*)
          .withColumn("in_prior", lit(true)))

      // gates: the batch pipeline's own expressions, in-row
      val (_, quality) = TextOps.qualityCols(col("text"))
      val flagged = batch
        .withColumn("fail_quality", quality < CorpusOps.QualityThreshold)
        .withColumn("fail_lang",
          !TextOps.detectLang(col("text")).isin(CorpusOps.AcceptedLangs: _*))
        .withColumn("gated", !col("fail_quality") && !col("fail_lang"))
        .withColumn("content_hash",
          when(col("gated"), DedupOps.normalizedContentHash))

      // in-batch rep = min doc_id per hash among GATED rows; ungated
      // rows get a singleton partition key (a shared NULL partition
      // would funnel every rejected doc of the batch into one task)
      val w = Window
        .partitionBy(coalesce(col("content_hash"),
          concat(lit("ungated:"), col("doc_id").cast("string"))))
        .orderBy(col("doc_id"))
      val ranked = flagged.withColumn("rn",
        when(col("gated"), row_number().over(w)))
      // prior is O(distinct ingested content) — NO broadcast hint; AQE
      // broadcasts small early state and shuffle-joins once it grows
      // cached: feeds the contamination probe + three writes
      val base = Scratch.cache(prior.fold(ranked.withColumn("in_prior", lit(false)))(p =>
        ranked.join(p, Seq("content_hash"), "left")
          .withColumn("in_prior", coalesce(col("in_prior"), lit(false))))
        .withColumn("dup_exact", col("gated") && (col("rn") > 1 || col("in_prior"))))
      // contamination: any production-width gram in the benchmark
      // set — hit lists are per-mille, broadcast them back
      val withContam = benchGrams match {
        case Some(bg) =>
          val hits = base.filter(col("gated"))
            .select(col("doc_id"), explode_outer(
              PretrainOps.decontamGrams(PretrainOps.DecontamGramProd)).as("g"))
            .filter(col("g").isNotNull)
            .join(broadcast(bg), "g")
            .select("doc_id").distinct()
            .withColumn("is_contam", lit(true))
          base.join(broadcast(hits), Seq("doc_id"), "left")
            .withColumn("contaminated",
              coalesce(col("is_contam"), lit(false)))
        case None => base.withColumn("contaminated", lit(false))
      }
      val classified = withContam.withColumn("keep",
        col("gated") && !col("dup_exact") && !col("contaminated"))
      // reasons audit: one row per INPUT doc (overwrite = replay-safe)
      classified
        .select(col("doc_id"), col("fail_quality"), col("fail_lang"),
          col("dup_exact"), col("contaminated"), col("keep"))
        .withColumn("batch_id", lit(batchId))
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/reasons/batch_$batchId")
      // the cleaned corpus shard
      classified.filter(col("keep"))
        .select("doc_id", "text")
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/batch_$batchId")
      // downstream fan-out (e.g. the ES bulk sink) INSIDE the batch:
      // a hook failure fails the batch → checkpoint replay, and the
      // downstream idempotent-batch contract absorbs the re-run
      onSurvivors(classified.filter(col("keep"))
        .select("doc_id", "text"), batchId)
      // state delta: this batch's NEW gated first-occurrence hashes.
      // Gated reps, not survivors: the batch operator dedups before
      // decontamination, so a later copy of a contaminated-and-
      // removed doc is still a duplicate.
      base
        .filter(col("content_hash").isNotNull && !col("dup_exact"))
        .select(col("content_hash")).distinct()
        .coalesce(1).write.mode("overwrite")
        .parquet(VersionedState.versionDir(hashesRoot, batchId))
    }
}
