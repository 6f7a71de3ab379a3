package graft.stream

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.{PretrainOps, TextOps}

/** Streaming token-budget admission — the continuous-ingestion face of
  * [[graft.ops.PretrainOps.tokenBudgetFill]]: documents arrive as files
  * of (doc_id, text, source) and each source admits docs while the
  * running token total SEEN so far for that source is under
  * [[PretrainOps.TokenBudget]]. The admission order is (batch sequence,
  * bucket, doc_id) — the batch operator's own deterministic in-corpus
  * order applied per micro-batch — so a stream that sees the corpus in
  * ONE batch is byte-equal to the batch operator (spec-asserted), and a
  * multi-batch stream is the same greedy fill over the batch sequence.
  *
  * Rejected docs still count toward the running total (cum_before is
  * over all SEEN docs, the batch operator's monotone cumsum), so once a
  * source crosses the budget it stays closed — admission is a prefix of
  * the admission order, exactly like the batch prefix.
  *
  * State is the [[SampleStream.runMixture]] discipline, not a state
  * store: per-source seen-token totals are a sources-sized parquet
  * table versioned per batch under `outDir/_totals/b_<id>`
  * ([[VersionedState]]). A batch reads its predecessor's totals, decides
  * from them + its own in-batch cumsum, and writes merged totals as its
  * version — a REPLAYED batch re-reads the same predecessor and rewrites
  * identical output (at-least-once idempotence). O(sources) state I/O
  * per batch regardless of stream length.
  *
  * Emits EVERY incoming doc with its decision (`admit`, `cum_before`) —
  * the audit superset of the batch operator's admitted-only output.
  */
object BudgetStream {

  /** In-batch order: a micro-batch is a SET of file rows with no
    * inherent arrival order, so inside a batch the stream uses the
    * batch operator's own deterministic (bucket, doc_id) order — which
    * makes a stream that sees everything in ONE batch byte-equal to
    * [[PretrainOps.tokenBudgetFill]] (spec-asserted), and a multi-batch
    * stream the same greedy fill over (batch sequence, bucket, doc_id).
    */
  def run(spark: SparkSession, docsDir: String, outDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    Leg.start(Leg.files(spark, Leg.Docs, docsDir), "budget-stream",
        checkpointDir, trigger) { (batch, batchId) =>
      VersionedState.fold(spark, s"$outDir/_totals", batchId) { prior =>
        import org.apache.spark.sql.expressions.Window
        val inBatch = Window.partitionBy("source").orderBy("bucket", "doc_id")
          .rowsBetween(Window.unboundedPreceding, -1)
        val t = batch.select(col("doc_id"), col("source"),
            size(TextOps.toksOf(batch)).cast("long").as("n_tok"),
            pmod(TextOps.tokenHash(
              concat(lit("budget:"), col("doc_id").cast("string"))),
              lit(PretrainOps.BudgetBuckets)).as("bucket"))
          .withColumn("batch_cum",
            coalesce(sum(col("n_tok")).over(inBatch), lit(0L)))
        val withPrior = prior.fold(t.withColumn("seen_tokens", lit(0L)))(p =>
          t.join(broadcast(p), Seq("source"), "left")
            .withColumn("seen_tokens", coalesce(col("seen_tokens"), lit(0L))))

        withPrior
          .withColumn("cum_before", col("seen_tokens") + col("batch_cum"))
          .select(col("doc_id"), col("source"), col("n_tok"), col("cum_before"),
            (col("cum_before") < PretrainOps.TokenBudget).as("admit"))
          .withColumn("batch_id", lit(batchId))
          .coalesce(1).write.mode("overwrite").parquet(s"$outDir/batch_$batchId")

        // merged totals AFTER the decision write: a replay that died
        // between the two writes re-reads the same predecessor version
        // and reproduces both outputs byte-identically. Totals reduce
        // the SAME `t` frame as the decisions (one n_tok definition,
        // one tokenization pass — review round-9)
        val batchTotals = t.groupBy("source")
          .agg(sum("n_tok").as("seen_tokens"))
        prior.fold(batchTotals)(p =>
          p.unionByName(batchTotals).groupBy("source")
            .agg(sum("seen_tokens").as("seen_tokens"))).coalesce(1)
      }
    }
}
