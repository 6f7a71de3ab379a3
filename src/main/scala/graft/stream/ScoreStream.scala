package graft.stream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.PretrainOps

/** Streaming DSIR scoring — the frozen-model apply face of
  * [[graft.ops.PretrainOps.dsirWeight]]: the λ table trains ONCE
  * batch-side ([[graft.ops.PretrainOps.dsirLambdaFull]], the complete
  * all-buckets artifact), then document batches arriving as files are
  * scored by [[graft.ops.PretrainOps.dsirWeightWith]] — an in-row
  * zero-shuffle projection per micro-batch, so per-batch cost is one
  * narrow pass over the new files regardless of how much history the
  * stream has seen. This is the deployment shape of every frozen-model
  * scorer (quality classifiers, importance weights): train where the
  * full corpus lives, ship the table, score the firehose.
  *
  * Unlike [[TrainStream]] (order-sensitive SGD state) there is NO
  * cross-batch state: λ is immutable, so exactly-once needs only the
  * per-batch overwrite discipline — batch `id` writes `outDir/b_<id>`
  * with overwrite, and a replayed batch rewrites the identical rows
  * (the [[CleanStream]] idempotence contract, minus the state reads).
  * Downstream consumers union `b_*`; a [[graft.ops.PretrainOps
  * .dsirResample]]-shaped selection then runs batch-side over the
  * accumulated scores.
  */
object ScoreStream {

  def run(spark: SparkSession, docsDir: String, outDir: String,
      checkpointDir: String, lamMicro: Map[Long, Long],
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    runFrom(spark, Leg.files(spark, DedupStream.docSchema, docsDir),
      outDir, checkpointDir, lamMicro, trigger)

  /** [[run]] over ANY streaming document source mapped to the
    * (doc_id, text) schema.
    */
  def runFrom(spark: SparkSession, source: DataFrame, outDir: String,
      checkpointDir: String, lamMicro: Map[Long, Long],
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    Leg.start(source, "score-stream", checkpointDir, trigger) { (batch, batchId) =>
      PretrainOps.dsirWeightWith(batch, lamMicro)
        .withColumn("batch_id", lit(batchId))
        .write.mode("overwrite").parquet(s"$outDir/b_$batchId")
    }
}
