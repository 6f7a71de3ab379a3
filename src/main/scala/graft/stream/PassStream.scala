package graft.stream

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.PostTrainOps

/** Streaming pass@k — the continuous face of
  * [[graft.ops.PostTrainOps.passAtK]] for a generation service emitting
  * verified candidates: each micro-batch reduces to its own per-prompt
  * (n_candidates, n_passing) state ([[PostTrainOps.passState]] — two
  * SUMS, so shard/batch states merge into exactly the state of the
  * union), SUM-merges it into the latest prior COMPACTED version (the
  * [[CmsStream]] discipline), and publishes the estimator table from
  * the merged state through the SHARED emission rule
  * ([[PostTrainOps.passFromState]]) — two faces, one reduction, one
  * emission, so they cannot drift.
  *
  * Replay safety rests on the [[VersionedState]] argument (SUM is not
  * idempotent): a batch reads only versions strictly below its own id
  * and overwrites its own, so a replayed batch re-derives identical
  * state and estimates. State is ≤ [[PostTrainOps.PassGroups]] rows of
  * three longs at any corpus size — metadata-scale I/O per batch.
  *
  * The published estimate CONVERGES: after the final batch the state
  * equals [[PostTrainOps.passState]] of everything ingested, so the
  * last published table IS the batch operator's output (spec-asserted
  * across a restart). Mid-stream tables are the running estimate over
  * candidates seen so far — exactly what a live eval dashboard wants.
  */
object PassStream {

  def run(spark: SparkSession, docsDir: String, outDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    Leg.start(Leg.files(spark, Leg.Docs, docsDir), "pass-stream",
        checkpointDir, trigger) { (batch, batchId) =>
      val mine = PostTrainOps.passState(batch)
      val state = VersionedState.fold(spark, s"$outDir/_state", batchId)(prior =>
        prior.fold(mine)(prev => mine.unionByName(prev)
          .groupBy("prompt_id")
          .agg(sum("n_candidates").as("n_candidates"),
            sum("n_passing").as("n_passing"))).coalesce(1))
      // estimates from the read-back snapshot (stable under re-planning)
      PostTrainOps.passFromState(state)
        .withColumn("batch_id", lit(batchId))
        .coalesce(1).write.mode("overwrite").parquet(s"$outDir/batch_$batchId")
    }
}
