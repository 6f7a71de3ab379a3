package graft.stream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.TextOps

/** Streaming (online-SGD) training of the linear quality classifier —
  * the continuous face of [[graft.ops.TextOps.qualityLinearTrain]]: doc
  * batches land as files, and each micro-batch takes ONE gradient step
  * at the weights learned so far (not the seed — this is sequential SGD,
  * the way an always-on quality model actually tracks a drifting crawl).
  *
  * Each batch is the [[graft.ops.TextOps.qualityLinearTrainStepWith]]
  * distributed agg (gopher silver labels, fast-sigmoid residuals,
  * ≤1024-key map-side-combined gradient); only the bucket-gradient rows
  * and a 1-row count reach the driver, and the update arithmetic is
  * [[graft.ops.TextOps.applyGradient]] — the batch trainer's exact
  * integer-micro rule, one definition point, so a two-batch stream is
  * BY CONSTRUCTION the same fold as two sequential driver steps (the
  * spec asserts equality against that composition, across a restart).
  *
  * State is the [[SampleStream.runMixture]]/[[ManifestStream]] pattern:
  * the 1024-row weight vector versioned per batch under
  * `outDir/_weights/b_<id>`; a batch reads the newest version with
  * id < its own (a REPLAYED batch re-reads its predecessor, recomputes
  * the identical step, overwrites its own partial write — at-least-once
  * in, exactly-once out), and `outDir/current` republishes the newest
  * weights for a serving-side [[graft.ops.TextOps.qualityLinearScoreWith]]
  * to pick up. Unlike the manifest's XOR fold this one is ORDER-
  * SENSITIVE (SGD), which is exactly why it must ride the checkpoint's
  * serialized batch order rather than any associative merge.
  */
object TrainStream {

  private def readWeights(spark: SparkSession, state: DataFrame): Map[Long, Long] = {
    import spark.implicits._
    state.select("bucket", "w_micro").as[(Long, Long)].collect().toMap
  }

  def run(spark: SparkSession, docsDir: String, outDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    Leg.start(Leg.files(spark, Leg.Docs, docsDir), "train-stream",
        checkpointDir, trigger) { (batch, batchId) =>
      import spark.implicits._
      val state = VersionedState.fold(spark, s"$outDir/_weights", batchId) { prior =>
        val weights = prior.map(readWeights(spark, _))
          .getOrElse(TextOps.seedWeightsMicro)
        val grads = TextOps.qualityLinearTrainStepWith(batch, Some(weights))
          .collect()
          .map(r => r.getAs[Long]("bucket") -> r.getAs[Long]("grad_micro"))
          .toSeq
        val next = TextOps.applyGradient(weights, grads, batch.count())
        next.toSeq.toDF("bucket", "w_micro").coalesce(1)
      }
      // publish from the read-back snapshot — replay-idempotent overwrite
      state.coalesce(1).write.mode("overwrite").parquet(s"$outDir/current")
    }
}
