package graft.stream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.PretrainOps

/** Streaming integrity-manifest publisher — the continuous face of
  * [[graft.ops.PretrainOps.shardChecksums]]: shards of documents land as
  * files, and the published per-shard manifest (doc count, token count,
  * order-free multiset checksum) is maintained INCREMENTALLY instead of
  * recomputed over the whole corpus per drop.
  *
  * The whole design rides on the checksum being an ASSOCIATIVE,
  * COMMUTATIVE fold: bit_xor of per-doc content hashes. A micro-batch's
  * manifest is the batch operator applied to just that batch; folding it
  * into the running manifest is sum (counts) + XOR (checksum), so
  * after any sequence of batches, in any order, the state table equals
  * [[graft.ops.PretrainOps.shardChecksums]] over everything ingested —
  * the convergence property the spec asserts across a mid-stream restart.
  *
  * State is the [[SampleStream.runMixture]] pattern, deliberately: a
  * shards-sized parquet table versioned per batch under
  * `outDir/_manifest/b_<id>` (underscore-hidden from output globs). Each
  * batch reads the newest version with id < its own, folds its per-batch
  * manifest in, writes its version, and republishes `outDir/current` by
  * overwrite — so a REPLAYED batch (crash between write and checkpoint
  * commit) re-reads its predecessor's state, recomputes the identical
  * fold, and overwrites its own partial output: the EsBulkSink
  * at-least-once idempotence contract. At 100 TB the state is O(shards)
  * — metadata-scale — while each batch's manifest build is one
  * map-side-combined agg over just the new files.
  */
object ManifestStream {

  /** Fold two manifests (or a manifest and a batch delta): counts add,
    * multiset checksums XOR. One definition point for the merge algebra.
    */
  private def fold(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy("shard")
      .agg(sum("n_docs").as("n_docs"), sum("n_tokens").as("n_tokens"),
        expr("bit_xor(checksum)").as("checksum"))

  def run(spark: SparkSession, docsDir: String, outDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    Leg.start(Leg.files(spark, Leg.Docs, docsDir), "manifest-stream",
        checkpointDir, trigger) { (batch, batchId) =>
      val delta = PretrainOps.shardChecksums(batch)
      val state = VersionedState.fold(spark, s"$outDir/_manifest", batchId)(
        prior => prior.fold(delta)(p => fold(p, delta)).coalesce(1))
      // publish the current manifest from the read-back snapshot —
      // replay-idempotent overwrite, and readers never see a partial fold
      state.coalesce(1).write.mode("overwrite").parquet(s"$outDir/current")
    }
}
