package graft.stream

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.SuffixOps

/** Streaming maintenance of the CORPUS SUFFIX ARRAY — the daily-crawl
  * face of [[SuffixOps.mergeShardArrays]], closing the round's sharded
  * discipline end to end: every micro-batch builds its OWN shard array
  * (the prefix-doubling build over just the new docs — small, the
  * point of sharding) and 2-way merges it with the latest COMPACTED
  * merged array, so version `b_<id>` is always the TRUE suffix array
  * of everything ingested through batch id, and a repeat whose two
  * occurrences arrived in different batches is visible to the exact
  * instrument the moment the second one lands.
  *
  * State discipline = [[HllStream]]'s compaction: one prior version
  * read per batch (never the whole history), per-batch overwrite dirs
  * for docs and arrays, a replayed batch reads only versions strictly
  * below its id — so replays reproduce `b_<id>` exactly (the merge is
  * deterministic). Restart resumes from the compacted state
  * (spec-proven: post-restart array ≡ the direct build on the union).
  *
  * Cost honesty: the merge's global range-sort is O(total entries) per
  * batch — this is ExactSubstr's INDEX MAINTENANCE job, amortized in
  * production at compaction cadence (daily), where a micro-batch here
  * stands for a day's crawl. The alternative the shard build avoids is
  * rebuilding the monolithic array from scratch: the per-batch build
  * touches only new docs, and the merge's deep-key rounds touch only
  * suffixes inside long CROSS-batch repeats (the quantity being
  * hunted).
  */
object SaStream {

  def run(spark: SparkSession, docsDir: String, outDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    Leg.start(Leg.files(spark, DedupStream.docSchema, docsDir), "sa-stream",
        checkpointDir, trigger) { (batch, batchId) =>
      if (!batch.isEmpty) {
        val docsRoot = s"$outDir/_docs"
        // idempotent corpus accumulation: this batch's docs land in
        // their own overwrite dir, and the union of b_0..b_id IS the
        // corpus through id
        batch.write.mode("overwrite")
          .parquet(VersionedState.versionDir(docsRoot, batchId))
        // build the shard from the WRITTEN copy: truncated lineage,
        // and replays re-read identical bytes
        val batchDocs = spark.read.parquet(
          VersionedState.versionDir(docsRoot, batchId))
        val batchSa = SuffixOps.suffixArray(batchDocs)
        VersionedState.fold(spark, s"$outDir/_sa", batchId) {
          case Some(prev) =>
            val allDocs = VersionedState
              .allBefore(spark, docsRoot, batchId + 1)
              .map(spark.read.parquet(_))
              .reduce(_ unionByName _)
            SuffixOps.mergeShardArrays(Seq(prev, batchSa), allDocs)
          case None => batchSa
        }
      }
    }

  /** The newest compacted array at or below `batchId` (readers resolve
    * the published frontier the same way the stream itself does).
    */
  def latestArray(spark: SparkSession, outDir: String,
      batchId: Long = Long.MaxValue): Option[String] =
    VersionedState.latestBefore(spark, s"$outDir/_sa",
      if (batchId == Long.MaxValue) Long.MaxValue else batchId + 1)
}
