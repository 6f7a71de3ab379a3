package graft.stream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.TextOps

/** Streaming rank-sketch accumulation — the percentile family's
  * incremental face, riding [[graft.ops.TextOps.lengthPercentilesSketch]]'s
  * lossless merge property: each micro-batch levels its own docs
  * ([[TextOps.sketchLevels]] — a narrow projection), compacts them INTO
  * the latest prior state ([[TextOps.sketchCompact]] — the prior's `t`
  * floors the new one, its `n_docs` accumulates), and writes the result
  * as `_sketch/b_<id>`. Because the sketch of a multiset is a pure
  * function of that multiset (hash-level coins, no arrival order), the
  * state after ANY prefix of batches is IDENTICAL to the batch sketch
  * over the union of their docs — the spec asserts bit-equality across
  * a restart, not merely approximation-level agreement.
  *
  * State I/O per batch is O(cap · log n) rows per source regardless of
  * stream age ([[VersionedState]] compacted-versioned discipline;
  * replay-safe because compaction is idempotent given the same prior
  * version and batch input).
  */
object SketchStream {

  def run(spark: SparkSession, docsDir: String, outDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    Leg.start(Leg.files(spark, Leg.Docs, docsDir), "sketch-stream",
        checkpointDir, trigger) { (batch, batchId) =>
      VersionedState.fold(spark, s"$outDir/_sketch", batchId)(
        TextOps.sketchCompact(TextOps.sketchLevels(batch), _))
    }

  /** The query face: estimated percentile points per source from the
    * newest published state — identical output schema (and, by the merge
    * property, identical VALUES) to the batch operator over everything
    * ingested so far.
    */
  def percentiles(spark: SparkSession, outDir: String): DataFrame =
    TextOps.sketchPercentiles(VersionedState.latest(spark,
      s"$outDir/_sketch", "SketchStream.percentiles"))
}
