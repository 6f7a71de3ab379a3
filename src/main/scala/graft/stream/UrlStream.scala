package graft.stream

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.ops.TextOps

/** Streaming crawl frontier — the continuous face of
  * [[graft.ops.TextOps.dedupUrl]]: discovered URLs arrive as files of
  * (doc_id, url_raw), each micro-batch canonicalizes them
  * ([[TextOps.canonUrl]] — the same kernel as the batch key), folds
  * in-batch repeats, and emits only the canonical URLs NEVER SEEN in any
  * earlier batch: the fetch set. This is the "have I fetched this page"
  * membership every crawler runs in front of a corpus pipeline — the
  * noise variants (tracking params, case, fragments) that would
  * re-fetch the same page fold away before the membership check.
  *
  * State is the [[CleanStream]] append-only-delta discipline: batch `i`
  * writes ONLY its own fresh canonical-URL md5s under
  * `outDir/_seen/b_<i>`; a batch reads deltas strictly below its own id
  * ([[VersionedState.allBefore]]), so a REPLAYED batch never sees its
  * own partial write and reproduces its output byte-identically.
  * Per-batch state WRITE is O(fresh URLs in the batch) — state I/O
  * grows with the frontier, never with the stream age twice over. The
  * membership is keyed by md5, never the raw string (the house rule:
  * state tables carry hashes, not text); at 100 TB the deltas compact
  * into a bucketed layout exactly like the dedup hash index.
  *
  * Emits, per batch, one row per fresh canonical URL:
  * (url_canon, rep_doc_id = min doc_id in the batch, n_in_batch). When
  * files arrive in ascending doc_id order the union of emissions equals
  * the batch [[TextOps.dedupUrl]] first-seen clusters over everything
  * ingested (spec-asserted).
  */
object UrlStream {

  val urlSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("url_raw", StringType)
  ))

  def run(spark: SparkSession, urlsDir: String, outDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    Leg.start(Leg.files(spark, urlSchema, urlsDir), "url-stream",
        checkpointDir, trigger) { (batch, batchId) =>
      val seenRoot = s"$outDir/_seen"
      val inBatch = batch
        .select(col("doc_id"), TextOps.canonUrl(col("url_raw")).as("url_canon"))
        .groupBy("url_canon")
        .agg(min("doc_id").as("rep_doc_id"), count(lit(1)).as("n_in_batch"))
        .withColumn("h", md5(col("url_canon")))
      val seenDirs = VersionedState.allBefore(spark, seenRoot, batchId)
      val fresh =
        if (seenDirs.isEmpty) inBatch
        else inBatch.join(spark.read.parquet(seenDirs: _*), Seq("h"), "left_anti")
      fresh
        .select(col("url_canon"), col("rep_doc_id"), col("n_in_batch"))
        .withColumn("batch_id", lit(batchId))
        .coalesce(1).write.mode("overwrite").parquet(s"$outDir/batch_$batchId")
      fresh.select(col("h"))
        .coalesce(1).write.mode("overwrite")
        .parquet(VersionedState.versionDir(seenRoot, batchId))
    }
}
