package graft.stream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.obs.Stages
import graft.ops.PgOutputOps

/** Streaming face of the pgoutput capture pipeline: a directory of
  * capture segments (parquet files of `(seq, frame binary)` rows — each
  * frame one XLogData/keepalive envelope or bare pgoutput message, in
  * slot order) streams through decode → relationalize → route → the
  * bulk sink, with the protocol's in-band schema registry carried
  * ACROSS segment boundaries as versioned state.
  *
  * Why the carry: pgoutput sends a Relation message before the first
  * DML touching a table — per walsender session. A capture split into
  * segments can therefore open a segment with DML rows whose Relation
  * message arrived segments ago. `_pgstate/b_<id>` persists the latest
  * relation metadata per oid (plus the last Begin's transaction
  * metadata) after every batch; the next batch seeds
  * [[PgOutputOps.relationalize]] with those rows at `seq = -1`, exactly
  * as go-pq-cdc's in-memory relation cache persists across message
  * reads. Replay-safe by the [[VersionedState]] contract (a batch reads
  * strictly below its own id and overwrites its own version).
  *
  * Malformed frames (decoder contract: `msg_type = "malformed"`, error
  * text in `msg_prefix`) dead-letter as parquet beside the action
  * dead-letters — one corrupt frame never fails a batch. Keepalive
  * frames carry no DML and drop here; resume positions belong to the
  * file source's checkpoint in this replay shape (the R2 contract), and
  * the envelope's `wal_start` rides every action's lineage for a
  * transport that acks by LSN.
  *
  * Each batch step is timed as a `pgcapture.*` [[Stages]] stage.
  */
object PgCaptureStream {

  val captureSchema: StructType = StructType(Seq(
    StructField("seq", LongType),
    StructField("frame", BinaryType)))

  def run(spark: SparkSession, captureDir: String, bulkOutDir: String,
      deadLetterDir: String, checkpointDir: String,
      mapping: Map[String, String], concurrentRequest: Int = 2,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    spark.readStream
      .schema(captureSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(captureDir)
      .writeStream
      .queryName(s"graft-pgcapture-${QueryNames.suffix(checkpointDir)}")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(spark, batch, batchId, bulkOutDir, deadLetterDir,
          mapping, concurrentRequest)
      }
      .start()

  private[graft] def processBatch(spark: SparkSession, batch: DataFrame,
      batchId: Long, bulkOutDir: String, deadLetterDir: String,
      mapping: Map[String, String], concurrentRequest: Int): Unit = {
    val stateRoot = s"$bulkOutDir/_pgstate"
    // fan a NARROW batch out before decoding (round 13, measured on the
    // 4M-frame load): a capture segment is typically ONE file, so the
    // micro-batch arrives in 1-2 input splits and the whole
    // decode→relationalize chain runs near-serial — 55k ev/s, vs 124k+
    // with the insurance shuffle. The exchange moves only the raw
    // (seq, frame) pairs; when the batch already arrives wide it is
    // skipped. (Streaming plans have no AQE, so getNumPartitions here
    // is a static plan property — no job runs.)
    val par = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    // UNCONDITIONAL fanout (round 13, root-caused on the 4M-event load):
    // the earlier skip-when-wide guard trusted getNumPartitions, but a
    // capture segment is ONE parquet file written as ONE row group —
    // the file source still cuts it into byte-range splits (20 of them
    // at 4M events), of which every one but the row-group owner is
    // EMPTY. The guard saw "20 partitions, wide enough", skipped the
    // shuffle, and the whole decode→actions chain ran as a single task
    // (3-4 of 32 cores busy, sink build 30-38 s vs ~6 s at 3M where the
    // split count was low enough for the guard to fire). Split count is
    // a byte-size fiction, not row width; the repartition moves only
    // the raw (seq, frame) pairs (~2-3 s per 4M) and is the difference
    // between serial and parallel everything downstream.
    val wide0 = batch.repartition(par)
    // cache the RAW (seq, frame) pairs, not the decoded rows (round 13,
    // measured on the 4M-event batch): the serial single-file segment
    // read must happen exactly once, but the wide decoded projection is
    // the wrong thing to pin — building the actions chain over the
    // decoded cache cost 25-28 s/4M in-stream while a decode pass from
    // the compact binary cache is ~2 s, so each consumer (dead-letter
    // split, action pipeline, registry fold) re-decodes from the pinned
    // raw bytes instead. Decode is a codegen'd expression — recomputing
    // it three times is cheaper than one wide-row cache round-trip
    // (sink cache_build 25-28 s -> ~8 s, whole 4M batch ~50 -> ~25 s).
    val wide = wide0.cache()
    val flat = PgOutputOps.decode(wide).select(col("seq"), col("pg.*"))
    try {
      // one pass forces the raw cache AND counts malformed frames: the
      // dead-letter write below previously paid its own full decode pass
      // per batch just to discover the (overwhelmingly common) zero-
      // corrupt case — ~0.5-0.8 s per 2M-frame batch of pure overhead
      // (round 14, stage-measured). Same cache-materialization effect
      // as the old wide.count(): the agg scans every cached partition.
      val nBad = Stages.time("pgcapture.cache_build")(
        flat.agg(count_if(col("msg_type") === "malformed"))
          .collect()(0).getLong(0))
      // per-batch partition dir + overwrite: a replayed micro-batch
      // (Structured Streaming is at-least-once into external sinks)
      // clobbers its own prior output instead of appending duplicates —
      // the same replay-idempotence contract every other sink here
      // follows (EsBulkSink/SampleStream/ManifestStream). Hive-style
      // `batch_id=N` naming keeps a plain parquet read of
      // `$deadLetterDir/pg_malformed` working (discovery restores the
      // batch_id column).
      // skipped when the batch decoded clean (nBad from the cache-build
      // pass): replay safety is unchanged — a replayed batch decodes the
      // same frames to the same count, so the write happens exactly when
      // it did before
      if (nBad > 0) Stages.time("pgcapture.dead_letter")(
        flat.filter(col("msg_type") === "malformed")
          .select(col("seq"), col("msg_prefix").as("error"))
          .write.mode("overwrite")
          .parquet(s"$deadLetterDir/pg_malformed/batch_id=$batchId"))
      // seed: the prior batch's registry snapshot at seq = -1 — ordered
      // BEFORE every row of this batch, so the carry windows resolve
      // cross-segment DML exactly like an in-memory relation cache
      val seeded = VersionedState.latestBefore(spark, stateRoot, batchId) match {
        case Some(prev) =>
          spark.read.parquet(prev).withColumn("seq", lit(-1L))
            .unionByName(flat)
        case None => flat
      }
      val acts = PgOutputOps.actions(
        PgOutputOps.relationalizeFlat(seeded), mapping)
        // seed rows are prior-batch state, not this batch's events
        .filter(col("event_id") >= 0)
      Stages.time("pgcapture.sink_writeBatch")(
        EsBulkSink.writeBatch(acts, batchId, bulkOutDir,
          ResponseHandler.deadLetter(deadLetterDir), concurrentRequest))
      // registry snapshot for the NEXT batch: latest relation per oid +
      // the last begin, folded over (prior seed ∪ this batch)
      val relW = Window.partitionBy(col("relation_oid")).orderBy(col("seq").desc)
      val latestRels = seeded.filter(col("msg_type") === "relation")
        .withColumn("_rn", row_number().over(relW))
        .filter(col("_rn") === 1).drop("_rn")
      val lastBegin = seeded.filter(col("msg_type") === "begin")
        .orderBy(col("seq").desc).limit(1)
      Stages.time("pgcapture.registry_snapshot")(
        latestRels.unionByName(lastBegin).drop("seq")
          .write.mode("overwrite")
          .parquet(VersionedState.versionDir(stateRoot, batchId)))
      VersionedState.prune(spark, stateRoot, batchId - 1)
    } finally { wide.unpersist(); () }
  }
}
