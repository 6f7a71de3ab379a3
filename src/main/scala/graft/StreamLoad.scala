package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Reproducible CDC-chain load test (the SCALE.md throughput evidence):
  * generate N synthetic events as parquet WAL segments, drive the FULL
  * streaming pipeline (typing → routing → handler → LWW dedup → NDJSON →
  * bulk files + dead-letter) with Trigger.AvailableNow, report one JSON
  * line with events/s and the run's `sink.*` stage totals
  * ([[graft.obs.Stages]]). Generation is excluded from the timing.
  *
  * Usage: runMain graft.StreamLoad [nEvents] [nSegments]
  * (SPARK_GRAFT_CPUS sets parallelism, default 4 — the reference's
  * implied regime is ~100k events/s on a comparable box.)
  */
object StreamLoad {
  def main(args: Array[String]): Unit = {
    val nEvents = args.headOption.map(_.toInt).getOrElse(1000000)
    val nSegments = args.drop(1).headOption.map(_.toInt).getOrElse(8)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val base = Files.createTempDirectory("graft-load").toString
    val eventsDir = s"$base/events"
    // event mix ≙ the testdata distribution: 4 known types + 1 unknown
    // (dropped by typing), user-id key space 100k (LWW dedup has real work)
    spark.range(nEvents.toLong).select(
        col("id").as("event_id"),
        (lit(1706000000000000000L) + col("id") * 1000000L).as("ts"),
        pmod(col("id") * 2654435761L, lit(100000L)).as("user_id"),
        element_at(
          array(lit("signup"), lit("purchase"), lit("error"), lit("view"), lit("click")),
          (pmod(col("id"), lit(5)) + 1).cast("int")).as("event_type"),
        (pmod(col("id"), lit(97)) / 10.0).as("value"),
        lit("{}").as("props"))
      .repartition(nSegments)
      .write.parquet(eventsDir)

    // declare the segment size to the fan-out gate the way a real
    // operator would (they sized the segments): small batches skip the
    // pre-chain exchange, big ones keep it
    spark.conf.set(stream.Pipeline.FanoutEventsPerFileHintConf,
      math.max(1, nEvents / nSegments).toString)

    // no flush limits: one bulk file per concurrent request per batch
    val cfg = conf.GraftConfig(conf.EsSinkConfig(ops.CdcOps.tableIndexMapping,
      batchSizeLimit = 0, batchByteSizeLimit = "0b",
      concurrentRequest = cpus.toInt))
    val stages0 = obs.Stages.snapshot()
    val (_, run) = obs.Stages.measure(stream.Pipeline.run(spark, cfg,
      stream.Connector.Io(eventsDir, s"$base/bulk", s"$base/dlq", s"$base/ckpt"),
      trigger = Some(Trigger.AvailableNow())).awaitTermination())
    val sec = run.wallSec
    val stages = obs.Stages.toJson(obs.Stages.since(stages0))
    println(s"""{"metric":"cdc_throughput","events":$nEvents,"cpus":$cpus,"sec":$sec,"events_per_sec":${(nEvents / sec).toLong},"stages":$stages}""")
    spark.stop()
  }
}
