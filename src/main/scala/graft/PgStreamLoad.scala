package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.unsafe.types.UTF8String

import graft.obs.Stages
import graft.sources.PgWire
import graft.stream.PgCaptureStream

/** Reproducible load test for the REAL ingest format — the pgoutput
  * capture chain END-TO-END (the [[StreamLoad]] twin for the wire leg):
  * generate N insert events as XLogData-enveloped pgoutput v1 frames
  * (Begin per segment-transaction, ONE Relation message in the first
  * segment — the later segments resolve through the carried registry,
  * the cross-segment behavior a real capture exercises), write them as
  * capture segments, then drive [[graft.stream.PgCaptureStream]] through
  * decode → relationalize → route → LWW dedup → NDJSON → concurrent bulk
  * files + registry snapshot + checkpoint ack with Trigger.AvailableNow.
  * Generation is excluded from the timing; one JSON line reports
  * events/s and the run's `pgcapture.*`/`sink.*` stage totals
  * ([[graft.obs.Stages]]), comparable to the reference's implied ~100k
  * events/s (BASELINE.md) whose main loop is exactly this chain
  * (connector.go:129-171 → bulk.go:253-315).
  *
  * The doc-key space is 100k (`id` = a multiplicative hash of the event
  * id mod 100k), so the in-batch last-write-wins dedup has real work —
  * the same key-collision regime as [[StreamLoad]].
  *
  * Usage: runMain graft.PgStreamLoad [nEvents] [nSegments]
  * (SPARK_GRAFT_CPUS sets parallelism, default 4.)
  */
object PgStreamLoad {

  val RelOid = 51300L

  /** seq/LSN base of segment `s`, spaced by the SEGMENT SIZE (not a
    * fixed constant — round-14 ADVICE: fixed 1M spacing overlapped once
    * per-segment counts passed it, benign only under
    * maxFilesPerTrigger=1). A segment emits begin + optional relation +
    * (hi-lo) DMLs + commit, and its commit payload reaches
    * base + per + 1, so `per + 16` headroom keeps every frame's seq AND
    * every embedded LSN strictly below the next segment's base: seq is
    * globally monotone in slot order under ANY files-per-trigger
    * admission ([[PgStreamLoadSpec]] pins the non-overlap).
    */
  def segmentBase(s: Int, per: Int): Long = s.toLong * (per + 16)

  /** Largest seq a non-last segment of `per` DMLs emits (its commit
    * frame); the last segment has no successor, so its remainder
    * overflow past `per` is unconstrained.
    */
  def segmentMaxSeq(s: Int, per: Int): Long = segmentBase(s, per) + 2 + per

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
    import spark.implicits._

    val base = Files.createTempDirectory("graft-pgload").toString
    val captureDir = s"$base/capture"
    val ts = 1706000000000000L

    // generation (excluded from timing): one transaction per segment,
    // frames in slot order. The insert tuple mirrors the reference
    // examples' user-table shape: (id TEXT-keyed, event_type, payload).
    val per = math.max(1, nEvents / nSegments)
    for (s <- 0 until nSegments) {
      val lo = s.toLong * per
      val hi = if (s == nSegments - 1) nEvents.toLong else lo + per
      val segBase = segmentBase(s, per)
      val pre: Seq[(Long, Array[Byte])] =
        (segBase, PgWire.encodeXLogData(segBase, segBase, ts,
          PgWire.encodeBegin(segBase + per, ts + s, 1000 + s))) +:
        (if (s == 0)
          Seq((segBase + 1L, PgWire.encodeXLogData(segBase + 1, segBase, ts,
            PgWire.encodeRelation(RelOid, "public", "events_t", Seq(
              ("id", true, 20L), ("event_type", false, 25L),
              ("payload", false, 25L))))))
         else Nil)
      val dml = spark.range(lo, hi).map { id =>
        val key = java.lang.Long.remainderUnsigned(id * 2654435761L, 100000L)
        val vals = Array[Any](
          UTF8String.fromString(key.toString),
          UTF8String.fromString("evt" + (id % 5)),
          UTF8String.fromString("{\"v\":" + (id % 97) + "}"))
        val payload = PgWire.encodeDml(UTF8String.fromString("insert"),
          RelOid, null, new GenericArrayData(vals))
        (segBase + 2L + (id - lo),
          PgWire.encodeXLogData(segBase + 2 + (id - lo), segBase, ts, payload))
      }.toDF("seq", "frame")
      val commit: Seq[(Long, Array[Byte])] = Seq(
        (segBase + 2L + (hi - lo), PgWire.encodeXLogData(
          segBase + 2 + (hi - lo), segBase, ts,
          PgWire.encodeCommit(segBase + per, segBase + per + 1, ts + s))))
      pre.toDF("seq", "frame").unionByName(dml)
        .unionByName(commit.toDF("seq", "frame"))
        .repartition(1).write.mode("append").parquet(captureDir)
    }

    val stages0 = Stages.snapshot()
    val (_, run) = Stages.measure(PgCaptureStream.run(spark, captureDir,
      s"$base/bulk", s"$base/dlq", s"$base/ckpt",
      mapping = Map("public.events_t" -> "events_idx"),
      concurrentRequest = cpus.toInt, trigger = Trigger.AvailableNow())
      .awaitTermination())
    val sec = run.wallSec
    val stages = Stages.toJson(Stages.since(stages0))
    println(s"""{"metric":"pg_capture_throughput","events":$nEvents,"cpus":$cpus,"sec":$sec,"events_per_sec":${(nEvents / sec).toLong},"stages":$stages}""")
    spark.stop()
  }
}
