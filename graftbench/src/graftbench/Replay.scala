package graftbench

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger

import graft.ops.{CdcOps, PgOutputOps}
import graft.stream.{EsBulkSink, PgCaptureStream, ResponseHandler}

/** Layer attribution from outside the program: one catch-up-sized and
  * one tail-sized segment of each ingest format go through the public
  * stage functions. Each stage is forced with a `noop` write of the
  * chain up to it; its self time is that cumulative time minus the
  * upstream stage's.
  */
object Replay {

  final case class Inputs(events: Path, eventsTail: Path, capture: Path, captureTail: Path)

  def generate(spark: SparkSession, seed: Long, dir: Path): Inputs = {
    import CdcRestart.{BigSegEvents, Keys, TailSegEvents, ZipfS}
    val ev = Gen.eventSegments(spark, seed, Seq((1, BigSegEvents), (1, TailSegEvents)), Keys,
      ZipfS, dir.resolve("staging"), dir.resolve("events"))
    val cap = PgBackfill.generate(spark, seed, 1, BigSegEvents, dir.resolve("pg"))
    val capTail = PgBackfill.generate(spark, seed, 1, TailSegEvents, dir.resolve("pg_tail"))
    Inputs(ev(0), ev(1), cap.head, capTail.head)
  }

  def cdcStages(spark: SparkSession, seg: Path): Seq[(String, DataFrame)] = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(seg.toString)
    val typed = CdcOps.typedMessages(raw)
    val acts = CdcOps.handlerActions(typed)
    val dedup = CdcOps.dedupLastWriteWins(acts)
    Seq("source.read" -> raw, "CdcOps.typed" -> typed, "CdcOps.handler" -> acts,
      "CdcOps.dedup" -> dedup, "CdcOps.encode" -> CdcOps.ndjsonEncode(dedup))
  }

  def pgStages(spark: SparkSession, seg: Path): Seq[(String, DataFrame)] = {
    val raw = spark.read.parquet(seg.toString)
    val decoded = PgOutputOps.decode(raw)
    val rel = PgOutputOps.relationalize(decoded)
    Seq("source.read_pg" -> raw, "PgOutputOps.decode" -> decoded,
      "PgOutputOps.relationalize" -> rel,
      "PgOutputOps.actions" -> PgOutputOps.actions(rel, Gen.PgMapping))
  }

  private def force(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Cumulative seconds per stage — the fastest of `reps` forcings, the
    * reading least disturbed by other work on the box.
    */
  def cumulative(stages: Seq[(String, DataFrame)], reps: Int, tracer: Tracer,
      parent: Long, tag: String): Seq[(String, Double)] =
    stages.map { case (name, df) =>
      name -> (0 until reps).map { r =>
        tracer.span(s"$name.cumulative", parent, s"$tag rep=$r") { _ =>
          val t0 = System.nanoTime(); force(df); (System.nanoTime() - t0) / 1e9
        }
      }.min
    }

  /** Self time: cumulative minus the upstream stage's cumulative, floored
    * at 0 (a stage fused into its upstream's code can read below zero by
    * timer noise).
    */
  def selfTimes(cumul: Seq[(String, Double)]): Seq[(String, Double)] =
    cumul.zipWithIndex.map { case ((name, c), i) =>
      name -> (if (i == 0) c else math.max(0.0, c - cumul(i - 1)._2))
    }

  /** Seconds of `EsBulkSink.writeBatch` (fastest of `reps`) over a
    * materialized action batch, with the reference-default request split.
    */
  def sinkWrite(spark: SparkSession, acts: DataFrame, out: Path, reps: Int,
      tracer: Tracer, parent: Long, tag: String): Double = {
    val batch = acts.cache()
    batch.count()
    try (0 until reps).map { r =>
      tracer.span("EsBulkSink.write_batch", parent, s"$tag rep=$r") { _ =>
        val t0 = System.nanoTime()
        EsBulkSink.writeBatch(batch, r.toLong, out.resolve("bulk").toString,
          ResponseHandler.deadLetter(out.resolve("dlq").toString), 1,
          batchByteSizeLimit = CdcOps.parseSize("10mb"), batchSizeLimit = 1000)
        (System.nanoTime() - t0) / 1e9
      }
    }.min
    finally { batch.unpersist(); () }
  }

  /** Per layer, for both segment sizes (`_tail` suffix for the tail-sized
    * one): (cumulative seconds, self seconds), keyed like the per-layer
    * metrics.
    */
  def layers(spark: SparkSession, in: Inputs, work: Path, reps: Int, tracer: Tracer,
      tag: String): Map[String, (Double, Double)] = {
    val m = mutable.LinkedHashMap[String, (Double, Double)]()
    def keep(cumul: Seq[(String, Double)], sfx: String): Unit =
      cumul.zip(selfTimes(cumul)).foreach { case ((k, c), (_, s)) => m(s"${k}_s$sfx") = (c, s) }
    Seq(("", in.events, in.capture), ("_tail", in.eventsTail, in.captureTail)).foreach {
      case (sfx, ev, cap) =>
        tracer.span(s"replay$sfx", tag = tag) { root =>
          val cdc = cdcStages(spark, ev)
          keep(cumulative(cdc, reps, tracer, root, tag), sfx)
          val w = sinkWrite(spark, cdc(2)._2, work.resolve(s"replay_sink$sfx"), reps, tracer, root, tag)
          m(s"EsBulkSink.write_batch_s$sfx") = (w, w)
          keep(cumulative(pgStages(spark, cap), reps, tracer, root, tag), sfx)
        }
    }
    m.toMap
  }

  /** actions kept by the LWW dedup over actions in, catch-up segment */
  def dedupRatio(spark: SparkSession, in: Inputs): Double = {
    val st = cdcStages(spark, in.events)
    st(3)._2.count().toDouble / st(2)._2.count()
  }

  /** A two-batch `PgCaptureStream` drain of the replay captures, for the
    * engine and process-batch readings of workloads without a stream.
    */
  def captureDrain(spark: SparkSession, in: Inputs, work: Path): Unit = {
    val dir = work.resolve("replay_capture")
    Files.createDirectories(dir)
    Seq(in.capture, in.captureTail).zipWithIndex.foreach { case (f, i) =>
      val seg = dir.resolve(s"seg-$i.parquet")
      Files.copy(f, seg)
      Files.setLastModifiedTime(seg, FileTime.fromMillis(System.currentTimeMillis() - 10000 + i * 1000))
    }
    val root = work.resolve("replay_capture_run")
    val q = PgCaptureStream.run(spark, dir.toString, root.resolve("bulk").toString,
      root.resolve("dlq").toString, root.resolve("ckpt").toString, Gen.PgMapping,
      trigger = Trigger.AvailableNow())
    q.awaitTermination()
  }
}
