package graftbench

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger

import graft.stream.PgCaptureStream

/** `pg_backfill`: a closed drain of seeded pgoutput capture segments
  * through `PgCaptureStream.run` with `AvailableNow`, one segment per
  * micro-batch, the Relation message only in segment 0.
  */
object PgBackfill {

  val Keys = 50000L
  val Segs = 4
  val SegEvents = 10000
  val WarmSegEvents = 5000

  /** Capture segments with mtimes in segment order, as a capture tool
    * appends them.
    */
  def generate(spark: SparkSession, seed: Long, segs: Int, per: Int, dir: Path): Seq[Path] = {
    val files = Gen.pgCapture(spark, seed, segs, per, Keys, dir.resolve("staging"), dir.resolve("capture"))
    val now = System.currentTimeMillis()
    files.zipWithIndex.foreach { case (f, i) =>
      Files.setLastModifiedTime(f, FileTime.fromMillis(now - 1000L * (segs - i)))
    }
    files
  }

  final case class Drain(usage: Usage, startMs: Long, endMs: Long, commitAfterS: Seq[Double],
      bulk: Path, dlq: Path, ckpt: Path)

  def drain(spark: SparkSession, capture: Path, root: Path, tracer: Tracer, tag: String): Drain = {
    val (bulk, dlq, ckpt) = (root.resolve("bulk"), root.resolve("dlq"), root.resolve("ckpt"))
    val t0 = System.currentTimeMillis()
    val (_, u) = Usage.of(tracer.span("pg.drain", tag = tag) { _ =>
      val q = PgCaptureStream.run(spark, capture.toString, bulk.toString, dlq.toString,
        ckpt.toString, Gen.PgMapping, trigger = Trigger.AvailableNow())
      q.awaitTermination()
      q.exception.foreach(e => throw e)
    })
    val t1 = System.currentTimeMillis()
    val commits = CdcRestart.commitMs(ckpt).values.toSeq.sorted.map(ms => (ms - t0) / 1000.0)
    Drain(u, t0, t1, commits, bulk, dlq, ckpt)
  }

  def run(ctx: Ctx): Unit = {
    import ctx._
    val gens = (0 until SetupReps).map { i =>
      Usage.of(tracer.span("setup", tag = s"rep=$i")(_ =>
        generate(spark, seed, Segs, SegEvents, work.resolve(s"pg_$i"))))
    }
    report.put("setup_s", Stats.median(gens.map(_._2.wallS)), "s")
    phases("setup") = Usage(gens.map(_._2.wallS).sum, gens.map(_._2.cpuS).sum, gens.map(_._2.gcS).sum)
    val (_, warm) = Usage.of {
      generate(spark, seed + 1, 1, WarmSegEvents, work.resolve("pg_warm"))
      drain(spark, work.resolve("pg_warm/capture"), work.resolve("pg_warm/run"), tracer, "warmup")
    }
    phases("warmup") = warm
    liveCheckpoint()

    val flat0 = Flatness.read(spark, Nil)
    val events = Segs.toLong * SegEvents
    val d = drain(spark, work.resolve("pg_0/capture"), work.resolve("pg_0/run"), tracer, "measure")
    val flat1 = Flatness.read(spark, Seq(d.bulk.resolve("_pgstate")))
    phases("measure") = d.usage
    liveCheckpoint()

    report.put("events_per_s", events / d.usage.wallS, "1/s")
    report.put("cpu_s_per_mevent", d.usage.cpuS / events * 1e6, "s")
    report.put("freshness_p50_s", Stats.quantile(d.commitAfterS, 0.5), "s")
    report.put("freshness_p90_s", Stats.quantile(d.commitAfterS, 0.9), "s")
    report.put("wall_s", d.usage.wallS, "s")
    report.put("cpu_s", d.usage.cpuS, "s")

    val (out, chk) = Usage.of(tracer.span("check") { _ =>
      val out = BulkCheck.read(d.bulk)
      val (bad, samplesBad) = BulkCheck.mismatches(out,
        Gen.expectedPg(Gen.pgEvents(spark, seed, Segs, SegEvents, Keys)))
      report.check(bad == 0, s"$bad doc keys differ from their last write: ${samplesBad.mkString("; ")}")
      report.check(out.duplicateKeysInBatch == 0, s"${out.duplicateKeysInBatch} keys written twice in one batch")
      report.check(out.malformedLines == 0, s"${out.malformedLines} malformed bulk lines")
      val malformedDir = d.dlq.resolve("pg_malformed")
      val malformed = BulkCheck.parquetRows(spark, malformedDir)
      val dead = BulkCheck.parquetRows(spark, d.dlq, _.startsWith(malformedDir))
      report.check(malformed == 0, s"$malformed pg_malformed rows")
      report.check(dead == 0, s"$dead dead-letter rows")
      val batches = CdcRestart.commitMs(d.ckpt).size
      report.check(batches == Segs, s"$batches committed batches for $Segs segments")
      report.count(Segs + out.finalState.size, math.max(0, Segs - batches) + bad)
      out
    })
    phases("check") = chk

    if (tracer.on) listeners.foreach { l =>
      l.settle()
      val (m0, m1) = (d.startMs, d.endMs)
      val bs = l.progress.batches(m0, m1, "graft-pgcapture")
      engineFrom(bs)
      engineSpans(bs)
      perLayer("PgCaptureStream.process_batch_s") =
        (Stats.median(bs.map(_.durationMs.get("addBatch").toDouble / 1000.0)), "s")
      sinkFrom(out, BulkCheck.parquetRows(spark, d.dlq), events)
      measureWindow = (m0, m1)
      batchesInWindow = bs.size.toLong
      flatStart = Some(flat0)
      flatEnd = Some(flat1)
    }
  }
}
