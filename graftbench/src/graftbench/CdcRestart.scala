package graftbench

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime

import scala.collection.mutable
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.conf.{EsSinkConfig, GraftConfig}
import graft.ops.CdcOps
import graft.stream.Connector

/** `cdc_restart`: one connector life drains a short history and stops;
  * while it is down a WAL backlog lands; the restarted connector catches
  * up on the backlog (closed drain, phase 1) and then tails live writes
  * released on a fixed schedule (open loop, phase 2).
  */
object CdcRestart {

  /** Doc-key space (only prime factors 2 and 5). A sizing choice, not a
    * measurement; with `ZipfS` it sets the dedup ratio (last-write-wins
    * keeps ~40% of a 40k-event segment's routed actions).
    */
  val Keys = 50000L
  /** Key skew: YCSB's default Zipfian constant. The test data's keys are
    * uniform; the skew models the hot rows of a live table and is not
    * measured.
    */
  val ZipfS = 0.99
  val HistoryEvents = 40000  // one segment, drained by the first life
  val BacklogSegs = 6
  val BigSegEvents = 40000   // backlog segment size
  val TailSegEvents = 640    // one committed transaction per tail segment
  val TailRatePerS = 10000.0 // about a third of the catch-up rate
  val TickerMs = 250
  val MaxBytesPerTrigger = "1mb"   // two backlog segments, up to ~90 tail segments

  def tailSegs(seconds: Double): Int = math.max(1, math.round(TailRatePerS * seconds / TailSegEvents).toInt)

  def config: GraftConfig = GraftConfig(es = EsSinkConfig(
    tableIndexMapping = CdcOps.tableIndexMapping,
    batchTickerDuration = TickerMs.millis,
    maxBytesPerTrigger = Some(MaxBytesPerTrigger)))

  final case class Inputs(history: Seq[Path], backlog: Seq[Path], tail: Seq[Path])

  def generate(spark: SparkSession, seed: Long, nTail: Int, dir: Path): Inputs = {
    val segs = Gen.eventSegments(spark, seed,
      Seq((1, HistoryEvents), (BacklogSegs, BigSegEvents), (nTail, TailSegEvents)), Keys, ZipfS,
      dir.resolve("staging"), dir.resolve("segments"))
    Inputs(segs.take(1), segs.slice(1, 1 + BacklogSegs), segs.drop(1 + BacklogSegs))
  }

  /** Moves `seg` into the watched directory, stamped with the release
    * time so the file source admits segments in release order.
    */
  def release(seg: Path, eventsDir: Path): Path = {
    Files.setLastModifiedTime(seg, FileTime.fromMillis(System.currentTimeMillis()))
    val dst = eventsDir.resolve(seg.getFileName)
    Fs.move(seg, dst)
    dst
  }

  def activeQuery(spark: SparkSession, name: String): Option[StreamingQuery] =
    spark.streams.active.find(_.name == name)

  /** batch id → input rows, accumulated from a query's recent progress. */
  final class RowsByBatch {
    val rows = mutable.LinkedHashMap[Long, Long]()
    def poll(q: Option[StreamingQuery]): Long = {
      q.foreach(_.recentProgress.foreach(p => if (p.numInputRows > 0) rows(p.batchId) = p.numInputRows))
      rows.values.sum
    }
  }

  /** Checkpoint facts: which batch admitted each file, and when each
    * batch committed (the commit-log entry's mtime).
    */
  def batchOfFile(ckpt: Path): Map[String, Long] = {
    val m = mutable.HashMap[String, Long]()
    Fs.list(ckpt.resolve("sources/0")).filterNot(_.getFileName.toString.startsWith("."))
      .foreach { f =>
        Files.readAllLines(f).asScala.filter(_.startsWith("{")).foreach { l =>
          val path = "\"path\":\"([^\"]+)\"".r.findFirstMatchIn(l).map(_.group(1))
          val bid = "\"batchId\":(\\d+)".r.findFirstMatchIn(l).map(_.group(1).toLong)
          for (p <- path; b <- bid) m(p.substring(p.lastIndexOf('/') + 1)) = b
        }
      }
    m.toMap
  }

  def commitMs(ckpt: Path): Map[Long, Long] =
    Fs.list(ckpt.resolve("commits"))
      .filter(_.getFileName.toString.forall(_.isDigit))
      .map(f => f.getFileName.toString.toLong -> Files.getLastModifiedTime(f).toMillis)
      .toMap

  def run(ctx: Ctx): Unit = {
    import ctx._
    val nTail = tailSegs(seconds)
    val gens = (0 until SetupReps).map { i =>
      Usage.of(tracer.span("setup", tag = s"rep=$i")(_ => generate(spark, seed, nTail, work.resolve(s"cdc_$i"))))
    }
    report.put("setup_s", Stats.median(gens.map(_._2.wallS)), "s")
    phases("setup") = Usage(gens.map(_._2.wallS).sum, gens.map(_._2.cpuS).sum, gens.map(_._2.gcS).sum)
    val in = gens.head._1
    def kb(ps: Seq[Path]) = ps.map(Files.size(_) / 1024.0)
    System.err.println(f"[graftbench] segments: backlog ${kb(in.backlog).min}%.0f-${kb(in.backlog).max}%.0f KB, " +
      f"tail ${kb(in.tail).min}%.1f-${kb(in.tail).max}%.1f KB, admission $MaxBytesPerTrigger")
    val root = work.resolve("cdc_run")
    val (eventsDir, bulk, dlq, ckpt) =
      (root.resolve("events"), root.resolve("bulk"), root.resolve("dlq"), root.resolve("ckpt"))
    Files.createDirectories(eventsDir)
    val io = Connector.Io(eventsDir.toString, bulk.toString, dlq.toString, ckpt.toString)
    val counters0 = BulkCheck.actionCounters()

    // first life: drain the history, stop
    val (_, warm) = Usage.of(tracer.span("cdc.first_life") { _ =>
      in.history.foreach(release(_, eventsDir))
      val c = Connector.newConnector(spark, config, io, trigger = Some(Trigger.AvailableNow()))
      c.start(); c.waitUntilReady(60000); c.processAllAvailable(); c.close()
    })
    phases("warmup") = warm
    liveCheckpoint()

    // the backlog lands while the connector is down
    val backlogEvents = BacklogSegs.toLong * BigSegEvents
    in.backlog.foreach { s => release(s, eventsDir); Thread.sleep(2) }

    val c = Connector.newConnector(spark, config, io)
    val rows = new RowsByBatch
    val t0 = System.currentTimeMillis()
    val cpu0 = Jvm.cpuS
    val gc0 = Jvm.gcS
    var caught = 0L
    val catchupDeadline = System.nanoTime() + 60L * 1000000000L
    tracer.span("cdc.catchup") { _ =>
      c.start()
      var q = activeQuery(spark, c.queryName)
      while (caught < backlogEvents && System.nanoTime() < catchupDeadline && q.forall(_.exception.isEmpty)) {
        Thread.sleep(10)
        if (q.isEmpty) q = activeQuery(spark, c.queryName)
        caught = rows.poll(q)
      }
    }
    // process CPU from the restart to the poll that saw the last catch-up
    // batch commit: the whole catch-up, so that no batch boundary splits it
    val catchupCpu = Jvm.cpuS - cpu0
    // per catch-up batch: events / (commit - previous commit), the first
    // from the restart
    val commits0 = commitMs(ckpt)
    val batches = rows.rows.keys.toSeq.sorted
    val ends = batches.map(b => commits0.getOrElse(b, System.currentTimeMillis()))
    val perBatch = batches.indices.map { i =>
      val dt = (ends(i) - (if (i == 0) t0 else ends(i - 1))) / 1000.0
      rows.rows(batches(i)) / dt
    }
    System.err.println("[graftbench] catch-up batches: " + batches.indices.map { i =>
      f"${batches(i)}:${rows.rows(batches(i))}@${(ends(i) - t0) / 1000.0}%.2fs" }.mkString(" "))
    // restart → first catch-up batch committed: how long the index stands
    // still after a restart
    val restartS = (ends.headOption.getOrElse(System.currentTimeMillis()) - t0) / 1000.0
    report.check(caught == backlogEvents, s"catch-up read $caught of $backlogEvents backlog events")

    val stateRoots = Seq(bulk.resolve("_pgstate"))
    val flat0 = Flatness.read(spark, stateRoots)
    // tail: open loop, one segment every `interval` ms from tail start
    val intervalMs = TailSegEvents / TailRatePerS * 1000.0
    val tailStart = System.currentTimeMillis() + 100
    val actual = new Array[Long](nTail)
    val gen = new Thread(() => {
      var i = 0
      while (i < nTail) {
        val due = tailStart + (i * intervalMs).toLong
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        release(in.tail(i), eventsDir)
        actual(i) = System.currentTimeMillis()
        i += 1
      }
    }, "graftbench-tail")
    val tailEvents = nTail.toLong * TailSegEvents
    val tailCpu0 = Jvm.cpuS
    tracer.span("cdc.tail") { _ =>
      gen.start()
      val q = activeQuery(spark, c.queryName)
      val graceEnd = tailStart + (nTail * intervalMs).toLong + 30000L
      while ((gen.isAlive || rows.poll(q) < backlogEvents + tailEvents) &&
          System.currentTimeMillis() < graceEnd && q.forall(_.exception.isEmpty))
        Thread.sleep(10)
      gen.join()
    }
    val tailEnd = System.currentTimeMillis()
    val tailCpu = Jvm.cpuS - tailCpu0
    val measureCpu = Jvm.cpuS - cpu0
    val measureGc = Jvm.gcS - gc0
    val queryError = activeQuery(spark, c.queryName).flatMap(_.exception)
    val flat1 = Flatness.read(spark, stateRoots)
    liveCheckpoint()
    c.close()
    phases("measure") = Usage((tailEnd - t0) / 1000.0, measureCpu, measureGc)
    report.check(queryError.isEmpty, s"connector failed: ${queryError.map(_.getMessage)}")

    // freshness: scheduled release → commit of the batch that admitted it
    val owner = batchOfFile(ckpt)
    val commits = commitMs(ckpt)
    val fresh = (0 until nTail).map { i =>
      val due = tailStart + (i * intervalMs).toLong
      owner.get(in.tail(i).getFileName.toString).flatMap(commits.get).map(ms => (ms - due) / 1000.0)
    }
    val unacked = fresh.count(_.isEmpty)
    val samples = fresh.flatten
    report.check(unacked == 0, s"$unacked of $nTail tail segments unacked at the end of the tail")

    report.put("events_per_s", Stats.median(perBatch), "1/s")
    report.put("cpu_s_per_mevent", catchupCpu / math.max(1L, caught) * 1e6, "s")
    report.put("freshness_p50_s", Stats.quantile(samples, 0.5), "s")
    report.put("freshness_p90_s", Stats.quantile(samples, 0.9), "s")
    report.put("wall_s", restartS, "s")
    report.put("cpu_s", tailCpu, "s")
    val lateMaxMs = actual.indices.map(i => (actual(i) - tailStart - (i * intervalMs).toLong).toDouble).max
    System.err.println(f"[graftbench] tail: $nTail segments at $TailRatePerS%.0f ev/s, generator late by at most $lateMaxMs%.0f ms")

    // end state, dead letters, connector counters
    val (out, chk) = Usage.of(tracer.span("check") { _ =>
      val out = BulkCheck.read(bulk)
      val expected = Gen.expectedEvents(spark.read.parquet(eventsDir.toString))
      val (bad, samplesBad) = BulkCheck.mismatches(out, expected)
      report.check(bad == 0, s"$bad doc keys differ from their last write: ${samplesBad.mkString("; ")}")
      report.check(out.duplicateKeysInBatch == 0, s"${out.duplicateKeysInBatch} keys written twice in one batch")
      report.check(out.malformedLines == 0, s"${out.malformedLines} malformed bulk lines")
      val dead = BulkCheck.parquetRows(spark, dlq)
      report.check(dead == 0, s"$dead dead-letter rows")
      val counted = BulkCheck.actionCounters() - counters0
      report.check(counted == out.actions, s"action counters $counted != actions written ${out.actions}")
      val batchIds = commits.keySet
      report.count(batchIds.size + out.finalState.size + nTail, unacked + bad)
      (out, dead)
    })
    phases("check") = chk

    if (tracer.on) listeners.foreach { l =>
      l.settle()
      val tailBatches = l.progress.batches(tailStart, tailEnd, "graft-cdc")
      engineFrom(tailBatches)
      engineSpans(l.progress.batches(0L, tailEnd, "graft-cdc"))
      // backlog (released minus committed) at each release instant
      val commitOf = (0 until nTail).map(i =>
        owner.get(in.tail(i).getFileName.toString).flatMap(commits.get).getOrElse(Long.MaxValue))
      val backlogMax = actual.indices.map { i =>
        (0 to i).count(j => commitOf(j) > actual(i))
      }.max
      perLayer("source.backlog_segments_max") = (backlogMax.toDouble, "count")
      perLayer("source.generator_late_ms_max") = (lateMaxMs, "ms")
      sinkFrom(out._1, out._2, HistoryEvents + backlogEvents + tailEvents)
      measureWindow = (tailStart, tailEnd)
      batchesInWindow = tailBatches.size.toLong
      flatStart = Some(flat0)
      flatEnd = Some(flat1)
    }
  }
}
