package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** Everything a workload reads and fills in. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
    val cpus: Int, val work: Path, val benchDir: Path, val tracer: Tracer,
    val listeners: Option[Listeners]) {
  val report = new Report
  /** Input generations per run; `setup_s` is their median. */
  val SetupReps = 3
  val phases = mutable.LinkedHashMap[String, Usage]()
  val perLayer = mutable.LinkedHashMap[String, (Double, String)]()
  var measureWindow: (Long, Long) = (0L, 0L)
  var batchesInWindow = 0L
  var flatStart: Option[Flatness] = None
  var flatEnd: Option[Flatness] = None
  /** Largest `Jvm.liveMb` over the checkpoints a workload takes between
    * its phases, outside every timed interval.
    */
  var peakLiveMb = 0.0

  def liveCheckpoint(): Unit = peakLiveMb = math.max(peakLiveMb, Jvm.liveMb())

  private def d(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  /** engine.* from the progress reports of data-carrying batches */
  def engineFrom(bs: Seq[StreamingQueryProgress]): Unit = {
    perLayer("engine.batches") = (bs.size.toDouble, "count")
    perLayer("engine.events_per_batch_p50") = (Stats.median(bs.map(_.numInputRows.toDouble)), "count")
    perLayer("engine.trigger_ms_p50") = (Stats.median(bs.map(d(_, "triggerExecution"))), "ms")
    perLayer("engine.add_batch_ms_p50") = (Stats.median(bs.map(d(_, "addBatch"))), "ms")
    perLayer("engine.overhead_ms_p50") =
      (Stats.median(bs.map(p => d(p, "triggerExecution") - d(p, "addBatch"))), "ms")
  }

  def engineSpans(bs: Seq[StreamingQueryProgress]): Unit = {
    // engine phase spans: each batch's durationMs parts laid end to end
    // under a root that spans its triggerExecution
    bs.foreach { p =>
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli - tracer.t0EpochMs.toDouble
      val root = tracer.newId()
      val total = d(p, "triggerExecution")
      var at = start
      Seq("latestOffset", "queryPlanning", "getBatch", "addBatch", "walCommit", "commitOffsets")
        .foreach { k =>
          val v = d(p, k)
          if (v > 0) { tracer.add(Span(tracer.newId(), root, s"engine.$k", at, at + v, s"batch=${p.batchId}")); at += v }
        }
      tracer.add(Span(root, 0L, "engine.batch", start, start + math.max(total, at - start), s"batch=${p.batchId}"))
    }
  }

  /** EsBulkSink.* from what the sink wrote during the measured phase */
  def sinkFrom(out: BulkCheck.Output, deadRows: Long, eventsIn: Long): Unit = {
    perLayer("EsBulkSink.bytes_per_event") = (out.bytes.toDouble / eventsIn, "B")
    perLayer("EsBulkSink.requests") = (out.requests.toDouble, "count")
    perLayer("EsBulkSink.dead_letter_rows") = (deadRows.toDouble, "count")
  }
}

/** Runs one workload and prints one JSON result as the last stdout line.
  *
  * {{{
  * Main --workload cdc_restart|pg_backfill|corpus_curation --seed N
  *      --seconds S --trace 0|1 --work DIR --bench-dir DIR
  * }}}
  */
object Main {

  val Workloads = Seq("cdc_restart", "pg_backfill", "corpus_curation")

  val EndToEnd = Seq("setup_s", "events_per_s", "cpu_s_per_mevent", "freshness_p50_s",
    "freshness_p90_s", "wall_s", "cpu_s", "peak_rss_mb")

  val ReplayLayers = Seq("source.read", "CdcOps.typed", "CdcOps.handler", "CdcOps.dedup",
    "CdcOps.encode", "EsBulkSink.write_batch", "PgOutputOps.decode",
    "PgOutputOps.relationalize", "PgOutputOps.actions")

  /** Every per-layer metric with its unit, in print order. A layer the
    * workload does not exercise prints 0.
    */
  val PerLayer: Seq[(String, String)] =
    Seq("engine.batches" -> "count", "engine.events_per_batch_p50" -> "count",
      "engine.trigger_ms_p50" -> "ms", "engine.add_batch_ms_p50" -> "ms",
      "engine.overhead_ms_p50" -> "ms",
      "source.read_s" -> "s", "source.read_s_tail" -> "s",
      "source.read_pg_s" -> "s", "source.read_pg_s_tail" -> "s",
      "source.backlog_segments_max" -> "count", "source.generator_late_ms_max" -> "ms") ++
    Seq("typed", "handler", "dedup", "encode").flatMap(s =>
      Seq(s"CdcOps.${s}_s" -> "s", s"CdcOps.${s}_s_tail" -> "s")) ++
    Seq("CdcOps.dedup_ratio" -> "ratio") ++
    Seq("decode", "relationalize", "actions").flatMap(s =>
      Seq(s"PgOutputOps.${s}_s" -> "s", s"PgOutputOps.${s}_s_tail" -> "s")) ++
    Seq("PgCaptureStream.process_batch_s" -> "s",
      "EsBulkSink.write_batch_s" -> "s", "EsBulkSink.write_batch_s_tail" -> "s",
      "EsBulkSink.bytes_per_event" -> "B", "EsBulkSink.requests" -> "count",
      "EsBulkSink.dead_letter_rows" -> "count",
      "spark.jobs_per_batch" -> "count", "spark.tasks" -> "count",
      "spark.actions" -> "count",
      "spark.shuffle_write_mb" -> "MB", "spark.spill_mb" -> "MB",
      "spark.persistent_rdds_delta" -> "count", "spark.storage_mb_end" -> "MB") ++
    Seq("persistent_rdds" -> "count", "cache_entries" -> "count",
      "storage_mb" -> "MB", "state_versions" -> "count").flatMap { case (k, u) =>
      Seq(s"flat.${k}_start" -> u, s"flat.${k}_end" -> u) } ++
    Seq("cpu_s", "gc_s").flatMap(k =>
      Seq("setup", "warmup", "measure", "check").map(p => s"jvm.$k.$p" -> "s")) ++
    Seq("jvm.vmhwm_mb" -> "MB") ++
    Corpus.Keys.flatMap { case (key, mod) =>
      Seq(s"$mod.$key.wall_s" -> "s", s"$mod.$key.cpu_s" -> "s",
        s"$mod.$key.shuffle_mb" -> "MB", s"$mod.$key.spill_mb" -> "MB") } ++
    ReplayLayers.map(l => s"speedup.$l" -> "x") ++
    EndToEnd.map(m => s"traced.$m" -> unitOf(m)) ++
    Seq("trace.spans" -> "count", "trace.spans_outside_parent" -> "count",
      "trace.self_ms_min" -> "ms")

  def unitOf(m: String): String = m match {
    case "events_per_s" => "1/s"
    case "peak_rss_mb" => "MB"
    case _ => "s"
  }

  def parse(args: Array[String]): Map[String, String] =
    args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap

  /** Prints `key, rows, digest` of saved key results (one parquet dir per
    * key under `dir`, as `graft.Verify` writes them) — how the recorded
    * corpus digests are re-derived from oracle-checked outputs.
    */
  def digests(dir: Path): Unit = {
    val spark = Session.create("local[2]", 2, dir.resolve("_digest_work"))
    Corpus.Keys.foreach { case (key, _) =>
      val df = spark.read.parquet(dir.resolve(key).toString)
      val r = df.agg(Corpus.digestCols(df).head, Corpus.digestCols(df).tail: _*).head()
      println(s"$key\t${r.getLong(0)}\t${r.getString(1)}")
    }
    spark.stop()
  }

  def main(args: Array[String]): Unit = {
    val a = parse(args)
    if (a.contains("digest-dir")) { digests(Paths.get(a("digest-dir")).toAbsolutePath); return }
    val workload = a.getOrElse("workload", "")
    require(Workloads.contains(workload), s"--workload must be one of ${Workloads.mkString(", ")}")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a.getOrElse("trace", "0") == "1"
    val work = Paths.get(a("work")).toAbsolutePath
    val benchDir = Paths.get(a("bench-dir")).toAbsolutePath
    val cpus = Runtime.getRuntime.availableProcessors
    Files.createDirectories(work)

    val tracer = new Tracer(trace)
    val spark = Session.create(s"local[$cpus]", cpus, work)
    val listeners = if (trace) Some(new Listeners(spark)) else None
    val ctx = new Ctx(spark, seed, seconds, cpus, work, benchDir, tracer, listeners)
    workload match {
      case "cdc_restart" => CdcRestart.run(ctx)
      case "pg_backfill" => PgBackfill.run(ctx)
      case "corpus_curation" => Corpus.run(ctx)
    }
    ctx.liveCheckpoint()
    ctx.report.put("peak_rss_mb", ctx.peakLiveMb, "MB")
    ctx.perLayer("jvm.vmhwm_mb") = (Jvm.peakRssMb, "MB")
    ctx.phases.foreach { case (p, u) =>
      System.err.println(f"[graftbench] phase $p%-8s wall ${u.wallS}%7.2f s  cpu ${u.cpuS}%7.2f s  gc ${u.gcS}%6.2f s")
    }
    val e2e = ctx.report.metrics.toMap
    val missing = EndToEnd.filterNot(e2e.contains)
    ctx.report.check(missing.isEmpty, s"metrics not measured: ${missing.mkString(", ")}")

    val out = if (!trace) ctx.report else traced(ctx, workload)
    spark.stop()
    println(out.json)
    System.out.flush()
    if (!out.correct) {
      System.err.println("[graftbench] correctness checks failed:")
      out.problems.foreach(p => System.err.println(s"[graftbench]   $p"))
      sys.exit(1)
    }
  }

  /** The traced run's per-layer report; the workload already filled its
    * own layers into `ctx.perLayer`.
    */
  def traced(ctx: Ctx, workload: String): Report = {
    import ctx._
    val l = listeners.get
    l.settle()
    val (m0, m1) = measureWindow
    val w = l.scheduler.window(m0, m1)
    val batches = math.max(1L, batchesInWindow)
    perLayer("spark.jobs_per_batch") = (w.jobs.toDouble / batches, "count")
    perLayer("spark.tasks") = (w.tasks.toDouble, "count")
    perLayer("spark.actions") = (l.actions.count(m0, m1).toDouble, "count")
    perLayer("spark.shuffle_write_mb") = (w.shuffleWriteMb, "MB")
    perLayer("spark.spill_mb") = (w.spillMb, "MB")
    for (f0 <- flatStart; f1 <- flatEnd) {
      perLayer("spark.persistent_rdds_delta") = ((f1.persistentRdds - f0.persistentRdds).toDouble, "count")
      perLayer("spark.storage_mb_end") = (f1.storageMb, "MB")
      perLayer("flat.persistent_rdds_start") = (f0.persistentRdds.toDouble, "count")
      perLayer("flat.persistent_rdds_end") = (f1.persistentRdds.toDouble, "count")
      perLayer("flat.cache_entries_start") = (f0.cacheEntries.toDouble, "count")
      perLayer("flat.cache_entries_end") = (f1.cacheEntries.toDouble, "count")
      perLayer("flat.storage_mb_start") = (f0.storageMb, "MB")
      perLayer("flat.storage_mb_end") = (f1.storageMb, "MB")
      perLayer("flat.state_versions_start") = (f0.stateVersions.toDouble, "count")
      perLayer("flat.state_versions_end") = (f1.stateVersions.toDouble, "count")
    }
    phases.foreach { case (p, u) =>
      perLayer(s"jvm.cpu_s.$p") = (u.cpuS, "s")
      perLayer(s"jvm.gc_s.$p") = (u.gcS, "s")
    }
    report.metrics.foreach { case (k, v) => perLayer(s"traced.$k") = v }

    // replay harness at local[cpus], then once more at local[1]
    val rin = Replay.generate(spark, seed, work.resolve("replay"))
    val full = Replay.layers(spark, rin, work.resolve("replay_n"), 2, tracer, s"local[$cpus]")
    full.foreach { case (k, (_, self)) => perLayer(k) = (self, "s") }
    perLayer("CdcOps.dedup_ratio") = (Replay.dedupRatio(spark, rin), "ratio")
    if (!perLayer.contains("engine.batches") || !perLayer.contains("PgCaptureStream.process_batch_s")) {
      val t0 = System.currentTimeMillis()
      Replay.captureDrain(spark, rin, work)
      l.settle()
      val bs = l.progress.batches(t0, System.currentTimeMillis(), "graft-pgcapture")
      engineSpans(bs)
      if (!perLayer.contains("engine.batches")) engineFrom(bs)
      perLayer.getOrElseUpdate("PgCaptureStream.process_batch_s",
        (Stats.median(bs.map(_.durationMs.get("addBatch").toDouble / 1000.0)), "s"))
    }
    if (!perLayer.contains("EsBulkSink.requests")) {
      val out = BulkCheck.read(work.resolve("replay_n/replay_sink/bulk"))
      sinkFrom(out, 0L, CdcRestart.BigSegEvents.toLong)
    }
    spark.stop()
    val one = Session.create("local[1]", 1, work.resolve("local1"))
    val single = Replay.layers(one, rin, work.resolve("replay_1"), 1, tracer, "local[1]")
    ReplayLayers.foreach { layer =>
      perLayer(s"speedup.$layer") = (single(s"${layer}_s")._1 / full(s"${layer}_s")._1, "x")
    }
    one.stop()

    perLayer("trace.spans") = (tracer.spans.size.toDouble, "count")
    val outside = tracer.outsideParent
    val minSelf = tracer.minSelfMs
    perLayer("trace.spans_outside_parent") = (outside.toDouble, "count")
    perLayer("trace.self_ms_min") = (minSelf, "ms")
    report.check(outside == 0, s"$outside spans lie outside their parent")
    report.check(minSelf > -1e-6, f"a span's children overlap: self time $minSelf%.3f ms")
    val spanFile = work.getParent.getParent.resolve("traces").resolve(s"$workload-seed$seed.spans.jsonl")
    tracer.write(spanFile)
    System.err.println(s"[graftbench] spans written to $spanFile")

    val r = new Report
    r.attempted = report.attempted
    r.failed = report.failed
    r.problems ++= report.problems
    PerLayer.foreach { case (k, u) =>
      val (v, _) = perLayer.getOrElse(k, (0.0, u))
      r.put(k, v, u)
    }
    val unknown = perLayer.keys.filterNot(PerLayer.map(_._1).toSet)
    if (unknown.nonEmpty) System.err.println(s"[graftbench] unlisted per-layer metrics: ${unknown.mkString(", ")}")
    r
  }
}
