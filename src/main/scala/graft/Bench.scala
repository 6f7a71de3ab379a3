package graft
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftext.{CheckpointBlocks, Scratch}
import graft.obs.Stages
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Benchmark main: times every `SparkEntry.queries` key — or only the keys
  * named as arguments (`runMain graft.Bench dedup_lww knn_graph`) — over
  * `SPARK_GRAFT_SF_DIR` at `local[SPARK_GRAFT_CPUS]`, and writes one
  * per-key record three ways:
  *
  *  - `bench/last_run.json` (`SPARK_GRAFT_BENCH_OUT`), the only full-detail
  *    output: `_meta` (totals, contention verdicts, `top5_clean`, staged
  *    walls) plus one `{wall, cpu, load, eff_cores, gc_sec, blocks_dropped,
  *    storage_mb, contended, low_par, div_baseline, retimed, failed}`
  *    entry per key, slowest first — the layout `scripts/bench_diff.py`
  *    and the committed `bench/r*.json` snapshots share;
  *  - the second-to-last stdout line, `{"metric":"queries",…}`: each key's
  *    wall at 2 decimals;
  *  - the LAST stdout line, `{"metric":"total",…}`: total wall,
  *    `cpu_total_sec`, the failure count, `median_wall_vs_baseline`,
  *    `cpus` and `sf` — a fixed set of scalars, so it stays under 1500
  *    chars for any key count and survives a tail capture of stdout
  *    (190 key names alone are ~3 KB). Nothing of Bench's follows it.
  *
  * Method. A warm-up runs one query, reads every base table into the page
  * cache and materializes the sweep-lifetime shared tables
  * (`SparkEntry.warmShared`, the deployment's load-artifacts step). Every
  * timed run sits behind the keep-set barrier
  * (`CheckpointBlocks.resetForMeasurement`): all other keys' caches and
  * pinned checkpoints drop, the shared corpus tables stay. Each key is
  * timed twice (noop write: full column evaluation) and keeps the faster
  * successful run; a failed key is reported as failed, never as a
  * flattering ~0.1 s entry, and makes the process exit nonzero.
  *
  * Self-adjudication against box contention: a key is `contended`
  * (starved) when its process CPU is well under its wall, `low_par` when
  * a slow key ran far below the sweep's own median effective cores, and
  * `div_baseline` when it lands > 3x its row in the committed quiet-box
  * baseline (`bench/baseline.json`, `SPARK_GRAFT_BENCH_BASELINE`). The
  * slowest suspects plus the top 8 by wall get one more run at sweep end
  * (best of 3, `retimed`). `median_wall_vs_baseline` reads a uniform
  * drift of the whole box that the 3x gate cannot see. Both compare like
  * with like only: a baseline measured at another scale factor (sf-dir
  * basename) or core count (its `_meta.sf`/`cpus`) judges nothing, and
  * both read null (`baselineFor`).
  *
  * Baseline-refresh policy: the committed baseline is the last
  * consolidated quiet sweep. A deliberate plan change updates its own
  * rows from the next quiet sweep in the same commit (never hand-typed);
  * untouched rows are never edited.
  *
  * Staged walls: the incremental-clean keys price v1-build + patch in one
  * cell (the from-scratch oracle hash is the patch ≡ rebuild proof), so
  * after the sweep `SparkEntry.stagedWalls` splits each into `v1_build`
  * and `patch` (two runs, the one with the lower total kept whole) under
  * `_meta.stages`.
  */
object Bench {
  /** One key's kept measurement; `cpu` is -1 where the JVM reads none. */
  final case class Timing(wall: Double, cpu: Double, load: Double,
      failed: Boolean, retimed: Boolean = false, gc: Double = 0.0,
      dropped: Long = 0L, storageMb: Double = 0.0, divBaseline: Boolean = false)

  /** A 1-minute load average above this marks the box busy — before the
    * sweep (`contended_at_start`) or at a low-parallel key's measurement
    * (`low_par_hot_load`). */
  val LoadThreshold = 4.0

  // waiting for cores: cpu ≪ wall after table warm-up (no I/O wait left)
  def isStarved(t: Timing): Boolean =
    !t.failed && t.wall > 0.5 && t.cpu >= 0 && t.cpu < 0.6 * t.wall
  def effCores(t: Timing): Double =
    if (t.wall > 0 && t.cpu >= 0) t.cpu / t.wall else -1.0
  private def median(xs: Iterable[Double]): Double =
    xs.toSeq.sorted.lift(xs.size / 2).getOrElse(-1.0)
  /** The sweep as its own parallelism control group: the median effective
    * cores of its non-trivial successful keys. */
  def medianEffCores(ts: Iterable[Timing]): Double =
    median(ts.filter(t => !t.failed && t.wall > 0.5 && t.cpu >= 0).map(effCores))

  /** A sweep and what it is judged against: all the outputs render. */
  final case class Sweep(results: Map[String, Timing], medianEff: Double,
      baseline: Map[String, Double], cpus: Int, sf: String,
      loadAtStart: Double, heapMaxMb: Long,
      stages: Map[String, Map[String, Double]] = Map.empty) {
    // slow AND low-parallel only: sub-second CDC ops legitimately run at
    // 1-2 cores, and a sweep's own load keeps any load clause hot; the
    // 1.5-core floor survives a median dragged down by whole-box contention
    def lowPar(t: Timing): Boolean = !t.failed && t.wall > 2.0 && t.cpu >= 0 &&
      effCores(t) < math.max(1.5, 0.25 * medianEff)
    def diverges(key: String, t: Timing): Boolean =
      !t.failed && baseline.get(key).exists(b => t.wall > 3.0 * b && t.wall > 1.0)
    def suspect(key: String, t: Timing): Boolean =
      isStarved(t) || lowPar(t) || diverges(key, t)
    def slowest: Seq[(String, Timing)] = results.toSeq.sortBy(-_._2.wall)
    def keysWhere(p: Timing => Boolean): Seq[String] = slowest.collect {
      case (k, t) if p(t) => k }
    def total: Double = results.values.map(_.wall).sum
    def cpuTotal: Double = results.values.map(t => math.max(t.cpu, 0.0)).sum
    def nFailed: Int = results.values.count(_.failed)
    def contendedAtStart: Boolean = loadAtStart > LoadThreshold
    def contended: Boolean = contendedAtStart ||
      keysWhere(isStarved).size >= 3 || keysWhere(lowPar).size >= 3
    // median per-key wall ratio vs the baseline; sub-0.2 s rows are noise
    def medianVsBaseline: Option[Double] = Option.when(baseline.nonEmpty)(
      median(results.collect {
        case (k, t) if !t.failed && baseline.get(k).exists(_ > 0.2) =>
          t.wall / baseline(k) }))
    // a flag or ratio against no comparable baseline renders as null
    def judged[A](v: A): Option[A] = Option.when(baseline.nonEmpty)(v)
  }

  private val json = new ObjectMapper()
  private def round(d: Double, places: Int): Double =
    math.rint(d * math.pow(10, places)) / math.pow(10, places)
  private def num(d: Option[Double]): java.lang.Double =
    d.map(v => java.lang.Double.valueOf(round(v, 4))).orNull
  private def walls(keys: Seq[(String, Timing)], places: Int): ObjectNode =
    keys.foldLeft(json.createObjectNode())((n, kt) =>
      n.put(kt._1, round(kt._2.wall, places)))

  /** The last stdout line: fixed scalars only, whatever the key count. */
  def summaryLine(s: Sweep): String = json.writeValueAsString(
    json.createObjectNode().put("metric", "total")
      .put("value", round(s.total, 2)).put("unit", "sec")
      .put("cpu_total_sec", round(s.cpuTotal, 2)).put("failed", s.nFailed)
      .put("median_wall_vs_baseline", num(s.medianVsBaseline))
      .put("cpus", s.cpus).put("sf", s.sf))

  /** The second-to-last stdout line: every key's wall, slowest first. */
  def compactLine(s: Sweep): String = json.writeValueAsString(json.createObjectNode()
    .put("metric", "queries").put("unit", "sec").set("queries", walls(s.slowest, 2)))

  /** `bench/last_run.json`: `_meta` plus one full entry per key. */
  def lastRunJson(s: Sweep): String = {
    val root = json.createObjectNode()
    val meta = root.putObject("_meta").put("sf", s.sf).put("total_sec", round(s.total, 4))
      .put("cpu_total_sec", round(s.cpuTotal, 4))
      .put("gc_total_sec", round(s.results.values.map(_.gc).sum, 4))
      .put("cpus", s.cpus).put("heap_max_mb", s.heapMaxMb)
      .put("n_queries", s.results.size).put("failed", s.nFailed)
      .put("contended", s.contended).put("contended_at_start", s.contendedAtStart)
      .put("load_at_start", round(s.loadAtStart, 4))
      .put("median_eff_cores", round(s.medianEff, 4))
      .put("starved", s.keysWhere(isStarved).size)
      .put("low_par", s.keysWhere(s.lowPar).size)
    // a low_par flag measured under a hot load is about the box, not the plan
    s.keysWhere(t => s.lowPar(t) && t.load > LoadThreshold)
      .foldLeft(meta.putArray("low_par_hot_load"))(_.add(_))
    meta.put("div_baseline", s.judged(Integer.valueOf(s.keysWhere(_.divBaseline).size)).orNull)
      .put("median_wall_vs_baseline", num(s.medianVsBaseline))
      .put("baseline_entries", s.baseline.size).put("retimed", s.keysWhere(_.retimed).size)
      .set[ObjectNode]("top5", walls(s.slowest.take(5), 4))
    // the slowest keys whose timing no heuristic doubts; fewer than five
    // when contention ate the tail, which is itself the signal
    meta.set[ObjectNode]("top5_clean",
      walls(s.slowest.filterNot { case (k, t) => s.suspect(k, t) }.take(5), 4))
    val stages = meta.putObject("stages")
    for ((k, m) <- s.stages.toSeq.sortBy(_._1); (st, v) <- m.toSeq.sortBy(_._1))
      stages.withObjectProperty(k).put(st, round(v, 4))
    s.slowest.foreach { case (k, t) =>
      root.putObject(k).put("wall", round(t.wall, 4)).put("cpu", round(t.cpu, 4))
        .put("load", round(t.load, 4)).put("eff_cores", round(effCores(t), 4))
        .put("gc_sec", round(t.gc, 4)).put("blocks_dropped", t.dropped)
        .put("storage_mb", round(t.storageMb, 4)).put("contended", isStarved(t))
        .put("low_par", s.lowPar(t))
        .put("div_baseline", s.judged(java.lang.Boolean.valueOf(t.divBaseline)).orNull)
        .put("retimed", t.retimed).put("failed", t.failed)
    }
    json.writerWithDefaultPrettyPrinter().writeValueAsString(root)
  }

  /** Per-key walls of a baseline file in any JSON layout; `_meta` skipped. */
  def loadBaseline(text: String): Map[String, Double] =
    json.readTree(text).properties().asScala.collect {
      case e if e.getKey != "_meta" && e.getValue.path("wall").isNumber =>
        e.getKey -> e.getValue.get("wall").asDouble
    }.toMap

  /** The baseline's walls if it was measured at this run's scale factor
    * (sf-dir basename) and core count, else why not: a ratio between
    * different corpora or core counts reads as box drift.
    */
  def baselineFor(text: String, sfDir: String, cpus: Int): Either[String, Map[String, Double]] = {
    val meta = json.readTree(text).path("_meta")
    def sfName(dir: String) = dir.stripSuffix("/").split('/').last
    val (sf, at) = (sfName(meta.path("sf").asText("")), meta.path("cpus").asInt(-1))
    if (sf == sfName(sfDir) && at == cpus) Right(loadBaseline(text))
    else Left(s"baseline measured at $sf on $at cpus, this run is ${sfName(sfDir)} " +
      s"on $cpus — div_baseline and median_wall_vs_baseline are null")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val queries = SparkEntry.queries
    val unknown = args.filterNot(queries.contains)
    require(unknown.isEmpty, s"unknown bench keys: ${unknown.mkString(" ")}")
    val keys = if (args.nonEmpty) args.toSeq.distinct else queries.keys.toSeq
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val osBean = ManagementFactory.getOperatingSystemMXBean
    val loadAtStart = osBean.getSystemLoadAverage
    if (loadAtStart > LoadThreshold) System.err.println(
      s"[bench] WARNING: 1-min load average $loadAtStart > $LoadThreshold " +
        "before sweep start — timings below are suspect (contended_at_start)")
    // stderr notes a failure; every note precedes the two stdout lines
    def attempt[A](what: String)(f: => A): Option[A] =
      try Some(f) catch { case e: Throwable =>
        System.err.println(s"[bench] $what failed: ${e.getClass.getName}: ${e.getMessage}")
        None }
    // noop write forces FULL column evaluation — count() would let
    // Catalyst prune projection-only columns
    def exec(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    attempt("warm-up")(exec(queries("message_typing")(spark, sfDir)))
    for (t <- Seq("documents", "embeddings", "customer"))
      attempt(s"warm-up $t")(exec(spark.read.parquet(s"$sfDir/$t.parquet")))
    attempt("warmShared")(SparkEntry.warmShared(spark, sfDir))
    def keepSet: Seq[DataFrame] =
      try SparkEntry.sharedCaches(spark, sfDir)
      catch { case _: Throwable => Nil }
    val drops = CheckpointBlocks.installDropCounter(spark)
    def timeOnce(name: String): Timing = {
      CheckpointBlocks.resetForMeasurement(spark, keepSet)
      // the barrier's own block drops are not the timed window's
      CheckpointBlocks.flushListeners(spark)
      val d0 = drops.count
      // the key's scratch is released after the timed window
      val (ok, d) = Scratch.scope(Stages.measure(
        attempt(name)(exec(queries(name)(spark, sfDir))).isDefined))
      CheckpointBlocks.flushListeners(spark)
      Timing(d.wallSec, if (d.cpuNanos >= 0) d.cpuSec else -1.0,
        osBean.getSystemLoadAverage, failed = !ok, gc = d.gcSec,
        dropped = drops.count - d0,
        storageMb = CheckpointBlocks.storageBytesUsed(spark) / 1048576.0)
    }
    val baselinePath =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_BASELINE", "bench/baseline.json")
    val baseline =
      try baselineFor(Files.readString(Paths.get(baselinePath)), sfDir, cpus) match {
        case Right(b) =>
          if (b.isEmpty) System.err.println(s"[bench] WARNING: $baselinePath " +
            "holds no baseline entries — divergence adjudication is OFF this run")
          b
        case Left(why) =>
          System.err.println(s"[bench] $baselinePath: $why")
          Map.empty[String, Double]
      } catch { case _: java.io.IOException => Map.empty[String, Double] }
    val firstPass = keys.map { name =>
      // best of 2; a throw's time-to-failure is not a measurement
      val runs = (1 to 2).map(_ => timeOnce(name))
      val good = runs.filter(!_.failed)
      name -> (if (good.nonEmpty) good else runs).minBy(_.wall)
        .copy(failed = good.isEmpty)
    }.toMap
    val first = Sweep(firstPass, medianEffCores(firstPass.values), baseline,
      cpus, sfDir, loadAtStart, Runtime.getRuntime.maxMemory / 1048576)
    // re-time the 8 slowest suspects AND, unconditionally, the top 8 by
    // wall; the reported timing is the best of all runs
    val retimeCap = 8
    val suspects = (first.slowest.filter { case (k, t) => first.suspect(k, t) }
      .take(retimeCap) ++ first.slowest.filter(!_._2.failed).take(retimeCap))
      .map(_._1).toSet
    val results = firstPass.map { case (name, t) =>
      val adjudicated = if (!suspects(name)) t else {
        val again = timeOnce(name)
        (if (!again.failed && again.wall < t.wall) again else t).copy(retimed = true)
      }
      // div_baseline judges the FINAL number
      name -> adjudicated.copy(divBaseline = first.diverges(name, adjudicated))
    }
    // staged sub-walls behind the same barrier; a failure drops the entry
    val stages = SparkEntry.stagedWalls.filter(kv => results.contains(kv._1))
      .flatMap { case (name, fn) =>
        (1 to 2).flatMap { _ =>
          CheckpointBlocks.resetForMeasurement(spark, keepSet)
          attempt(s"staged $name")(Scratch.scope(fn(spark, sfDir)))
        }.minByOption(_.values.sum).map(name -> _)
      }
    val sweep = first.copy(results = results, stages = stages)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench/last_run.json")
    attempt(s"writing $outPath") {
      val p = Paths.get(outPath)
      if (p.getParent != null) Files.createDirectories(p.getParent)
      Files.writeString(p, lastRunJson(sweep) + "\n")
    }
    spark.stop()
    println(compactLine(sweep))
    println(summaryLine(sweep))
    if (sweep.nFailed > 0) sys.exit(1)
  }
}
