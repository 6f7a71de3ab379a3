package graft.obs

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import scala.jdk.CollectionConverters._

/** The one stage timer: wall, process CPU and GC time per named stage,
  * always on, cumulative since JVM start — Structured Streaming's
  * per-trigger `durationMs`, one level below the trigger, with no flag.
  * `Metrics.snapshot` exposes the walls on `/metrics` as
  * `stage_ms_total{stage=…}`; whole-query timers (Bench, the probes)
  * take a [[measure]] of the same [[sample]] without the counters.
  *
  * CPU and GC are PROCESS-wide, not per-thread: a stage's CPU includes
  * every executor thread working for it, and also anything else the JVM
  * ran meanwhile. CPU reads -1 on a JVM without the `com.sun.management`
  * bean. Stage names must come from a fixed set (no batch ids): the
  * counter map is never pruned.
  */
object Stages {

  final case class Sample(wallNanos: Long, cpuNanos: Long, gcMillis: Long) {
    def -(o: Sample): Sample = Sample(wallNanos - o.wallNanos,
      if (cpuNanos < 0 || o.cpuNanos < 0) -1L else cpuNanos - o.cpuNanos,
      gcMillis - o.gcMillis)
    def wallSec: Double = wallNanos / 1e9
    def cpuSec: Double = cpuNanos / 1e9
    def gcSec: Double = gcMillis / 1e3
  }

  final case class Totals(calls: Long, wallMs: Double, cpuMs: Double, gcMs: Double) {
    def -(o: Totals): Totals =
      Totals(calls - o.calls, wallMs - o.wallMs, cpuMs - o.cpuMs, gcMs - o.gcMs)
  }

  private val osBean = ManagementFactory.getOperatingSystemMXBean
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq

  def sample(): Sample = Sample(System.nanoTime(),
    osBean match {
      case sun: com.sun.management.OperatingSystemMXBean => sun.getProcessCpuTime
      case _ => -1L
    },
    gcBeans.map(b => math.max(b.getCollectionTime, 0L)).sum)

  def measure[T](f: => T): (T, Sample) = {
    val s0 = sample()
    val r = f
    (r, sample() - s0)
  }

  private final class Cell { val calls, wallNanos, cpuNanos, gcMillis = new LongAdder }
  private val cells = new ConcurrentHashMap[String, Cell]()

  /** Run `f` as stage `name`, counted whether it returns or throws. */
  def time[T](name: String)(f: => T): T = {
    val s0 = sample()
    try f
    finally {
      val d = sample() - s0
      val c = cells.computeIfAbsent(name, _ => new Cell)
      c.calls.increment()
      c.wallNanos.add(d.wallNanos)
      c.cpuNanos.add(math.max(d.cpuNanos, 0L))
      c.gcMillis.add(d.gcMillis)
    }
  }

  def snapshot(): Map[String, Totals] =
    cells.asScala.map { case (name, c) =>
      name -> Totals(c.calls.sum(), c.wallNanos.sum() / 1e6,
        c.cpuNanos.sum() / 1e6, c.gcMillis.sum().toDouble)
    }.toMap

  /** What each stage gained since `before`; stages with no new call are left out. */
  def since(before: Map[String, Totals]): Map[String, Totals] =
    snapshot().map { case (n, t) => n -> before.get(n).fold(t)(t - _) }
      .filter(_._2.calls > 0)

  /** `{"<stage>":{"calls":n,"wall_s":…,"cpu_s":…,"gc_s":…},…}`, name-sorted. */
  def toJson(stages: Map[String, Totals]): String = {
    // Locale.ROOT: a comma-decimal default locale would corrupt the JSON
    def sec(ms: Double): String = "%.4f".formatLocal(java.util.Locale.ROOT, ms / 1e3)
    stages.toSeq.sortBy(_._1).map { case (n, t) =>
      s""""$n":{"calls":${t.calls},"wall_s":${sec(t.wallMs)},""" +
        s""""cpu_s":${sec(t.cpuMs)},"gc_s":${sec(t.gcMs)}}"""
    }.mkString("{", ",", "}")
  }
}
