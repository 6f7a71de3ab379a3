package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Process-level resource readings of the benchmark JVM. */
object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuS: Double = os.getProcessCpuTime / 1e9

  def gcS: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum / 1000.0

  /** Heap in use after a full collection plus class metadata in use, in
    * MB: the memory the run keeps live at this point, whatever heap size
    * the JVM has reserved. The second collection picks up what Spark's
    * cleaner releases once the first has cleared its weak references. JIT
    * code caches are left out: they grow with compilation timing, not
    * with what the program holds.
    */
  def liveMb(): Double = {
    System.gc()
    Thread.sleep(100)
    System.gc()
    val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    val meta = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.NON_HEAP && !p.getName.startsWith("CodeHeap"))
      .map(_.getUsage.getUsed).sum
    (heap + meta) / 1048576.0
  }

  /** VmHWM: the resident-set high-water mark of this process. */
  def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.trim.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(Double.NaN)
}

/** Wall, CPU and GC time of one phase. */
final case class Usage(wallS: Double, cpuS: Double, gcS: Double)

object Usage {
  def of[T](f: => T): (T, Usage) = {
    val (w0, c0, g0) = (System.nanoTime(), Jvm.cpuS, Jvm.gcS)
    val r = f
    (r, Usage((System.nanoTime() - w0) / 1e9, Jvm.cpuS - c0, Jvm.gcS - g0))
  }
}

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** What one run prints: metrics by name with unit, operations attempted
  * and failed, and every correctness problem found.
  */
final class Report {
  val metrics = mutable.LinkedHashMap[String, (Double, String)]()
  val problems = mutable.ArrayBuffer[String]()
  var attempted = 0L
  var failed = 0L

  def put(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)

  def check(ok: Boolean, what: => String): Unit =
    if (!ok) problems += what

  def count(attempts: Long, failures: Long): Unit = {
    attempted += attempts
    failed += failures
  }

  def correct: Boolean = problems.isEmpty

  def json: String = {
    def num(v: Double): String =
      if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
    val ms = metrics.map { case (k, (v, u)) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}"""
    }.mkString(", ")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$ms}}"""
  }
}

object Fs {
  def rmrf(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(q => Files.deleteIfExists(q))
      finally walk.close()
    }

  def list(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.toList.sortBy(_.getFileName.toString)
      finally s.close()
    }

  /** Regular data files under `dir` (recursively), skipping the hidden
    * and underscore-prefixed entries Spark writes beside its output.
    */
  def dataFiles(dir: Path, suffix: String): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val walk = Files.walk(dir)
      try walk.iterator().asScala.toList
        .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(suffix))
        .filterNot { p =>
          dir.relativize(p).iterator().asScala.exists { part =>
            val n = part.toString; n.startsWith(".") || n.startsWith("_")
          }
        }
        .sortBy(_.toString)
      finally walk.close()
    }

  /** Atomic rename inside one file system. */
  def move(src: Path, dst: Path): Unit = {
    Files.move(src, dst, StandardCopyOption.ATOMIC_MOVE); ()
  }
}

object Session {
  def create(master: String, cpus: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(master)
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
