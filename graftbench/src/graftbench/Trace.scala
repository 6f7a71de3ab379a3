package graftbench

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. `parent` is 0 for a root; `tag` carries the run
  * id or batch id the span belongs to. Times are milliseconds since the
  * tracer started.
  */
final case class Span(id: Long, parent: Long, name: String,
    startMs: Double, endMs: Double, tag: String) {
  def durMs: Double = endMs - startMs
}

/** In-memory span buffer, written out once when the run ends. With
  * tracing off, `span` only runs its body.
  */
final class Tracer(val on: Boolean) {
  private val t0Ns = System.nanoTime()
  val t0EpochMs: Long = System.currentTimeMillis()
  private val ids = new AtomicLong(0)
  private val buf = mutable.ArrayBuffer[Span]()

  def nowMs: Double = (System.nanoTime() - t0Ns) / 1e6

  def span[T](name: String, parent: Long = 0L, tag: String = "")(f: Long => T): T =
    if (!on) f(0L)
    else {
      val id = ids.incrementAndGet()
      val s = nowMs
      try f(id)
      finally add(Span(id, parent, name, s, nowMs, tag))
    }

  def newId(): Long = ids.incrementAndGet()

  def add(s: Span): Unit = if (on) buf.synchronized { buf += s; () }

  def spans: Seq[Span] = buf.synchronized(buf.toList)

  /** Self time: the span's duration minus its children's durations. The
    * self times of a tree sum to its root's duration exactly when every
    * span has a known parent, lies inside it, and does not overlap its
    * siblings — what `outsideParent` and a non-negative `selfMs` check.
    */
  def selfMs(s: Span, kids: Map[Long, Seq[Span]]): Double =
    s.durMs - kids.getOrElse(s.id, Nil).map(_.durMs).sum

  /** Spans whose parent is missing or does not contain them. */
  def outsideParent: Int = {
    val all = spans
    val byId = all.map(s => s.id -> s).toMap
    all.count { s =>
      s.parent != 0L && byId.get(s.parent).forall(p => s.startMs < p.startMs || s.endMs > p.endMs)
    }
  }

  /** Smallest self time of any span; below 0 when siblings overlap. */
  def minSelfMs: Double = {
    val all = spans
    val kids = all.groupBy(_.parent)
    if (all.isEmpty) 0.0 else all.map(selfMs(_, kids)).min
  }

  def write(path: Path): Unit = {
    Files.createDirectories(path.getParent)
    val kids = spans.groupBy(_.parent)
    val lines = spans.sortBy(_.startMs).map { s =>
      f"""{"id": ${s.id}, "parent": ${s.parent}, "name": "${s.name}", "tag": "${s.tag}", "start_ms": ${s.startMs}%.3f, "end_ms": ${s.endMs}%.3f, "self_ms": ${selfMs(s, kids)}%.3f}"""
    }
    Files.write(path, lines.asJava); ()
  }
}

/** Job and task counts from the scheduler's listener bus. Records are
  * time-stamped, so any phase can be summed after the fact by window.
  */
final class SchedulerCounts extends SparkListener {
  import SchedulerCounts._
  private val jobs = mutable.ArrayBuffer[Long]()
  private val tasks = mutable.ArrayBuffer[TaskRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.synchronized { jobs += e.time; () }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val rec =
      if (m == null) TaskRec(e.taskInfo.finishTime, 0L, 0L)
      else TaskRec(e.taskInfo.finishTime, m.shuffleWriteMetrics.bytesWritten,
        m.diskBytesSpilled)
    tasks.synchronized { tasks += rec; () }
  }

  def window(fromMs: Long, toMs: Long): Window = {
    val j = jobs.synchronized(jobs.count(t => t >= fromMs && t < toMs))
    val ts = tasks.synchronized(tasks.filter(t => t.finishMs >= fromMs && t.finishMs < toMs).toList)
    Window(j, ts.size, ts.map(_.shuffleWriteBytes).sum / 1048576.0,
      ts.map(_.spillBytes).sum / 1048576.0)
  }
}

object SchedulerCounts {
  final case class TaskRec(finishMs: Long, shuffleWriteBytes: Long, spillBytes: Long)
  final case class Window(jobs: Long, tasks: Long, shuffleWriteMb: Double, spillMb: Double)
}

/** Every progress report of every streaming query, as delivered. */
final class ProgressLog extends StreamingQueryListener {
  private val buf = mutable.ArrayBuffer[StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    buf.synchronized { buf += e.progress; () }

  /** Progress of data-carrying batches whose trigger started in the
    * window (epoch ms), optionally of one query name prefix.
    */
  def batches(fromMs: Long, toMs: Long, namePrefix: String = ""): Seq[StreamingQueryProgress] =
    buf.synchronized(buf.toList).filter { p =>
      val t = java.time.Instant.parse(p.timestamp).toEpochMilli
      t >= fromMs && t < toMs && p.numInputRows > 0 &&
        Option(p.name).getOrElse("").startsWith(namePrefix)
    }
}

/** Successful batch-API actions (collect, count, writes) per window. */
final class ActionLog extends QueryExecutionListener {
  private val ends = mutable.ArrayBuffer[Long]()
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    ends.synchronized { ends += System.currentTimeMillis(); () }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  def count(fromMs: Long, toMs: Long): Long =
    ends.synchronized(ends.count(t => t >= fromMs && t < toMs)).toLong
}

/** The three listener kinds, registered together for a traced run. */
final class Listeners(spark: SparkSession) {
  val scheduler = new SchedulerCounts
  val progress = new ProgressLog
  val actions = new ActionLog
  spark.sparkContext.addSparkListener(scheduler)
  spark.streams.addListener(progress)
  spark.listenerManager.register(actions)

  /** The listener bus delivers asynchronously: give it time to catch up
    * before a window is read.
    */
  def settle(): Unit = Thread.sleep(300)
}

/** Long-lived-stream flatness: what a soak must show does not grow. */
final case class Flatness(persistentRdds: Long, cacheEntries: Long,
    storageMb: Double, stateVersions: Long)

object Flatness {
  def read(spark: SparkSession, stateRoots: Seq[Path]): Flatness = {
    val sc = spark.sparkContext
    val storage = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0
    // CacheManager keeps its entries in a private field; read its size
    // reflectively, -1 when a Spark upgrade renames it
    val entries =
      try {
        val cm = spark.sharedState.cacheManager
        val f = cm.getClass.getDeclaredField("cachedData")
        f.setAccessible(true)
        f.get(cm) match {
          case s: scala.collection.Seq[_] => s.size.toLong
          case _ => -1L
        }
      } catch { case _: Exception => -1L }
    val versions = stateRoots.map { root =>
      Fs.list(root).count(_.getFileName.toString.startsWith("b_")).toLong
    }.sum
    Flatness(sc.getPersistentRDDs.size.toLong, entries, storage, versions)
  }
}
