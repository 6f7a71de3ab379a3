package org.apache.spark.sql.graftext

import scala.collection.mutable.ArrayBuffer
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.reflect.ClassTag

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import org.apache.spark.storage.StorageLevel

/** The one owner of scratch frames: the caches and `localCheckpoint`
  * pins an op builds for its own re-reads. As a reference flush owns the
  * buffer it ships (bulk.go:253-278), each frame has one of two
  * lifetimes (Structured Streaming's micro-batch and query):
  *  - [[scope]]: one call — a flush, a micro-batch, a training loop, an
  *    oracle key. Its own frames (not a nested scope's) are released when
  *    the body returns or throws, last registered first, so a cache over
  *    an earlier frame drops before the frame it reads.
  *  - [[forQuery]]: one streaming query's stream-static sides (a history
  *    index, a benchmark gram set), released when that query terminates,
  *    or at once if `start()` throws. A cache inside `foreachBatch` needs
  *    a batch scope instead: each batch plan is fresh, so a query-lifetime
  *    entry would leak one per trigger.
  *
  * Registering ([[cache]], [[keep]]) runs no job and, outside any scope,
  * records nothing: the frame is then a plain `.cache()`. A scope must
  * enclose every action that reads its frames — a released checkpoint
  * cannot recompute. Ops that return lazy frames over their scratch only
  * register, and the caller scopes the op together with its action: the
  * CDC ordinal ops' slim projections (`chunkSplit`, `batchAccumulate`,
  * `concurrentPartition`), the incremental-clean patches' probes (they
  * back the returned faces) and the iterative loops' last rounds are
  * scoped per key by `Verify`/`Bench` and per micro-batch by the legs.
  * Unscoped they stay for the session: MEMORY_AND_DISK disk blocks are
  * never evicted, and `localCheckpoint` pins outlive even
  * `clearCache()` — in a shared JVM they pressure every later query.
  *
  * Iterative loops (connected components, label propagation, PageRank,
  * the suffix-array doubling, BPE) checkpoint one round per step to cut
  * their lineage; [[rounds]] owns those pins. A round is released once
  * the next has materialized, the loop's fixed inputs when it returns,
  * and the frames its lazy result reads pass to the caller's scope.
  *
  * The scope stack is per thread: a patch builds and releases on one
  * driver thread while concurrent streams run in parallel. [[overlap]]
  * runs two chains on two driver threads inside one scope that both
  * register into.
  */
object Scratch {

  /** `pinned`: handed over materialized, so the checkpoint blocks at its
    * root (if any) go too.
    */
  private final case class Frame(df: DataFrame, pinned: Boolean)

  /** This thread's open scopes, innermost first. */
  private val open = new ThreadLocal[List[ArrayBuffer[Frame]]] {
    override def initialValue(): List[ArrayBuffer[Frame]] = Nil
  }

  private def push(): ArrayBuffer[Frame] = {
    val frames = ArrayBuffer.empty[Frame]
    open.set(frames :: open.get)
    frames
  }

  // synchronized: an [[overlap]] pool thread registers into its caller's scope
  private def register(f: Frame): DataFrame = {
    open.get.headOption.foreach(frames => frames.synchronized(frames += f))
    f.df
  }

  /** Run `body`; release the frames registered in it when it ends. */
  def scope[T](body: => T): T = {
    val frames = push()
    try body
    finally { open.set(open.get.tail); release(frames) }
  }

  /** `df.cache()`, owned by the innermost open scope. */
  def cache(df: DataFrame): DataFrame = register(Frame(df.cache(), pinned = false))

  /** `df` computed once into a persisted row buffer, by one job that also
    * folds each partition's rows with `fold` on the way in: a pass that
    * must both keep a frame and measure it (a flush's census) runs no
    * second job. The frame reads the buffer (`rows`, for narrow RDD work
    * such as [[Slices]]); both are owned by the innermost scope. The
    * buffer is a local checkpoint: every read sees the rows the fold saw,
    * in the same order, and a lost block fails the job instead of
    * recomputing a differently ordered partition.
    */
  def persist[A: ClassTag](df: DataFrame)(
      fold: Iterator[InternalRow] => A): Persisted[A] = {
    val rows = df.queryExecution.toRdd.map(_.copy())
      .persist(StorageLevel.MEMORY_AND_DISK).localCheckpoint()
    val frame = keep(df.sparkSession.asInstanceOf[classic.SparkSession]
      .internalCreateDataFrame(rows, df.schema))
    Persisted(frame, rows, rows.sparkContext.runJob(rows, fold))
  }

  /** [[persist]]'s result: the frame, its row buffer, the folds in
    * partition order.
    */
  final case class Persisted[A](frame: DataFrame, rows: RDD[InternalRow],
      folds: Array[A])

  /** A materialized frame (cache or checkpoint), owned by the innermost
    * scope. Only a checkpoint AT the frame's root is its own: a cache over
    * a caller's `localCheckpoint` frees the cache, never the caller's pin.
    */
  def keep(df: DataFrame): DataFrame = register(Frame(df, pinned = true))

  /** One iterative loop's frames, registered through [[rounds]]. */
  final class Rounds private[Scratch] (frames: ArrayBuffer[Frame]) {
    private var owned = List.empty[Frame]
    private var round: Option[Frame] = None

    private def own(df: DataFrame): Frame = {
      val f = Frame(df, pinned = true)
      owned ::= f
      frames += f
      f
    }

    /** A fixed input the rounds read, released when the loop returns. */
    def keep(df: DataFrame): DataFrame = own(df).df

    /** The new round, already materialized: the round it replaces goes. */
    def next(df: DataFrame): DataFrame = {
      round.foreach { prev => frames -= prev; release(Seq(prev)) }
      round = Some(own(df))
      df
    }

    /** `result` is what the loop returns: the loop frames it reads —
      * `result` itself, or a checkpoint among its plan's leaves — pass to
      * the caller's scope instead of being released.
      */
    def out(result: DataFrame): DataFrame = {
      val reads = result.queryExecution.analyzed
        .collect { case lr: LogicalRDD => lr.rdd.id }.toSet
      owned = owned.filterNot(f =>
        (f.df eq result) || rootPin(f.df).exists(r => reads(r.id)))
      result
    }

    private[Scratch] def owns(f: Frame): Boolean = owned.contains(f)
  }

  /** Run an iterative loop in a scope of its own. On return its kept
    * inputs and live round are released unless [[Rounds.out]] hands them
    * on; those, and what nested ops registered for their own results, pass
    * to the caller's innermost scope. A throw releases everything.
    */
  def rounds[T](body: Rounds => T): T = {
    val frames = push()
    val loop = new Rounds(frames)
    val result =
      try body(loop)
      catch { case t: Throwable => release(frames); throw t }
      finally open.set(open.get.tail)
    val (spent, handed) = frames.partition(loop.owns)
    release(spent)
    handed.foreach(register)
    result
  }

  /** Run `a` on a second driver thread while `b` runs on this one: Spark
    * schedules concurrent jobs FIFO, so one chain's rounds fill the
    * other's scheduling gaps. Both register into one [[rounds]] scope
    * that the pool thread joins; it passes their frames to the caller's
    * scope. A failing side first awaits the other — the pool runs its
    * eager rounds to completion regardless — so the survivor's frames
    * land before the scope releases them all.
    */
  def overlap[A, B](a: => A)(b: => B): (A, B) = rounds { _ =>
    val joined = open.get
    val pool = java.util.concurrent.Executors.newFixedThreadPool(1)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      val fa = Future { open.set(joined); a }
      val vb =
        try b
        catch { case t: Throwable => Await.ready(fa, Duration.Inf); throw t }
      (Await.result(fa, Duration.Inf), vb)
    } finally pool.shutdown()
  }

  /** Run `body` with no scope open: a session-lifetime table (a shared
    * artifact the first reading key builds) keeps its frames however the
    * building caller is scoped.
    */
  def unscoped[T](body: => T): T = {
    val saved = open.get
    open.set(Nil)
    try body
    finally open.set(saved)
  }

  /** Start the query `start` builds; the frames registered while building
    * it are released when it terminates, or at once if `start` throws.
    */
  def forQuery(spark: SparkSession)(start: => StreamingQuery): StreamingQuery = {
    val frames = push()
    val q =
      try start
      catch { case t: Throwable => release(frames); throw t }
      finally open.set(open.get.tail)
    if (frames.nonEmpty) {
      val listener = new StreamingQueryListener {
        import StreamingQueryListener._
        override def onQueryStarted(e: QueryStartedEvent): Unit = ()
        override def onQueryProgress(e: QueryProgressEvent): Unit = ()
        override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
          if (e.id == q.id) { release(frames); spark.streams.removeListener(this) }
      }
      spark.streams.addListener(listener)
      // an AvailableNow query over an empty dir can terminate before
      // addListener completes and never fire it; releasing twice is
      // harmless (both calls are idempotent)
      if (!q.isActive) { release(frames); spark.streams.removeListener(listener) }
    }
    q
  }

  /** Frames held by this thread's open scopes; 0 with no scope open. */
  def pending: Int = open.get.map(_.size).sum

  /** The checkpoint at `df`'s root, if it is one. */
  private def rootPin(df: DataFrame): Option[RDD[_]] =
    df.queryExecution.analyzed match {
      case lr: LogicalRDD => Some(lr.rdd)
      case _ => None
    }

  private def release(frames: collection.Seq[Frame]): Unit =
    frames.reverseIterator.foreach { f =>
      if (f.df.storageLevel != StorageLevel.NONE) f.df.unpersist(blocking = false)
      // straight to the context: every read of the frame ran inside the
      // scope, so RDD.unpersist's "cannot be recomputed" warning is moot
      if (f.pinned) rootPin(f.df).foreach(r =>
        r.sparkContext.unpersistRDD(r.id, blocking = false))
    }
}
