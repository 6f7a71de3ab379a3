package org.apache.spark.sql.graftext

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
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
  * `concurrentPartition`) and the incremental-clean patches' probes
  * (they back the returned faces) are scoped per key by `Verify`/`Bench`
  * and per micro-batch by `IncCleanStream`. Unscoped they stay cached
  * for the session, and MEMORY_AND_DISK disk blocks are never evicted.
  * The scope stack is per thread: a patch builds and releases on one
  * driver thread while concurrent streams run in parallel.
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

  private def register(f: Frame): DataFrame = { open.get.headOption.foreach(_ += f); f.df }

  /** Run `body`; release the frames registered in it when it ends. */
  def scope[T](body: => T): T = {
    val frames = push()
    try body
    finally { open.set(open.get.tail); release(frames) }
  }

  /** `df.cache()`, owned by the innermost open scope. */
  def cache(df: DataFrame): DataFrame = register(Frame(df.cache(), pinned = false))

  /** A materialized frame (cache or checkpoint), owned by the innermost
    * scope. Only a checkpoint AT the frame's root is its own: a cache over
    * a caller's `localCheckpoint` frees the cache, never the caller's pin.
    */
  def keep(df: DataFrame): DataFrame = register(Frame(df, pinned = true))

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

  private def release(frames: collection.Seq[Frame]): Unit =
    frames.reverseIterator.foreach { f =>
      if (f.df.storageLevel != StorageLevel.NONE) f.df.unpersist(blocking = false)
      if (f.pinned) f.df.queryExecution.analyzed match {
        // straight to the context: every read of the frame ran inside the
        // scope, so RDD.unpersist's "cannot be recomputed" warning is moot
        case lr: LogicalRDD =>
          lr.rdd.sparkContext.unpersistRDD(lr.rdd.id, blocking = false)
        case _ => ()
      }
    }
}
