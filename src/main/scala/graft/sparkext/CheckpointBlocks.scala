package org.apache.spark.sql.graftext

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{CacheManager, CachedData, LogicalRDD}
import org.apache.spark.sql.execution.columnar.CachedRDDBuilder

/** Block-manager hygiene for `localCheckpoint`-truncated frames and for
  * per-query measurement isolation in a shared JVM.
  *
  * `Dataset.localCheckpoint(eager = true)` pins the computed partitions in
  * the block manager for the life of the SparkContext — and, unlike the
  * SQL cache, `spark.catalog.clearCache()` does NOT free them. An
  * iterative algorithm that checkpoints per round (connected components)
  * therefore accumulates one pinned RDD per round; in a shared JVM those
  * blocks pressure every later query (round 3's bench misattributed ~7 s
  * to untouched queries exactly this way). These helpers let the loop free
  * each round's checkpoint as soon as the next round has materialized.
  */
object CheckpointBlocks {

  /** The pinned RDD behind a `localCheckpoint`'d DataFrame (None for
    * frames whose plan has no `LogicalRDD` leaf — e.g. the parquet
    * checkpoint path, where there is nothing to free).
    */
  def pinnedRdd(df: DataFrame): Option[RDD[_]] =
    df.queryExecution.analyzed.collectFirst { case lr: LogicalRDD => lr.rdd }

  /** Free the checkpoint blocks behind `df`. Only call once every
    * consumer of `df` has materialized: the checkpoint truncated the
    * lineage, so a post-unpersist access cannot recompute.
    */
  def unpersist(df: DataFrame): Unit =
    pinnedRdd(df).foreach { r => r.unpersist(blocking = false); () }

  /** The CacheManager's entry list. No public enumerator exists
    * (`clearCache` is all-or-nothing), so the measurement barrier reads
    * the private field reflectively — pinned to Spark 4.1's
    * `cachedData: IndexedSeq[CachedData]`; a rename fails loudly at the
    * first barrier call, not silently.
    */
  private val cachedDataField = {
    val f = classOf[CacheManager].getDeclaredField("cachedData")
    f.setAccessible(true)
    f
  }
  private def entries(cm: CacheManager): IndexedSeq[CachedData] =
    cachedDataField.get(cm).asInstanceOf[IndexedSeq[CachedData]]
  private def setEntries(cm: CacheManager, es: IndexedSeq[CachedData]): Unit =
    cachedDataField.set(cm, es)

  /** Per-query measurement hygiene, shared by Bench / BenchProbe /
    * PlanInventory so the harnesses always measure the same thing: drop
    * every cached intermediate and every pinned checkpoint RDD EXCEPT the
    * sweep-lifetime shared tables in `keep`.
    *
    * Why a keep-set (round-10 lesson): the old all-or-nothing barrier
    * (`clearCache()` + unpersist-everything) dropped the shared token/
    * suffix-array tables before EVERY timed query, and `SparkEntry`'s
    * session caches deliberately don't re-persist — so all ~100 token
    * consumers re-tokenized the corpus per measured run. At local[32]
    * that re-tokenize burned 5-10x CPU per query and the sweep's own
    * numbers stopped being plan costs (BENCH_r10: decontaminate 18.6
    * cpu-s for a broadcast-gram probe; quality_perplexity_bucket 99
    * cpu-s). The shared tables are the deployment's steady state — a
    * production sweep materializes the token table beside the corpus
    * ONCE — so the honest per-query measurement keeps them warm and
    * isolates everything else.
    *
    * Mechanics, for each non-keep cache entry: its buffer blocks are
    * freed (blocking — a racing async unpersist lands the previous
    * query's eviction inside the next query's timed window) and the
    * entry itself is dropped from the CacheManager, so a later identical
    * plan re-caches fresh instead of silently recomputing through a
    * block-less `InMemoryRelation`. Checkpoint pins (LogicalRDD leaves,
    * which have no CacheManager entry) and any stray persisted RDDs are
    * swept by id afterwards.
    */
  def resetForMeasurement(spark: SparkSession,
      keep: Seq[DataFrame] = Nil): Unit = {
    val cm = spark.sharedState.cacheManager
    val keepBuilders: Set[CachedRDDBuilder] = keep.flatMap { df =>
      cm.lookupCachedData(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
        .map(_.cachedRepresentation.cacheBuilder)
    }.toSet
    // RDD ids the keep frames pin: their cache-buffer RDDs (created on
    // first persist — building the RDD object here runs no job) plus any
    // LogicalRDD leaves (localCheckpoint blocks backing e.g. the shared
    // suffix arrays)
    val keepIds: Set[Int] =
      keepBuilders.map(_.cachedColumnBuffers.id) ++
        keep.flatMap(df => df.queryExecution.analyzed.collect {
          case lr: LogicalRDD => lr.rdd.id
        })
    cm.synchronized {
      val (kept, drop) =
        entries(cm).partition(cd => keepBuilders.contains(
          cd.cachedRepresentation.cacheBuilder))
      drop.foreach(_.cachedRepresentation.cacheBuilder.clearCache(blocking = true))
      setEntries(cm, kept)
    }
    // blocking: this is a measurement BARRIER — a fire-and-forget
    // unpersist races the next timed query, leaving the prior query's
    // blocks in executor memory while it starts (exactly the
    // misattribution this helper exists to prevent)
    spark.sparkContext.getPersistentRDDs.values
      .filter(r => !keepIds.contains(r.id))
      .foreach(_.unpersist(blocking = true))
  }

  /** Bytes of block-manager storage memory in use right now — sampled
    * after each timed query, this tracks whether cached state is
    * accumulating across a sweep (the round-10 eviction-churn suspicion
    * adjudicates itself from the artifact).
    */
  def storageBytesUsed(spark: SparkSession): Long =
    spark.sparkContext.getExecutorMemoryStatus.values
      .map { case (max, remaining) => max - remaining }.sum

  /** Storage-block drop counter: counts BlockUpdated events whose level
    * is no longer valid — i.e. MEMORY-PRESSURE drops, which report
    * per-block through updateBlockInfo. Explicit `unpersist`/`removeRdd`
    * (the barrier's own path) does NOT report per block, so the counter
    * reads as "blocks this query LOST to pressure", uncontaminated by
    * the barrier — exactly the eviction-churn adjudication channel.
    * Install once per SparkContext.
    */
  final class DropCounter extends org.apache.spark.scheduler.SparkListener {
    private val n = new java.util.concurrent.atomic.AtomicLong(0L)
    def count: Long = n.get
    override def onBlockUpdated(
        u: org.apache.spark.scheduler.SparkListenerBlockUpdated): Unit =
      // a drop reports an INVALID level (no memory, no disk) — match on
      // validity, not object identity (the event carries a fresh
      // StorageLevel instance, not the NONE singleton)
      if (!u.blockUpdatedInfo.storageLevel.isValid) { n.incrementAndGet(); () }
  }
  def installDropCounter(spark: SparkSession): DropCounter = {
    val c = new DropCounter
    spark.sparkContext.addSparkListener(c)
    c
  }

  /** Test support: post a synthetic invalid-level block update (the event
    * shape a memory-pressure drop reports) so the counter's match logic
    * is pinned without having to engineer real eviction pressure.
    */
  def postSyntheticDrop(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.post(
      org.apache.spark.scheduler.SparkListenerBlockUpdated(
        org.apache.spark.storage.BlockUpdatedInfo(
          org.apache.spark.storage.BlockManagerId("drv", "localhost", 7),
          org.apache.spark.storage.RDDBlockId(0, 0),
          org.apache.spark.storage.StorageLevel.NONE, 0L, 0L)))

  /** Drain the async listener bus so barrier-time block events are
    * attributed to the barrier, not the next timed query.
    */
  def flushListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty(10000)

  /** Partition count of a cached relation WITHOUT forcing it: Some(n)
    * when the cached RDD is already built and loaded (getNumPartitions
    * is pure driver metadata on the existing RDD object), None when the
    * buffers are unbuilt — calling `cachedColumnBuffers` then would
    * execute the cached plan, and under AQE that runs real shuffle jobs.
    * Backs [[graft.ops.DedupOps.fanoutIfNarrow]]'s job-free probe for
    * InMemoryRelation leaves.
    */
  def loadedCachePartitions(
      im: org.apache.spark.sql.execution.columnar.InMemoryRelation)
      : Option[Int] =
    if (im.cacheBuilder.isCachedColumnBuffersLoaded)
      Some(im.cacheBuilder.cachedColumnBuffers.getNumPartitions)
    else None
}
