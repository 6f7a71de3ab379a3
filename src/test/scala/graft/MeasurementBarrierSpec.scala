package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftext.CheckpointBlocks
import org.apache.spark.storage.StorageLevel

/** The keep-set measurement barrier (round-11 flagship): per-query
  * isolation must drop SCRATCH caches completely (blocks AND CacheManager
  * entry, so a later identical plan re-caches fresh instead of silently
  * recomputing through a block-less InMemoryRelation) while the
  * sweep-lifetime SHARED tables stay warm. Pins the reflective
  * CacheManager access against a Spark upgrade: a private-field rename
  * fails here, not silently mid-sweep.
  */
class MeasurementBarrierSpec extends SparkSuite {

  test("barrier drops scratch caches entirely, keeps the keep-set warm") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val shared = docs.select("doc_id", "source")
      .persist(StorageLevel.MEMORY_AND_DISK)
    shared.count() // materialize
    val scratch = docs.groupBy("source").agg(count(lit(1)).as("n")).cache()
    scratch.count()
    assert(shared.storageLevel != StorageLevel.NONE)
    assert(scratch.storageLevel != StorageLevel.NONE)

    CheckpointBlocks.resetForMeasurement(spark, Seq(shared))

    // the shared frame is still a registered, MATERIALIZED cache: its
    // entry survives and its buffer blocks were not swept
    assert(shared.storageLevel != StorageLevel.NONE,
      "keep-set cache entry must survive the barrier")
    val cm = spark.sharedState.cacheManager
    val cd = cm.lookupCachedData(
      shared.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
    assert(cd.isDefined, "keep-set CacheManager entry must survive")
    assert(cd.get.cachedRepresentation.cacheBuilder.isCachedColumnBuffersLoaded,
      "keep-set buffer blocks must stay materialized across the barrier")

    // the scratch frame is gone from the CacheManager — storageLevel
    // reads NONE, and a fresh .cache() re-registers and re-materializes
    assert(scratch.storageLevel == StorageLevel.NONE,
      "scratch cache must be fully dropped (entry + blocks)")
    scratch.cache()
    scratch.count()
    assert(scratch.storageLevel != StorageLevel.NONE,
      "a dropped scratch plan must be re-cacheable")

    // leave the shared JVM clean for later suites
    CheckpointBlocks.resetForMeasurement(spark)
    assert(shared.storageLevel == StorageLevel.NONE,
      "an empty keep-set must clear everything (the old barrier contract)")
  }

  test("gc/storage/drop adjudication channels report sane values") {
    assert(graft.obs.Stages.sample().gcMillis >= 0L)
    val drops = CheckpointBlocks.installDropCounter(spark)
    val df = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id").cache()
    df.count()
    assert(CheckpointBlocks.storageBytesUsed(spark) > 0,
      "a materialized cache must show as storage memory in use")
    // explicit unpersist must NOT register (removeRdd doesn't report per
    // block): the counter reads pressure drops only, uncontaminated by
    // the barrier's own cleanup. Settle the counter FIRST: in the shared
    // test JVM the async ContextCleaner sweeps earlier suites' leftover
    // RDDs at arbitrary times, and one of those events landing between
    // the sample and the assert is a flake, not a barrier bug (seen
    // once in a 65-suite run; passes in isolation).
    def settled(): Long = {
      var prev = -1L
      var cur = drops.count
      var rounds = 0
      while (cur != prev && rounds < 50) {
        prev = cur
        Thread.sleep(100)
        CheckpointBlocks.flushListeners(spark)
        cur = drops.count
        rounds += 1
      }
      cur
    }
    val before = settled()
    df.unpersist(blocking = true)
    CheckpointBlocks.flushListeners(spark)
    assert(drops.count == before,
      "barrier-path unpersists must stay off the drop counter")
    // the pressure-drop event shape (invalid level) DOES register
    CheckpointBlocks.postSyntheticDrop(spark)
    CheckpointBlocks.flushListeners(spark)
    assert(drops.count == before + 1,
      "an invalid-level block update must register as a drop")
  }
}
