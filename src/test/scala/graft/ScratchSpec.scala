package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftext.{CheckpointBlocks, Scratch}
import org.apache.spark.storage.StorageLevel

/** [[Scratch]]'s ownership rules: a scope frees exactly its own frames,
  * last registered first, on return and on throw; `forQuery` frees the
  * frames of a query whose start fails. (Release on termination is
  * pinned by DedupStreamSpec's persistent-RDD baselines.) Plus the guard
  * that keeps every scratch cache in `src/main` behind it.
  */
class ScratchSpec extends SparkSuite {

  /** Cache `df` in the innermost scope and build it; returns the frame
    * and the id of the buffer RDD its build persisted.
    */
  private def built(df: DataFrame): (DataFrame, Int) = {
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val f = Scratch.cache(df)
    f.count()
    val ids = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
    assert(ids.size == 1, s"one buffer RDD per cached frame, got $ids")
    (f, ids.head)
  }

  test("nested scopes release only their own frames, last registered first") {
    val unpersisted = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onUnpersistRDD(
          e: org.apache.spark.scheduler.SparkListenerUnpersistRDD): Unit =
        unpersisted.add(e.rddId)
    }
    val before = cacheFootprint
    val nums = spark.range(0, 300).toDF("id")
    spark.sparkContext.addSparkListener(listener)
    try {
      val (outer, idOuter) = Scratch.scope {
        val (a, idA) = built(nums.filter("id % 2 = 0"))
        val (b, idB, idC) = Scratch.scope {
          val (b, idB) = built(nums.filter("id % 3 = 0"))
          // c is cached over b: releasing c first means the
          // CacheManager never re-plans a live dependent of a dropped b
          val (_, idC) = built(b.selectExpr("id * 2 AS id2"))
          assert(Scratch.pending === 3)
          CheckpointBlocks.flushListeners(spark)
          unpersisted.clear()
          (b, idB, idC)
        }
        CheckpointBlocks.flushListeners(spark)
        assert(unpersisted.asScala.toSeq === Seq(idC, idB),
          "the inner scope frees its own frames, last registered first")
        assert(b.storageLevel === StorageLevel.NONE)
        assert(a.storageLevel !== StorageLevel.NONE,
          "the outer scope's frame outlives the inner scope")
        assert(Scratch.pending === 1)
        (a, idA)
      }
      CheckpointBlocks.flushListeners(spark)
      assert(unpersisted.asScala.toSeq.last === idOuter)
      assert(outer.storageLevel === StorageLevel.NONE)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(Scratch.pending === 0)
    assert(cacheFootprint === before)
    // outside any scope registration records nothing: a plain cache
    val loose = Scratch.cache(nums.filter("id % 5 = 0"))
    assert(Scratch.pending === 0)
    assert(loose.storageLevel !== StorageLevel.NONE)
    loose.unpersist()
  }

  test("a throw inside the scope still releases caches and checkpoint pins") {
    val before = cacheFootprint
    val err = intercept[IllegalStateException] {
      Scratch.scope {
        built(spark.range(0, 200).toDF("id").filter("id % 7 = 0"))
        Scratch.keep(spark.range(0, 50).toDF("id").localCheckpoint(true))
        throw new IllegalStateException("boom")
      }
    }
    assert(err.getMessage === "boom")
    assert(Scratch.pending === 0)
    assert(cacheFootprint === before)
  }

  test("keep frees only a pin at its own root: a caller's checkpoint survives a nested scope") {
    val before = cacheFootprint
    Scratch.scope {
      val input = Scratch.keep(spark.range(0, 120).toDF("id").localCheckpoint(true))
      Scratch.scope {
        // a patch-style cache over the caller's checkpointed input
        val patch = Scratch.keep(input.selectExpr("id * 2 AS id2").cache())
        assert(patch.count() === 120)
      }
      assert(input.collect().map(_.getLong(0)).sum === (0L until 120L).sum,
        "the nested scope must not free the caller's checkpoint blocks")
    }
    assert(Scratch.pending === 0)
    assert(cacheFootprint === before, "the caller's scope frees its own pin")
  }

  test("forQuery frees its frames when start() throws") {
    val before = cacheFootprint
    val ckpt = java.nio.file.Files.createTempDirectory("scratch-ckpt").toString
    intercept[Exception] {
      Scratch.forQuery(spark) {
        built(spark.range(0, 100).toDF("id"))
        spark.readStream.format("rate").load()
          .writeStream.format("no.such.sink")
          .option("checkpointLocation", ckpt)
          .start()
      }
    }
    assert(Scratch.pending === 0)
    assert(cacheFootprint === before)
  }

  test("guard: src/main caches only through Scratch, SparkEntry's session tables and DedupOps.materialize") {
    val Def = """\bdef\s+(\w+)""".r
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
      .iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size > 10, "the scan must see the main sources")
    val hits = for {
      f <- files
      name = f.getFileName.toString
      if name != "Scratch.scala"
      lines = java.nio.file.Files.readAllLines(f).asScala.toIndexedSeq
      (line, i) <- lines.zipWithIndex
      code = line.trim
      if !(code.startsWith("//") || code.startsWith("*") || code.startsWith("/*"))
      stripped = code.split("//", 2)(0)
      if stripped.contains(".cache()") || stripped.contains(".persist(")
      enclosing = lines.take(i + 1).reverseIterator
        .flatMap(l => Def.findFirstMatchIn(l).map(_.group(1))).nextOption()
      if !(name == "SparkEntry.scala" && stripped.contains(".persist(")) &&
        !(name == "DedupOps.scala" && enclosing.contains("materialize"))
    } yield s"$f:${i + 1}: $code"
    assert(hits.isEmpty,
      "scratch caches must go through Scratch.cache/keep:\n" + hits.mkString("\n"))
  }
}
