package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftext.{CheckpointBlocks, Scratch}
import org.apache.spark.storage.StorageLevel

/** [[Scratch]]'s ownership rules: a scope frees exactly its own frames,
  * last registered first, on return and on throw; `forQuery` frees the
  * frames of a query whose start fails. (Release on termination is
  * pinned by DedupStreamSpec's persistent-RDD baselines.) Every iterative
  * op hands a scoped caller its footprint back. Plus the guards that keep
  * every scratch cache and every release in `src/main` behind it.
  */
class ScratchSpec extends SparkSuite {
  import spark.implicits._

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

  // ---------------------------------------------- iterative op footprint

  private val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L), (5L, 6L))
    .toDF("doc_a", "doc_b")
  private val edges = pairs.toDF("src", "dst")
  private val saDocs = Seq((1L, "abracadabra"), (2L, "cadabra abra"),
    (3L, "bra")).toDF("doc_id", "text")

  test("every iterative op hands its scoped caller's footprint back") {
    import graft.ops.{DedupOps, SimilarityOps, SuffixOps, TokenizerOps}
    val ops: Seq[(String, () => Unit)] = Seq(
      "connectedComponents" -> (() => DedupOps.connectedComponents(pairs).collect()),
      "connectedComponentsStar" -> (() => DedupOps.connectedComponentsStar(pairs).collect()),
      "labelPropagate" -> (() => SimilarityOps.labelPropagate(edges).collect()),
      "pagerankOn" -> (() => SimilarityOps.pagerankOn(edges).collect()),
      "communityRepresentativesOn" ->
        (() => SimilarityOps.communityRepresentativesOn(edges).collect()),
      "suffixArray" -> (() => SuffixOps.suffixArray(saDocs).collect()),
      "mergeShardArrays" -> { () =>
        val (a, b) = (saDocs.filter("doc_id = 1"), saDocs.filter("doc_id <> 1"))
        SuffixOps.mergeShardArrays(
          Seq(SuffixOps.suffixArray(a), SuffixOps.suffixArray(b)), saDocs).collect()
      },
      "bpeTrain" -> (() => TokenizerOps.bpeTrain(saDocs, 3)))
    for ((name, op) <- ops) {
      val before = cacheFootprint
      Scratch.scope(op())
      assert(Scratch.pending === 0)
      assert(cacheFootprint === before, s"$name left frames behind its caller's scope")
    }
  }

  test("a scope owns only the caches its ops create: an equivalent cached plan stays its owner's") {
    import graft.ops.SuffixOps
    Scratch.scope { // owns the array's last round
      val sa = SuffixOps.suffixArray(saDocs)
      // registers nothing: its adjacent-LCP windows cache stays for the
      // session, and mergeShardArrays' windows plan is equivalent to it
      assert(SuffixOps.saLongestRepeatOn(sa, saDocs).collect().length === 1)
      val entries = CheckpointBlocks.cacheEntryCount(spark)
      Scratch.scope(SuffixOps.mergeShardArrays(Seq(sa), saDocs).collect())
      assert(CheckpointBlocks.cacheEntryCount(spark) === entries,
        "the scope released a cache an earlier caller built")
    }
  }

  test("a loop that throws releases every round it registered") {
    import graft.ops.DedupOps
    val chain = (1L to 8L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val before = cacheFootprint
    Scratch.scope {
      val err = intercept[IllegalStateException](
        DedupOps.connectedComponents(chain, maxIter = 3))
      assert(err.getMessage.contains("did not converge in 3 rounds"))
      assert(Scratch.pending === 0, "nothing passes to the caller on a throw")
    }
    assert(cacheFootprint === before)
  }

  test("unscoped, a loop keeps exactly the round its result reads") {
    import graft.ops.DedupOps
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val comps = DedupOps.connectedComponents(pairs)
    assert(comps.collect().length === 6)
    val left = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
    assert(left.size === 1, s"the last round backs the lazy result, got $left")
    assert(comps.count() === 6, "the unscoped result stays readable")
    left.foreach(id => spark.sparkContext.getPersistentRDDs(id).unpersist())
  }

  test("overlap: a failing side awaits the other, and the scope frees both") {
    val before = cacheFootprint
    val slowSide = new java.util.concurrent.atomic.AtomicBoolean(false)
    val err = intercept[IllegalStateException] {
      Scratch.scope {
        Scratch.overlap {
          Thread.sleep(300)
          Scratch.keep(spark.range(0, 40).toDF("id").localCheckpoint(true))
          slowSide.set(true)
        } {
          Scratch.keep(spark.range(0, 30).toDF("id").localCheckpoint(true))
          throw new IllegalStateException("boom")
        }
      }
    }
    assert(err.getMessage === "boom")
    assert(slowSide.get, "the pool side ran to completion before the rethrow")
    assert(cacheFootprint === before)
    // on success both sides' frames pass to the caller's scope
    Scratch.scope {
      Scratch.overlap(Scratch.keep(spark.range(0, 5).toDF("id").localCheckpoint(true)))(
        Scratch.keep(spark.range(0, 6).toDF("id").localCheckpoint(true)))
      assert(Scratch.pending === 2)
    }
    assert(cacheFootprint === before)
  }

  test("unscoped: a session table's pins outlive the scope that builds it") {
    val before = cacheFootprint
    val table = Scratch.scope {
      val t = Scratch.unscoped(
        Scratch.keep(spark.range(0, 25).toDF("id").localCheckpoint(true)))
      assert(Scratch.pending === 0, "nothing registers in the caller's scope")
      t
    }
    assert(table.count() === 25, "the pin survives the building scope")
    val (_, pins) = cacheFootprint
    (pins -- before._2).foreach(id => spark.sparkContext.getPersistentRDDs(id).unpersist())
    assert(cacheFootprint === before)
  }

  // ------------------------------------------------------------- guards

  private val Def = """\bdef\s+(\w+)""".r

  /** `src/main` code lines (comments skipped) holding any of `calls`,
    * except where `allowed(file name, enclosing def, code)` says so.
    */
  private def mainHits(calls: String*)(
      allowed: (String, Option[String], String) => Boolean): Seq[String] = {
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
      .iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size > 10, "the scan must see the main sources")
    for {
      f <- files
      name = f.getFileName.toString
      if name != "Scratch.scala"
      lines = java.nio.file.Files.readAllLines(f).asScala.toIndexedSeq
      (line, i) <- lines.zipWithIndex
      code = line.trim
      if !(code.startsWith("//") || code.startsWith("*") || code.startsWith("/*"))
      stripped = code.split("//", 2)(0)
      if calls.exists(stripped.contains)
      enclosing = lines.take(i + 1).reverseIterator
        .flatMap(l => Def.findFirstMatchIn(l).map(_.group(1))).nextOption()
      if !allowed(name, enclosing, stripped)
    } yield s"$f:${i + 1}: $code"
  }

  test("guard: src/main caches only through Scratch, SparkEntry's session tables and DedupOps.materialize") {
    val hits = mainHits(".cache()") { (name, enclosing, _) =>
      name == "DedupOps.scala" && enclosing.contains("materialize")
    }
    assert(hits.isEmpty,
      "scratch caches must go through Scratch.cache/keep:\n" + hits.mkString("\n"))
  }

  test("guard: src/main persists only through Scratch and SparkEntry's session tables") {
    // a session table is built inside `cachedFor(…)(d => … .persist(…))`
    val entry = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get("src/main/scala/graft/SparkEntry.scala")).asScala.toIndexedSeq
    val sessionTables: Set[String] = entry.indices.drop(1).collect {
      case i if entry(i).contains("cachedFor(") && !entry(i).contains("def ") =>
        Def.findFirstMatchIn(entry(i - 1)).map(_.group(1))
    }.flatten.toSet
    assert(sessionTables.size >= 5, s"the scan must see the session tables: $sessionTables")
    val hits = mainHits(".persist(") { (name, enclosing, code) =>
      !code.replace("Scratch.persist(", "").contains(".persist(") ||
        (name == "SparkEntry.scala" && enclosing.exists(sessionTables))
    }
    assert(hits.isEmpty,
      "persisted frames must go through Scratch.persist (or be a SparkEntry session table):\n" +
        hits.mkString("\n"))
  }

  test("guard: src/main pins and releases only through Scratch, the measurement barrier, SparkEntry's session tables and truncateIter") {
    val hits = mainHits(".unpersist(", ".localCheckpoint(") { (name, enclosing, _) =>
      Map("CheckpointBlocks.scala" -> "resetForMeasurement",
        "SparkEntry.scala" -> "cachedFor",
        "DedupOps.scala" -> "truncateIter").get(name).exists(enclosing.contains)
    }
    assert(hits.isEmpty,
      "checkpoint pins must be registered with Scratch (keep/rounds), never freed by hand:\n" +
        hits.mkString("\n"))
  }
}
