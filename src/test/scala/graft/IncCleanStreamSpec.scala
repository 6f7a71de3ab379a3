package graft

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import graft.ops.CorpusOps
import graft.stream.IncCleanStream

/** The streaming daily-rebuild loop: a change feed of upserts +
  * tombstones, each batch PATCHING the full four-stage clean state —
  * the queryable clean table must equal batch cleanCorpus over the
  * folded document store after every ingest, including across a
  * restart, with edits, deletions (promotion) and re-additions in the
  * churn.
  */
class IncCleanStreamSpec extends SparkSuite {
  import spark.implicits._

  private def tmp(p: String) = Files.createTempDirectory(p).toString

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  test("change-feed patches ≡ batch cleanCorpus over the folded store, across restart") {
    val changesDir = tmp("incclean-chg")
    val outDir = tmp("incclean-out")
    val ckpt = tmp("incclean-ckpt")
    val fixture = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text", "source")

    // batch 0: the initial load (the one-time full state build)
    fixture.withColumn("deleted", lit(false))
      .coalesce(1).write.mode(SaveMode.Append).parquet(changesDir)
    awaitDone(IncCleanStream.run(spark, changesDir, outDir, ckpt))
    assert(rows(IncCleanStream.currentClean(spark, outDir)) ===
      rows(CorpusOps.cleanCorpus(fixture)),
      "initial load must equal the batch clean")

    // batch 1 (post-restart): edits (%11 upper-cased), deletions (%5),
    // and a brand-new doc — the realistic recrawl churn
    val edits = fixture.filter(col("doc_id") % 11 === 0)
      .withColumn("text", upper(col("text")))
      .withColumn("deleted", lit(false))
    // %5∧%11 docs are edited, not deleted (one row per doc per batch —
    // the feed contract)
    val dels = fixture.filter(col("doc_id") % 5 === 0 && col("doc_id") % 11 =!= 0)
      .select(col("doc_id"), lit(null).cast("string").as("text"),
        col("source"), lit(true).as("deleted"))
    val added = Seq((900001L,
      "the quick brown fox jumps over the lazy dog and then the small " +
        "cat sits on the warm mat near the open door", "s0"))
      .toDF("doc_id", "text", "source").withColumn("deleted", lit(false))
    edits.unionByName(dels).unionByName(added)
      .coalesce(1).write.mode(SaveMode.Append).parquet(changesDir)
    awaitDone(IncCleanStream.run(spark, changesDir, outDir, ckpt))

    // the reference corpus after the churn, folded by hand
    val v2 = fixture.filter(col("doc_id") % 5 =!= 0 || col("doc_id") % 11 === 0)
      .withColumn("text",
        when(col("doc_id") % 11 === 0, upper(col("text")))
          .otherwise(col("text")))
      .unionByName(added.drop("deleted"))
    assert(rows(IncCleanStream.currentClean(spark, outDir)) ===
      rows(CorpusOps.cleanCorpus(v2)),
      "patched clean after churn must equal the from-scratch rebuild")
  }

  test("chained 10-batch feed: clean ≡ rebuild, and EVERY store compacts to ≤2 versions") {
    import graft.stream.VersionedState
    val changesDir = tmp("incclean10-chg")
    val outDir = tmp("incclean10-out")
    val ckpt = tmp("incclean10-ckpt")
    val fixture = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text", "source").filter(col("doc_id") < 200)
    // batch 0: initial load; batches 1..9: disjoint per-day churn
    // (edit 3k, tombstone 100+k, add 900000+k) — written up front, one
    // file per batch (maxFilesPerTrigger=1 makes each a micro-batch)
    fixture.withColumn("deleted", lit(false))
      .coalesce(1).write.mode(SaveMode.Append).parquet(changesDir)
    val cur = scala.collection.mutable.LinkedHashMap[Long, (String, String)]()
    fixture.collect().foreach(r => cur(r.getLong(0)) = (r.getString(1), r.getString(2)))
    for (day <- 1 to 9) {
      val editId = 3L * day
      val edit = cur.get(editId).toSeq.map { case (t, s) =>
        (editId, t + s" day $day edit", s, false) }
      cur.remove(100L + day)
      val added = (900000L + day,
        "the quick brown fox jumps over the lazy dog and then the small " +
          s"cat sits on the warm mat near the open door on day $day", "s0", false)
      edit.foreach { case (id, t, s, _) => cur(id) = (t, s) }
      cur(added._1) = (added._2, added._3)
      (edit :+ added :+ ((100L + day, null: String, "s0", true)))
        .toDF("doc_id", "text", "source", "deleted")
        .coalesce(1).write.mode(SaveMode.Append).parquet(changesDir)
    }
    awaitDone(IncCleanStream.run(spark, changesDir, outDir, ckpt), 600000)
    val finalCorpus = cur.toSeq.map { case (id, (t, s)) => (id, t, s) }
      .toDF("doc_id", "text", "source")
    assert(rows(IncCleanStream.currentClean(spark, outDir)) ===
      rows(CorpusOps.cleanCorpus(finalCorpus)),
      "day-10 chained clean diverged from the from-scratch rebuild")
    // compaction held on EVERY versioned store: face snapshots below the
    // replay horizon pruned — disk O(corpus), not O(corpus × days)
    for (store <- Seq("_docs", "_state", "clean")) {
      val vs = VersionedState.idsBefore(spark, s"$outDir/$store", Long.MaxValue)
      assert(vs.size <= 2,
        s"$store holds ${vs.size} versions after 10 batches: $vs")
      assert(vs.max === 9L, s"$store newest version must be batch 9: $vs")
    }
  }

  test("legacy append-only _docs store folds once, then migrates to snapshots") {
    import graft.stream.VersionedState
    val outDir = tmp("incclean-legacy")
    val docsRoot = s"$outDir/_docs"
    val fixture = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text", "source").filter(col("doc_id") < 200)
    // hand-write the PRE-SNAPSHOT store format: per-version DELTA dirs
    // carrying (doc_id, text, source, deleted, batch_id) — batch 0 the
    // initial load, batch 1 an edit + a tombstone
    fixture.withColumn("deleted", lit(false)).withColumn("batch_id", lit(0L))
      .coalesce(1).write.parquet(VersionedState.versionDir(docsRoot, 0L))
    val edit = fixture.filter(col("doc_id") === 11L)
      .withColumn("text", upper(col("text")))
      .withColumn("deleted", lit(false))
    val tomb = fixture.filter(col("doc_id") === 5L)
      .select(col("doc_id"), lit(null).cast("string").as("text"),
        col("source"), lit(true).as("deleted"))
    edit.unionByName(tomb).withColumn("batch_id", lit(1L))
      .coalesce(1).write.parquet(VersionedState.versionDir(docsRoot, 1L))

    // batch 2 under the NEW code: one more edit arrives
    val batch2 = fixture.filter(col("doc_id") === 7L)
      .withColumn("text", lower(col("text")))
      .withColumn("deleted", lit(false))
    IncCleanStream.processBatch(spark, batch2, 2L, outDir)

    // the migrated snapshot: all deltas folded (newest wins, tombstones
    // out) + batch 2's churn applied, in the 3-column snapshot schema
    val expectedV2 = fixture.filter(col("doc_id") =!= 5L)
      .withColumn("text",
        when(col("doc_id") === 11L, upper(col("text")))
          .when(col("doc_id") === 7L, lower(col("text")))
          .otherwise(col("text")))
    val snap2 = spark.read.parquet(VersionedState.versionDir(docsRoot, 2L))
    assert(snap2.columns.toSeq === Seq("doc_id", "text", "source"),
      "migrated store must write the snapshot schema")
    assert(rows(snap2) === rows(expectedV2),
      "migration must fold ALL legacy deltas, not just the latest")
    assert(rows(IncCleanStream.currentClean(spark, outDir)) ===
      rows(CorpusOps.cleanCorpus(expectedV2)),
      "clean over the migrated store must equal the batch rebuild")
    // the migration batch must NOT prune: the legacy deltas are still
    // load-bearing for a replay of batch 2 itself
    assert(Files.isDirectory(java.nio.file.Paths.get(
      VersionedState.versionDir(docsRoot, 0L))),
      "legacy deltas survive the migration batch (replay safety)")

    // batch 3: the prior version is now a complete snapshot — the
    // normal path resumes, and the legacy deltas prune away
    val batch3 = fixture.filter(col("doc_id") === 13L)
      .withColumn("text", concat(col("text"), lit(" appended tail")))
      .withColumn("deleted", lit(false))
    IncCleanStream.processBatch(spark, batch3, 3L, outDir)
    val expectedV3 = expectedV2.withColumn("text",
      when(col("doc_id") === 13L, concat(col("text"), lit(" appended tail")))
        .otherwise(col("text")))
    assert(rows(IncCleanStream.currentClean(spark, outDir)) ===
      rows(CorpusOps.cleanCorpus(expectedV3)),
      "post-migration batches must patch normally")
    assert(!Files.isDirectory(java.nio.file.Paths.get(
      VersionedState.versionDir(docsRoot, 0L))),
      "legacy deltas prune once a snapshot version exists below the horizon")
  }

  test("per-batch patch scratch releases: no cached/pinned blocks accumulate") {
    val outDir = tmp("incclean-scratch")
    val fixture = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text", "source").filter(col("doc_id") < 200)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // batch 0 builds the full state (cleanState trunc scratch), batches
    // 1..2 patch (InSet-core cache scratch) — every generation must be
    // released by the end of its processBatch
    IncCleanStream.processBatch(spark,
      fixture.withColumn("deleted", lit(false)), 0L, outDir)
    (1 to 2).foreach { i =>
      val churn = fixture.filter(col("doc_id") % 37 === i.toLong)
        .withColumn("text", concat(col("text"), lit(s" v$i")))
        .withColumn("deleted", lit(false))
      IncCleanStream.processBatch(spark, churn, i.toLong, outDir)
    }
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    val detail = leaked.map(id => spark.sparkContext.getPersistentRDDs(id))
      .map(r => s"${r.id}:${r.name}:${r.getStorageLevel}:${r.toString}")
    assert(leaked.isEmpty,
      s"patch scratch must release after each batch; leaked: $detail")
    assert(org.apache.spark.sql.graftext.Scratch.pending === 0,
      "the scratch registry must be empty after release")
  }
}
