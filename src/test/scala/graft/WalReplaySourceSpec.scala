package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.streaming.Trigger

/** The custom DSv2 WAL-replay source (S1 as a real MicroBatchStream):
  * segment-count offsets ≙ replication-slot LSN, per-batch segment
  * admission, checkpoint resume without re-delivery, and the full CDC
  * chain running on top of it.
  */
class WalReplaySourceSpec extends SparkSuite {
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def writeSegment(dir: String, name: String, ids: Seq[Long]): Unit = {
    val lines = ids.map(i =>
      s"""{"event_id":$i,"ts":${1706000000000000000L + i},"user_id":$i,"event_type":"signup","value":1.0,"props":"{}"}""")
    Files.write(Paths.get(dir, name), lines.mkString("\n").getBytes("UTF-8"))
    ()
  }

  test("segment offsets: admission 1/trigger, in order, no re-delivery across restart") {
    val dir = tmp("wal-seg")
    val out = tmp("wal-out")
    val ckpt = tmp("wal-ckpt")
    writeSegment(dir, "seg-000", Seq(1L, 2L))
    writeSegment(dir, "seg-001", Seq(3L))

    def runOnce(): Unit = {
      val q = spark.readStream
        .format(classOf[graft.sources.WalReplayProvider].getName)
        .option("path", dir)
        .option("maxSegmentsPerTrigger", "1")
        .load()
        .writeStream
        .format("parquet")
        .option("checkpointLocation", ckpt)
        .option("path", out)
        .trigger(Trigger.AvailableNow())
        .start()
      awaitDone(q)
      ()
    }
    runOnce()
    val got1 = spark.read.parquet(out).select("event_id").as[Long].collect().toSet
    assert(got1 == Set(1L, 2L, 3L))

    // a third segment lands while "down"; restart resumes from the
    // committed segment offset — nothing re-delivered
    writeSegment(dir, "seg-002", Seq(4L, 5L))
    runOnce()
    val got2 = spark.read.parquet(out).select("event_id").as[Long].collect()
    assert(got2.length == 5, s"re-delivery or loss: ${got2.sorted.toSeq}")
    assert(got2.toSet == Set(1L, 2L, 3L, 4L, 5L))
  }

  test("restart past retention: deleted committed segment fails loudly, named, no hang") {
    val dir = tmp("wal-ret")
    val out = tmp("wal-ret-out")
    val ckpt = tmp("wal-ret-ckpt")
    writeSegment(dir, "seg-000", Seq(1L))
    writeSegment(dir, "seg-001", Seq(2L))
    writeSegment(dir, "seg-002", Seq(3L))
    def start() = spark.readStream
      .format(classOf[graft.sources.WalReplayProvider].getName)
      .option("path", dir)
      .load()
      .writeStream
      .format("parquet")
      .option("checkpointLocation", ckpt)
      .option("path", out)
      .trigger(Trigger.AvailableNow())
      .start()
    awaitDone(start())
    assert(spark.read.parquet(out).count() == 3)

    // retention kicks in while the query is down: the OLDEST consumed
    // segment is deleted (the reference's slot-dropped-while-down
    // analog). Restart must fail with the NAMED retention error — not
    // hang, not silently renumber the remaining segments (which would
    // re-deliver seg-001/seg-002 and skip nothing visibly).
    Files.delete(Paths.get(dir, "seg-000"))
    writeSegment(dir, "seg-003", Seq(4L)) // new data pending behind the gap
    val q = start()
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      try {
        val done = q.awaitTermination(180000)
        assert(done, "query hung instead of failing")
      } finally { if (q.isActive) q.stop() }
    }
    val msgs = Iterator.iterate(ex: Throwable)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString(" | ")
    assert(msgs.contains("WAL retention violated"), msgs)
    // and nothing was re-delivered before the failure surfaced
    assert(spark.read.parquet(out).count() == 3)
  }

  test("non-monotone segment names fail loudly instead of silently skipping/re-delivering") {
    val dir = tmp("wal-bad")
    val out = tmp("wal-bad-out")
    val ckpt = tmp("wal-bad-ckpt")
    def runOnce(): Unit = {
      val q = spark.readStream
        .format(classOf[graft.sources.WalReplayProvider].getName)
        .option("path", dir)
        .load()
        .writeStream
        .format("parquet")
        .option("checkpointLocation", ckpt)
        .option("path", out)
        .trigger(Trigger.AvailableNow())
        .start()
      awaitDone(q)
      ()
    }
    // consume seg-2, seg-3 (committed offset: 2 segments ending at seg-3)
    writeSegment(dir, "seg-2", Seq(1L))
    writeSegment(dir, "seg-3", Seq(2L))
    runOnce()
    assert(spark.read.parquet(out).count() == 2)
    // an UNPADDED name lands: 'seg-10' sorts BEFORE 'seg-2', shifting the
    // committed prefix — a count-only offset would treat seg-10 as already
    // consumed (lost) and re-deliver seg-3; the stored last-segment name
    // must turn that into a loud failure instead
    writeSegment(dir, "seg-10", Seq(3L))
    val ex = intercept[Exception] { runOnce() }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("naming contract")),
      s"expected the naming-contract failure, got: ${messages(ex)}")
  }

  test("ack/resume THROUGH the WAL source: stop → segments land → restart, no loss / no dup (≙ connector_test.go:428-621 over format=wal)") {
    val dir = tmp("wal-ack")
    val bulk = tmp("wal-ack-bulk")
    val dlq = tmp("wal-ack-dlq")
    val ckpt = tmp("wal-ack-ckpt")
    def docIds(): Seq[String] = {
      val d = new java.io.File(bulk)
      (if (!d.exists()) Array.empty[java.io.File]
       else d.listFiles.filter(_.isDirectory).flatMap(_.listFiles))
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".txt"))
        .toSeq
        .flatMap { f =>
          val src = scala.io.Source.fromFile(f)
          try src.getLines().toList finally src.close()
        }
        .filter(_.contains("\"_id\""))
        .map(l => l.split("\"_id\":\"")(1).split("\"")(0))
    }
    def runOnce(): Unit = {
      val q = runPipeline(dir, bulk, dlq, ckpt, concurrentRequest = 2, format = "wal")
      awaitDone(q)
      ()
    }
    // phase 1: two segments flow through the full chain
    writeSegment(dir, "seg-000", Seq(1L, 2L, 3L))
    writeSegment(dir, "seg-001", Seq(4L, 5L))
    runOnce()
    assert(docIds().toSet == (1L to 5L).map(_.toString).toSet, s"got ${docIds()}")
    // phase 2: connector down; segments accumulate in the WAL dir
    writeSegment(dir, "seg-002", Seq(6L, 7L))
    writeSegment(dir, "seg-003", Seq(8L, 9L))
    // phase 3: restart from the same checkpoint (≙ same replication slot):
    // only the new segments replay — nothing lost, nothing re-delivered
    runOnce()
    val after = docIds()
    assert(after.toSet == (1L to 9L).map(_.toString).toSet, s"got $after")
    assert(after.size == 9, s"duplicates in $after")
    // phase 4: live stream still works after the restart
    writeSegment(dir, "seg-004", Seq(10L))
    runOnce()
    val fin = docIds()
    assert(fin.toSet == (1L to 10L).map(_.toString).toSet && fin.size == 10)
  }

  test("long-running stream: restart from a COMPACTED metadata log resumes exactly once") {
    // Spark's file-sink metadata log (and every CompactibleFileStreamLog)
    // compacts every 10 batches: batch 9 folds batches 0-8 into
    // `9.compact`. A long-running WAL stream therefore restarts not from
    // plain per-batch files but THROUGH a compacted log — the lifecycle
    // edge a short spec never crosses. 12 one-segment batches force the
    // compaction, then a restart with new segments must replay exactly
    // the unseen ones.
    val dir = tmp("wal-cpt")
    val out = tmp("wal-cpt-out")
    val ckpt = tmp("wal-cpt-ckpt")
    def runOnce(): Unit = {
      val q = spark.readStream
        .format(classOf[graft.sources.WalReplayProvider].getName)
        .option("path", dir)
        .option("maxSegmentsPerTrigger", "1")
        .load()
        .writeStream
        .format("parquet")
        .option("checkpointLocation", ckpt)
        .option("path", out)
        .trigger(Trigger.AvailableNow())
        .start()
      awaitDone(q)
      ()
    }
    for (i <- 0 until 12)
      writeSegment(dir, f"seg-$i%03d", Seq(i.toLong))
    runOnce() // 12 micro-batches at 1 segment/trigger → crosses batch 9
    val metaDir = new java.io.File(s"$out/_spark_metadata")
    assert(metaDir.listFiles.exists(_.getName.endsWith(".compact")),
      s"test premise: sink log must have compacted, saw " +
        metaDir.listFiles.map(_.getName).toSeq.sorted.mkString(","))
    val got1 = spark.read.parquet(out).select("event_id").as[Long].collect()
    assert(got1.length == 12 && got1.toSet == (0L until 12L).toSet)

    // down; two more segments land; restart reads its position through
    // the compacted log — nothing lost, nothing re-delivered
    writeSegment(dir, "seg-012", Seq(12L))
    writeSegment(dir, "seg-013", Seq(13L))
    runOnce()
    val got2 = spark.read.parquet(out).select("event_id").as[Long].collect()
    assert(got2.length == 14, s"loss or re-delivery: ${got2.sorted.toSeq}")
    assert(got2.toSet == (0L until 14L).toSet)
  }

  test("full CDC chain over the custom source (format=wal in changeStream)") {
    val dir = tmp("wal-cdc")
    val bulk = tmp("wal-bulk")
    val dlq = tmp("wal-dlq")
    writeSegment(dir, "seg-000", Seq(7L, 8L))
    val q = runPipeline(dir, bulk, dlq, tmp("wal-cdc-ckpt"), concurrentRequest = 1,
      format = "wal")
    awaitDone(q)
    val lines = new java.io.File(bulk).listFiles.filter(_.isDirectory)
      .flatMap(_.listFiles).filter(_.getName.endsWith(".txt"))
      .flatMap { f =>
        val src = scala.io.Source.fromFile(f)
        try src.getLines().toList finally src.close()
      }
    assert(lines.count(_.contains("\"_index\":\"users_idx\"")) == 2,
      s"expected 2 bulk actions, got:\n${lines.mkString("\n")}")
  }
}
