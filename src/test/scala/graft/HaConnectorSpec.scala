package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.streaming.Trigger

import graft.stream.{HaConnector, HaLease}

/** X3 active/passive availability: the storage lease is the replication
  * slot's analog — exactly one instance runs the pipeline; killing the
  * active (lease left to EXPIRE, crash semantics) makes a passive
  * capture it and resume from the shared checkpoint with no loss and no
  * re-delivery.
  */
class HaConnectorSpec extends SparkSuite {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def writeSegment(dir: String, name: String, ids: Seq[Long]): Unit = {
    val lines = ids.map(i =>
      s"""{"event_id":$i,"ts":${1706000000000000000L + i},"user_id":$i,"event_type":"signup","value":1.0,"props":"{}"}""")
    Files.write(Paths.get(dir, name), lines.mkString("\n").getBytes("UTF-8"))
    ()
  }

  private def docIds(bulk: String): Seq[String] = {
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

  private def waitUntil(ms: Long)(cond: => Boolean): Boolean = {
    val deadline = System.currentTimeMillis() + ms
    while (System.currentTimeMillis() < deadline) {
      if (cond) return true
      Thread.sleep(100)
    }
    cond
  }

  test("lease mechanics: atomic claim, live-holder exclusion, dead-lease steal, release") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val dir = tmp("ha-lease")
    val a = new HaLease(dir, "A", leaseMs = 1000)
    val b = new HaLease(dir, "B", leaseMs = 1000)
    val t0 = 1000000L
    assert(a.tryAcquire(t0), "free lease must be claimable")
    assert(!b.tryAcquire(t0 + 500), "live lease must exclude the contender")
    assert(a.tryAcquire(t0 + 500), "the holder re-acquires (renews) its own lease")
    // past expiry the contender steals
    assert(b.tryAcquire(t0 + 500 + 1001), "dead lease must be stealable")
    assert(!a.tryAcquire(t0 + 500 + 1200), "after the steal, A is the contender")
    b.release()
    assert(a.tryAcquire(t0 + 500 + 1300), "released lease is free")
  }

  test("lease refuses object-store schemes (non-atomic rename = silent split-brain)") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    // every correctness claim rests on one-winner create + atomic rename;
    // S3-style stores have neither — construction must fail LOUDLY, at
    // deploy time, with the documented alternatives in the message
    for (bad <- Seq("s3a://bucket/lease", "s3://bucket/lease",
        "gs://bucket/lease", "wasbs://c@a.blob.core.windows.net/lease",
        "someunknownfs://x/lease")) {
      val e = intercept[IllegalArgumentException] {
        new HaLease(bad, "A", leaseMs = 1000)
      }
      assert(e.getMessage.contains("ATOMIC rename"), s"$bad: ${e.getMessage}")
      assert(e.getMessage.contains("conditional-put"),
        "the refusal must name the object-store alternative")
    }
    // local paths (scheme-less and file://) and HDFS-like schemes pass
    new HaLease(tmp("ha-ok"), "A", leaseMs = 1000)
    new HaLease("file:///tmp/ha-ok2-" + System.nanoTime(), "A", leaseMs = 1000)
    // an operator-vouched scheme is allowlisted via conf (scheme check
    // only — no FileSystem is built until first use)
    spark.conf.set(HaLease.ExtraSchemesConf, "myposixfs")
    try {
      assert(HaLease.atomicRenameGuaranteed("myposixfs://x/lease", spark))
      assert(!HaLease.atomicRenameGuaranteed("s3a://x/lease", spark))
    } finally spark.conf.unset(HaLease.ExtraSchemesConf)
  }

  test("lease: a STALE zero-byte/corrupt lease is stealable; a FRESH one is not") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val dir = tmp("ha-lease-corrupt")
    // a crash between create and write leaves an empty lease file
    val leaseFile = Paths.get(dir, "lease")
    Files.write(leaseFile, Array.emptyByteArray)
    val a = new HaLease(dir, "A", leaseMs = 1000)
    // FRESH unreadable content must NOT be steal-eligible: it could be a
    // transient read error or another claimer mid-write
    assert(!a.tryAcquire(5000L),
      "a fresh unreadable lease must wait, not be stolen")
    // once the FILE is stale by mtime, the deadlock breaks
    assert(leaseFile.toFile.setLastModified(System.currentTimeMillis() - 5000L))
    assert(a.tryAcquire(5000L),
      "a stale unreadable lease must be stolen like a dead one")
    assert(a.read().exists(_._1 == "A"))
    // and a stale garbage-content lease likewise
    val dir2 = tmp("ha-lease-garbage")
    val lease2 = Paths.get(dir2, "lease")
    Files.write(lease2, "not-a-lease".getBytes("UTF-8"))
    assert(lease2.toFile.setLastModified(System.currentTimeMillis() - 5000L))
    val b = new HaLease(dir2, "B", leaseMs = 1000)
    assert(b.tryAcquire(5000L))
    assert(b.read().exists(_._1 == "B"))
  }

  test("lease renew never makes the lease file vanish (no heartbeat acquire window)") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val dir = tmp("ha-lease-renew")
    val a = new HaLease(dir, "A", leaseMs = 60000)
    assert(a.tryAcquire(1000L))
    val lease = Paths.get(dir, "lease")
    // hammer renewals on one thread while a watcher polls existence —
    // the FileContext OVERWRITE rename must never expose a missing file
    // (the delete+rename form failed this within a few hundred renews)
    @volatile var vanished = false
    @volatile var done = false
    val watcher = new Thread(() => {
      while (!done) if (!Files.exists(lease)) vanished = true
    })
    watcher.start()
    (1 to 500).foreach(i => a.renew(1000L + i))
    done = true
    watcher.join(5000)
    assert(!vanished, "renew exposed a no-lease window")
    assert(a.read().exists(_._2 == 1500L))
  }

  test("active/passive failover: kill the active, the passive resumes exactly-once") {
    val walDir = tmp("ha-wal")
    val bulk = tmp("ha-bulk")
    val dlq = tmp("ha-dlq")
    val ckpt = tmp("ha-ckpt")
    val leaseDir = tmp("ha-lease-dir")
    writeSegment(walDir, "seg-000", Seq(1L, 2L))

    def startQuery() = runPipeline(walDir, bulk, dlq, ckpt, concurrentRequest = 1,
      trigger = Trigger.ProcessingTime(100L), format = "wal")

    val a = HaConnector.start(spark, leaseDir, "A",
      leaseMs = 1500, pollMs = 100)(startQuery)
    val b = HaConnector.start(spark, leaseDir, "B",
      leaseMs = 1500, pollMs = 100)(startQuery)
    try {
      assert(waitUntil(30000)(docIds(bulk).toSet == Set("1", "2")),
        s"active instance must process segment 0, got ${docIds(bulk)}")
      val active = if (a.isActive) a else b
      val passive = if (active eq a) b else a
      assert(active.isActive && !passive.isActive,
        "exactly one instance may hold the stream")

      // crash the active: lease NOT released — the passive must wait out
      // the expiry, then capture and resume from the shared checkpoint
      active.kill()
      writeSegment(walDir, "seg-001", Seq(3L))
      assert(waitUntil(30000)(passive.isActive),
        "passive must capture the expired lease")
      assert(waitUntil(30000)(docIds(bulk).toSet == Set("1", "2", "3")),
        s"takeover must resume with the new segment, got ${docIds(bulk)}")
      val all = docIds(bulk)
      assert(all.size == 3, s"no re-delivery across the takeover: $all")
    } finally {
      a.stop(); b.stop()
    }
  }
}
