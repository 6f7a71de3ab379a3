package graft

import java.nio.file.Files
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.streaming.Trigger
import graft.stream.{Connector, Metrics, Pipeline}

/** Snapshot-mode specs mirroring integration_test/snapshot_test.go:
  * snapshot_only (≥N SNAPSHOT docs, nothing else) and initial mode
  * (snapshot docs + subsequent CDC docs coexist — seamless transition).
  * Plus config defaults (config.go:37-58) and R3 metrics counters.
  */
class SnapshotModeSpec extends SparkSuite {
  import spark.implicits._

  private def tmp(p: String) = Files.createTempDirectory(p).toString

  private def users(n: Int) =
    (1 to n).map(i => (i.toLong, s"user$i", 20 + i)).toDF("id", "name", "age")

  private def readBulk(dir: String): Seq[String] = {
    val d = new java.io.File(dir)
    Option(d.listFiles()).getOrElse(Array.empty).filter(_.isDirectory)
      .flatMap(b => Option(b.listFiles()).getOrElse(Array.empty))
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".txt"))
      .toSeq.flatMap(f => scala.io.Source.fromFile(f).getLines())
  }

  test("snapshot_only: ≥N SNAPSHOT docs and nothing else (snapshot_test.go:195-310)") {
    val bulkDir = tmp("snap-bulk")
    Pipeline.runSnapshotOnly(spark, users(20), "public", "users", "id",
      bulkDir, tmp("snap-dlq"))
    val lines = readBulk(bulkDir)
    val sources = lines.filter(_.contains("\"operation\""))
    assert(sources.size == 20)
    assert(sources.forall(_.contains("\"operation\":\"SNAPSHOT\"")))
    assert(lines.count(_.contains("users_idx")) == 20) // all routed to users_idx
  }

  test("initial mode: snapshot then CDC through the same sink — both kinds coexist (snapshot_test.go:25-193)") {
    val eventsDir = tmp("init-events")
    val bulkDir = tmp("init-bulk")
    // CDC rows arrive as signup INSERTs
    (100L to 104L).map(i => (i, 1706000000000000000L + i, Option(i), "signup", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode(SaveMode.Append).parquet(eventsDir)
    val c = Connector.newConnector(spark,
      plainConfig().copy(
        snapshot = conf.SnapshotConfig(enabled = true, mode = conf.InitialMode)),
      Connector.Io(eventsDir, bulkDir, tmp("init-dlq"), tmp("init-ckpt"),
        snapshotTable = Some((users(10), "public", "users", "id"))),
      trigger = Some(Trigger.AvailableNow()))
    c.start()
    c.drainAndClose()
    val lines = readBulk(bulkDir)
    assert(lines.count(_.contains("\"operation\":\"SNAPSHOT\"")) == 10)
    assert(lines.count(_.contains("\"op\":\"INSERT\"")) == 5)
  }

  test("config defaults match the reference's SetDefault (config.go:37-58)") {
    val c = conf.EsSinkConfig(tableIndexMapping = Map("public.users" -> "users_idx"))
    assert(c.batchSizeLimit == 1000)
    assert(c.batchTickerDuration.toSeconds == 10)
    assert(c.batchByteSizeLimitBytes == 10L << 20)
    assert(c.concurrentRequest == 1)
    // default = modern ES, no _type (the reference's 7.0.0 is only a
    // detection-failure fallback of its Info-API probe)
    assert(c.esMajorVersion == 8)
    assert(conf.EsSinkConfig(Map.empty, version = "6.8.2").esMajorVersion == 6)
  }

  test("R3 metrics: per-index counters + latency gauges populated after a run") {
    Metrics.reset()
    val bulkDir = tmp("met-bulk")
    Pipeline.runSnapshotOnly(spark, users(7), "public", "users", "id",
      bulkDir, tmp("met-dlq"))
    val snap = Metrics.snapshot()
    assert(snap("index_total{index=users_idx}") == 7L)
  }
}
