package graft

import java.nio.file.Files
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.streaming.Trigger
import graft.stream.{Connector, Pipeline}

/** End-to-end streaming test mirroring the reference's ack/resume crown
  * jewel (integration_test/connector_test.go:428-621): batch 1 → stop →
  * batch 2 arrives while down → restart with the same checkpoint (≙ same
  * replication slot) → both batches delivered, nothing duplicated, live
  * stream still works. Plus the dead-letter (R1 OnError) split.
  */
class StreamingPipelineSpec extends SparkSuite {
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** Stage a parquet "WAL segment" of signup events (INSERT → users_idx).
    * `user_id = None` plants an event with no extractable doc key (→ R1
    * dead-letter path).
    */
  private def stage(eventsDir: String, ids: Seq[Long],
      nullUserIds: Seq[Long] = Nil): Unit = {
    val rows =
      ids.map(i => (i, 1706000000000000000L + i * 1000000000L,
        Option(i), "signup", 1.0, "{}")) ++
      nullUserIds.map(i => (i, 1706000000000000000L + i * 1000000000L,
        Option.empty[Long], "signup", 1.0, "{}"))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode(SaveMode.Append).parquet(eventsDir)
  }

  /** All NDJSON lines across every batch dir's part files (closes files). */
  private def bulkLines(bulkDir: String): Seq[String] = {
    val d = new java.io.File(bulkDir)
    if (!d.exists()) Seq.empty
    else Option(d.listFiles()).getOrElse(Array.empty)
      .filter(_.isDirectory).flatMap(b => Option(b.listFiles()).getOrElse(Array.empty))
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".txt"))
      .toSeq.flatMap { f =>
        val src = scala.io.Source.fromFile(f)
        try src.getLines().toList finally src.close()
      }
  }

  private def bulkDocIds(bulkDir: String): Seq[String] =
    bulkLines(bulkDir).filter(_.contains("\"_id\""))
      .map(l => l.split("\"_id\":\"")(1).split("\"")(0))

  test("ack/resume: restart from checkpoint delivers batch 2 without re-delivering batch 1") {
    val eventsDir = tmp("graft-events")
    val bulkDir = tmp("graft-bulk")
    val dlqDir = tmp("graft-dlq")
    val ckpt = tmp("graft-ckpt")

    // phase 1: batch 1 flows through
    stage(eventsDir, 1L to 5L)
    val q1 = runPipeline(eventsDir, bulkDir, dlqDir, ckpt, concurrentRequest = 2)
    awaitDone(q1)
    val after1 = bulkDocIds(bulkDir)
    assert(after1.toSet == (1L to 5L).map(_.toString).toSet, s"got $after1")

    // phase 2: connector down; batch 2 accumulates in the WAL
    stage(eventsDir, 6L to 9L)

    // phase 3: restart with the same checkpoint (≙ same replication slot)
    val q2 = runPipeline(eventsDir, bulkDir, dlqDir, ckpt, concurrentRequest = 2)
    awaitDone(q2)
    val after2 = bulkDocIds(bulkDir)
    assert(after2.toSet == (1L to 9L).map(_.toString).toSet, s"got $after2")
    // no re-delivery: each id appears exactly once across all bulk files
    assert(after2.size == 9, s"duplicates in $after2")

    // phase 4: live stream still works after restart
    stage(eventsDir, 10L to 12L)
    val q3 = runPipeline(eventsDir, bulkDir, dlqDir, ckpt, concurrentRequest = 2)
    awaitDone(q3)
    assert(bulkDocIds(bulkDir).toSet == (1L to 12L).map(_.toString).toSet)
  }

  test("bulk payload: one NDJSON file per concurrent request per batch (B5)") {
    val eventsDir = tmp("graft-events2")
    val bulkDir = tmp("graft-bulk2")
    stage(eventsDir, 1L to 30L)
    val q = runPipeline(eventsDir, bulkDir, tmp("graft-dlq2"), tmp("graft-ckpt2"),
      concurrentRequest = 3)
    awaitDone(q)
    val batchDirs = new java.io.File(bulkDir).listFiles().filter(_.isDirectory)
    assert(batchDirs.nonEmpty)
    val parts = batchDirs.head.listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".txt"))
    assert(parts.length == 3, s"expected 3 bulk request files, got ${parts.length}")
  }

  test("e2e insert/update/delete trio through the stream (connector_test.go:25-426)") {
    val eventsDir = tmp("graft-trio-events")
    val bulkDir = tmp("graft-trio-bulk")
    // signup=INSERT users_idx, purchase=UPDATE orders_idx, error=DELETE users_idx
    Seq(
      (1L, 1706000000000000000L, Option(1L), "signup", 1.0, "{}"),
      (2L, 1706000001000000000L, Option(2L), "purchase", 2.5, "{}"),
      (3L, 1706000002000000000L, Option(3L), "error", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode(SaveMode.Append).parquet(eventsDir)
    val q = runPipeline(eventsDir, bulkDir, tmp("graft-trio-dlq"),
      tmp("graft-trio-ckpt"), concurrentRequest = 1)
    awaitDone(q)
    val lines = bulkLines(bulkDir)
    assert(lines.exists(l => l.contains("\"index\"") && l.contains("users_idx") && l.contains("\"_id\":\"1\"")))
    assert(lines.exists(l => l.contains("\"op\":\"INSERT\"")))
    assert(lines.exists(l => l.contains("\"index\"") && l.contains("orders_idx") && l.contains("\"_id\":\"2\"")))
    assert(lines.exists(l => l.contains("\"op\":\"UPDATE\"")))
    assert(lines.exists(l => l.contains("\"delete\"") && l.contains("\"_id\":\"3\"")))
    // delete is meta-only: no source line carries id 3's doc
    assert(!lines.exists(_.contains("\"op\":\"DELETE\"")))
  }

  test("S1 json replay: the change stream reads JSON WAL segments") {
    val eventsDir = tmp("graft-json-events")
    val bulkDir = tmp("graft-json-bulk")
    val rows = (1L to 4L).map(i =>
      s"""{"event_id":$i,"ts":${1706000000000000000L + i},"user_id":$i,"event_type":"signup","value":1.0,"props":"{}"}""")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(eventsDir, "seg1.json"),
      rows.mkString("\n").getBytes)
    val q = runPipeline(eventsDir, bulkDir, tmp("graft-json-dlq"),
      tmp("graft-json-ckpt"), concurrentRequest = 1, format = "json")
    awaitDone(q)
    assert(bulkDocIds(bulkDir).toSet == (1L to 4L).map(_.toString).toSet)
  }

  test("B2 byte trigger: no single _bulk file exceeds batchByteSizeLimit") {
    import graft.stream.{EsBulkSink, ResponseHandler}
    val bulkDir = tmp("graft-bytes-bulk")
    val actions = (1 to 50).map(i =>
      (i.toLong, "index", s"d$i", "users_idx", "x" * 200))
      .toDF("event_id", "action_type", "doc_id", "index_name", "source")
    EsBulkSink.writeBatch(actions, 0L, bulkDir,
      ResponseHandler.deadLetter(tmp("graft-bytes-dlq")), 1,
      batchByteSizeLimit = 2048)
    val parts = new java.io.File(s"$bulkDir/batch_0").listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".txt"))
    assert(parts.length >= 5, s"expected >=5 bulk files, got ${parts.length}")
    // round-robin split: every file stays within ~2x the limit
    assert(parts.forall(_.length <= 4096), parts.map(_.length).mkString(","))
  }

  test("B2 byte-bounded admission: maxBytesPerTrigger splits staged segments across micro-batches") {
    import graft.conf.{EsSinkConfig, GraftConfig}
    import graft.ops.CdcOps
    val eventsDir = tmp("graft-adm-events")
    val bulkDir = tmp("graft-adm-bulk")
    // three separate WAL segment files; a 1-byte admission budget admits
    // exactly one file per trigger (the source always takes >=1 file)
    stage(eventsDir, Seq(1L))
    stage(eventsDir, Seq(2L))
    stage(eventsDir, Seq(3L))
    // admission is its OWN knob: batchByteSizeLimit is the FLUSH limit
    // (per-request split), deriving admission from it would cap
    // throughput at limit/tick — see EsSinkConfig.maxBytesPerTrigger
    val cfg = GraftConfig(EsSinkConfig(
      tableIndexMapping = CdcOps.tableIndexMapping,
      maxBytesPerTrigger = Some("1b"), concurrentRequest = 1))
    val q = Pipeline.run(spark, cfg,
      Connector.Io(eventsDir, bulkDir, tmp("graft-adm-dlq"), tmp("graft-adm-ckpt")),
      trigger = Some(Trigger.AvailableNow()))
    awaitDone(q)
    val batchDirs = new java.io.File(bulkDir).listFiles().filter(_.isDirectory)
    assert(batchDirs.length >= 3,
      s"expected >=3 byte-bounded micro-batches, got ${batchDirs.length}")
    assert(bulkDocIds(bulkDir).toSet == Set("1", "2", "3"))
  }

  test("config-driven run resolves version='' through the 7.0.0 fallback (emits _type)") {
    import graft.conf.{EsSinkConfig, GraftConfig}
    import graft.ops.CdcOps
    val eventsDir = tmp("graft-v-events")
    val bulkDir = tmp("graft-v-bulk")
    stage(eventsDir, Seq(1L, 2L))
    val cfg = GraftConfig(EsSinkConfig(
      tableIndexMapping = CdcOps.tableIndexMapping, version = ""))
    val q = Pipeline.run(spark, cfg,
      Connector.Io(eventsDir, bulkDir, tmp("graft-v-dlq"), tmp("graft-v-ckpt")),
      trigger = Some(Trigger.AvailableNow()))
    awaitDone(q)
    val metas = bulkLines(bulkDir).filter(_.contains("\"_id\""))
    assert(metas.nonEmpty)
    assert(metas.forall(_.contains("\"_type\":\"_doc\"")),
      s"version='' must fall back to 7.0.0 and emit _type: $metas")
  }

  test("B2 action-count flush: batchSizeLimit splits the flush into ceil(n/limit) requests") {
    import graft.stream.{EsBulkSink, ResponseHandler}
    val bulkDir = tmp("graft-count-bulk")
    val actions = (1 to 50).map(i =>
      (i.toLong, "index", s"d$i", "users_idx", "{}"))
      .toDF("event_id", "action_type", "doc_id", "index_name", "source")
    EsBulkSink.writeBatch(actions, 0L, bulkDir,
      ResponseHandler.deadLetter(tmp("graft-count-dlq")), 1,
      batchSizeLimit = 10)
    val parts = new java.io.File(s"$bulkDir/batch_0").listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".txt"))
    assert(parts.length == 5, s"expected 5 bulk request files, got ${parts.length}")
  }

  test("ticker trigger (B2): ProcessingTime query drains staged WAL segments") {
    import org.apache.spark.sql.streaming.Trigger
    val eventsDir = tmp("graft-tick-events")
    val bulkDir = tmp("graft-tick-bulk")
    stage(eventsDir, 1L to 4L)
    val q = runPipeline(eventsDir, bulkDir, tmp("graft-tick-dlq"),
      tmp("graft-tick-ckpt"), concurrentRequest = 1,
      trigger = Trigger.ProcessingTime(100)) // ≙ batchTickerDuration=100ms (examples)
    try {
      q.processAllAvailable()
      assert(bulkDocIds(bulkDir).toSet == Set("1", "2", "3", "4"))
      stage(eventsDir, 5L to 6L) // live segment while the ticker runs
      q.processAllAvailable()
      assert(bulkDocIds(bulkDir).toSet == (1L to 6L).map(_.toString).toSet)
    } finally q.stop()
  }

  test("R1 custom ResponseHandler: OnSuccess/OnError both invoked with the right actions") {
    import graft.stream.{EsBulkSink, ResponseHandler}
    val okIds = scala.collection.mutable.Set[Long]()
    val errIds = scala.collection.mutable.Set[Long]()
    val handler = new ResponseHandler {
      override def onSuccess(actions: org.apache.spark.sql.DataFrame, batchId: Long): Unit =
        okIds ++= actions.select("event_id").as[Long].collect()
      override def onError(actions: org.apache.spark.sql.DataFrame, batchId: Long): Unit =
        errIds ++= actions.select("event_id").as[Long].collect()
    }
    val actions = Seq(
      (1L, "index", "a", "users_idx", "{}"),
      (2L, "index", null.asInstanceOf[String], "users_idx", "{}"), // key-less → error
      (3L, "delete", "c", "users_idx", null.asInstanceOf[String])
    ).toDF("event_id", "action_type", "doc_id", "index_name", "source")
    EsBulkSink.writeBatch(actions, 0L, tmp("graft-rh-bulk"), handler, 1)
    assert(okIds == Set(1L, 3L))
    assert(errIds == Set(2L))
  }

  test("R1 OnInit: fires once, before the stream starts, with the resolved config") {
    // ≙ response_handler.go:9-12 + bulk/option.go:19-27: the init context
    // is where users bootstrap indices/templates; here the handler
    // bootstraps the output "index template" marker from the hook
    import graft.stream.ResponseHandler
    val eventsDir = tmp("graft-events-init")
    val bulkDir = tmp("graft-bulk-init")
    stage(eventsDir, 1L to 3L)
    val calls = scala.collection.mutable.ArrayBuffer[String]()
    @volatile var initVersion: String = null
    val templateDir = new java.io.File(tmp("graft-init-scratch"), "users_idx_template")
    val handler = new ResponseHandler {
      override def onInit(s: org.apache.spark.sql.SparkSession,
          cfg: graft.conf.GraftConfig): Unit = {
        calls += "init"
        initVersion = cfg.es.version
        templateDir.mkdirs() // the bootstrap-an-index use case
        ()
      }
      override def onSuccess(actions: org.apache.spark.sql.DataFrame, batchId: Long): Unit =
        calls += "success"
      override def onError(actions: org.apache.spark.sql.DataFrame, batchId: Long): Unit =
        calls += "error"
    }
    val cfg = graft.conf.GraftConfig(graft.conf.EsSinkConfig(
      tableIndexMapping = Map("public.users" -> "users_idx"),
      version = "")) // auto-detect requested → resolved BEFORE onInit
    val q = Pipeline.run(spark, cfg,
      Connector.Io(eventsDir, bulkDir, tmp("graft-dlq-init"), tmp("graft-ckpt-init")),
      trigger = Some(Trigger.AvailableNow()), responseHandler = Some(handler))
    awaitDone(q)
    assert(calls.headOption.contains("init"), s"init not first: $calls")
    assert(calls.count(_ == "init") == 1, s"init fired more than once: $calls")
    assert(calls.contains("success"))
    assert(initVersion == "7.0.0", "onInit saw the unresolved config")
    assert(templateDir.isDirectory, "init-hook bootstrap did not run")
  }

  test("R1 OnInit: Connector construction fires it before start (option.go timing)") {
    import graft.stream.ResponseHandler
    val calls = scala.collection.mutable.ArrayBuffer[String]()
    val handler = new ResponseHandler {
      override def onInit(s: org.apache.spark.sql.SparkSession,
          cfg: graft.conf.GraftConfig): Unit = { calls += "init"; () }
      override def onError(actions: org.apache.spark.sql.DataFrame, batchId: Long): Unit = ()
    }
    val cfg = graft.conf.GraftConfig(graft.conf.EsSinkConfig(
      tableIndexMapping = Map("public.users" -> "users_idx")))
    Connector.newConnector(spark, cfg,
      Connector.Io(tmp("graft-ev-c"), tmp("graft-bulk-c"), tmp("graft-dlq-c"),
        tmp("graft-ckpt-c")),
      responseHandler = Some(handler))
    // no start() yet — construction alone must have fired init, like the
    // reference installing the option at NewConnector time
    assert(calls.toList == List("init"))
  }

  test("R1 per-item failure demux: item errors route to OnError, the rest succeed (bulk.go:392-411)") {
    import graft.stream.{EsBulkSink, ResponseHandler}
    val ok = scala.collection.mutable.Set[Long]()
    val err = scala.collection.mutable.Map[Long, String]()
    val handler = new ResponseHandler {
      override def onSuccess(actions: org.apache.spark.sql.DataFrame, batchId: Long): Unit =
        ok ++= actions.select("event_id").as[Long].collect()
      override def onError(actions: org.apache.spark.sql.DataFrame, batchId: Long): Unit =
        err ++= actions.select("event_id", "_bulk_error").as[(Long, String)].collect()
    }
    val actions = Seq(
      (1L, "index", "a", "users_idx", "{}", null.asInstanceOf[String]),
      (2L, "index", "b", "users_idx", "{}", null.asInstanceOf[String]),
      (3L, "index", "b", "orders_idx", "{}", null.asInstanceOf[String]), // same _id, other index: must NOT match
      (4L, "index", "r", "users_idx", "{}", "shard7") // routed action: key carries routing
    ).toDF("event_id", "action_type", "doc_id", "index_name", "source", "routing")
    // fault injection: the joinErrors map a real `_bulk` response would
    // yield (keys per getActionKey: _id:_index[:_routing])
    EsBulkSink.handleResponse(actions,
      Map("b:users_idx" -> "mapper_parsing_exception",
          "r:users_idx:shard7" -> "version_conflict_engine_exception"),
      handler, 7L)
    assert(ok == Set(1L, 3L))
    assert(err.toMap == Map(
      2L -> "mapper_parsing_exception",
      4L -> "version_conflict_engine_exception"))
    // empty error map: everything succeeds, nothing routed to OnError
    ok.clear(); err.clear()
    EsBulkSink.handleResponse(actions, Map.empty, handler, 8L)
    assert(ok == Set(1L, 2L, 3L, 4L) && err.isEmpty)
  }

  test("stage timer: each flush adds the sink.cache_build/ship/demux stages, within addBatch, scraped on /metrics") {
    import graft.obs.Stages
    import graft.stream.{Metrics, MetricsEndpoint}
    val eventsDir = tmp("graft-stages-events")
    stage(eventsDir, 1L to 3L)
    stage(eventsDir, 4L to 6L)
    val before = Stages.snapshot()
    val footprint0 = cacheFootprint
    val q = runPipeline(eventsDir, tmp("graft-stages-bulk"),
      tmp("graft-stages-dlq"), tmp("graft-stages-ckpt"))
    awaitDone(q)
    assert(cacheFootprint === footprint0,
      "each flush releases its cache with its scope")
    val gained = Stages.since(before).filter(_._1.startsWith("sink."))
    val addBatchMs = q.recentProgress.toSeq
      .flatMap(p => Option(p.durationMs.get("addBatch")).map(_.longValue))
    assert(addBatchMs.size == 2, "one batch per staged segment")
    // no key-less rows, so no sink.dead_letter stage
    assert(gained.keySet == Set("sink.cache_build", "sink.ship", "sink.demux"),
      gained)
    assert(gained.values.forall(_.calls == addBatchMs.size), gained)
    // the flush runs inside addBatch; addBatch is whole ms off a
    // millisecond clock, so each batch may read up to 1 ms short
    val stageMs = gained.values.map(_.wallMs).sum
    assert(stageMs <= addBatchMs.sum + addBatchMs.size,
      s"stage walls $stageMs ms exceed addBatch ${addBatchMs.sum} ms")
    val text = MetricsEndpoint.render(Metrics.snapshot())
    assert(text.contains("# TYPE graft_stage_ms_total counter"), text)
    assert(text.contains("""graft_stage_ms_total{stage="sink.ship"}"""), text)
  }

  test("R1 dead-letter: key-less actions split to the error sink, not the bulk payload") {
    val eventsDir = tmp("graft-events3")
    val bulkDir = tmp("graft-bulk3")
    val dlqDir = tmp("graft-dlq3")
    stage(eventsDir, 1L to 3L, nullUserIds = Seq(100L, 101L))
    import graft.stream.{Metrics, MetricsEndpoint}
    val deadTotal = "dead_letter_total{index=users_idx}"
    val before = Metrics.snapshot().getOrElse(deadTotal, 0L)
    val q = runPipeline(eventsDir, bulkDir, dlqDir, tmp("graft-ckpt3"),
      concurrentRequest = 1)
    awaitDone(q)
    assert(bulkDocIds(bulkDir).toSet == Set("1", "2", "3"))
    val dead = spark.read.parquet(dlqDir)
    assert(dead.select("event_id").as[Long].collect().toSet == Set(100L, 101L))
    // both key-less rows count, under the index they were routed to
    val snap = Metrics.snapshot()
    assert(snap.getOrElse(deadTotal, 0L) - before == 2L, snap)
    val text = MetricsEndpoint.render(snap)
    assert(text.contains("# TYPE graft_dead_letter_total counter"), text)
    assert(text.contains("""graft_dead_letter_total{index="users_idx"}"""), text)
  }
}
