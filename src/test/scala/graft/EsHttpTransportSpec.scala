package graft

import java.io.ByteArrayOutputStream
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.streaming.Trigger

import graft.stream.{Connector, EsBulkResponse, EsHttpClient, EsHttpConfig, Handlers, Pipeline}

/** The real HTTP transport against an in-process loopback stub ES
  * (zero-egress: same sandbox rules as the Prometheus endpoint, inverted
  * — here WE are the http client). Covers: x-ndjson POST round-trip,
  * gzip request compression, basic auth, the 5-retry/backoff loop on
  * 429/5xx, exhaustion, 401 → "unauthorized", node discovery updating
  * the round-robin pool, Info-API version auto-detect feeding `_type`
  * gating, and the END-TO-END pipeline where a real `_bulk` item error
  * routes exactly its action to the dead-letter handler.
  */
class EsHttpTransportSpec extends SparkSuite {
  import spark.implicits._

  /** Tiny scriptable ES stub: records `_bulk` bodies (gunzipped when
    * Content-Encoding says so), serves /, /_nodes/http, and answers
    * `_bulk` from a caller-supplied responder.
    */
  private final class StubEs(version: String = "8.11.0",
      var nodesOf: StubEs => String = null,
      var bulkResponder: (String, HttpExchange) => (Int, String) = null) {
    val received = new ConcurrentLinkedQueue[String]()
    val bulkHeaders = new ConcurrentLinkedQueue[Map[String, String]]()
    val bulkCount = new AtomicInteger(0)
    private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    val port: Int = { server.start(); server.getAddress.getPort }
    def url = s"http://127.0.0.1:$port"

    private def reply(ex: HttpExchange, status: Int, body: String): Unit = {
      val b = body.getBytes(UTF_8)
      ex.sendResponseHeaders(status, b.length.toLong)
      ex.getResponseBody.write(b)
      ex.close()
    }
    server.createContext("/", (ex: HttpExchange) => {
      (ex.getRequestMethod, ex.getRequestURI.getPath) match {
        case (_, "/_nodes/http") =>
          reply(ex, 200, Option(nodesOf).map(_(this)).getOrElse(
            s"""{"nodes":{"n1":{"http":{"publish_address":"127.0.0.1:$port"}}}}"""))
        case (_, "/_bulk") =>
          val raw = ex.getRequestBody.readAllBytes()
          val enc = Option(ex.getRequestHeaders.getFirst("Content-Encoding"))
          val body = new String(
            if (enc.contains("gzip")) {
              val in = new java.util.zip.GZIPInputStream(
                new java.io.ByteArrayInputStream(raw))
              val out = new ByteArrayOutputStream()
              in.transferTo(out); out.toByteArray
            } else raw, UTF_8)
          received.add(body)
          bulkHeaders.add(
            Seq("Content-Type", "Content-Encoding", "Authorization")
              .flatMap(h => Option(ex.getRequestHeaders.getFirst(h)).map(h -> _))
              .toMap)
          bulkCount.incrementAndGet()
          val (st, resp) = Option(bulkResponder)
            .map(_(body, ex))
            .getOrElse((200, """{"took":1,"errors":false,"items":[]}"""))
          reply(ex, st, resp)
        case _ =>
          reply(ex, 200,
            s"""{"name":"stub","version":{"number":"$version"}}""")
      }
      ()
    })
    def stop(): Unit = server.stop(0)
  }

  private def tmp(p: String) = Files.createTempDirectory(p).toString

  test("bulk POST round-trips x-ndjson body and basic auth header") {
    val es = new StubEs()
    try {
      val c = new EsHttpClient(EsHttpConfig(Seq(es.url),
        username = "elastic", password = "s3cret",
        discoverNodesOnStart = false))
      val (status, _) = c.bulk("{\"index\":{}}\n{\"a\":1}\n".getBytes(UTF_8))
      assert(status == 200)
      assert(es.received.peek() == "{\"index\":{}}\n{\"a\":1}\n")
      val h = es.bulkHeaders.peek()
      assert(h("Content-Type") == "application/x-ndjson")
      val creds = new String(java.util.Base64.getDecoder.decode(
        h("Authorization").stripPrefix("Basic ")), UTF_8)
      assert(creds == "elastic:s3cret")
    } finally es.stop()
  }

  test("gzip request compression: server receives Content-Encoding gzip, body gunzips intact") {
    val es = new StubEs()
    try {
      val c = new EsHttpClient(EsHttpConfig(Seq(es.url),
        compressionEnabled = true, discoverNodesOnStart = false))
      val payload = "{\"index\":{\"_id\":\"7\"}}\n{\"v\":\"x\"}\n"
      c.bulk(payload.getBytes(UTF_8))
      assert(es.bulkHeaders.peek().get("Content-Encoding").contains("gzip"))
      assert(es.received.peek() == payload, "stub gunzips back to the original")
    } finally es.stop()
  }

  test("retry loop: 503 twice then success; 429 counts as retryable") {
    for (code <- Seq(503, 429)) {
      val fails = new AtomicInteger(2)
      val es = new StubEs(bulkResponder = (_, _) =>
        if (fails.getAndDecrement() > 0) (code, "{}")
        else (200, """{"took":1,"errors":false,"items":[]}"""))
      try {
        val c = new EsHttpClient(EsHttpConfig(Seq(es.url),
          discoverNodesOnStart = false, retryBackoffBaseMs = 1))
        val (status, _) = c.bulk("x\n".getBytes(UTF_8))
        assert(status == 200, s"code $code should retry to success")
        assert(es.bulkCount.get() == 3)
      } finally es.stop()
    }
  }

  test("retries exhaust after maxRetries+1 attempts; last response surfaces") {
    val es = new StubEs(bulkResponder = (_, _) => (503, """{"down":true}"""))
    try {
      val c = new EsHttpClient(EsHttpConfig(Seq(es.url),
        maxRetries = 2, discoverNodesOnStart = false, retryBackoffBaseMs = 1))
      val (status, _) = c.bulk("x\n".getBytes(UTF_8))
      assert(status == 503)
      assert(es.bulkCount.get() == 3, "maxRetries=2 means 3 attempts")
    } finally es.stop()
  }

  test("401 raises the reference's 'unauthorized' immediately, no retries") {
    val es = new StubEs(bulkResponder = (_, _) => (401, "{}"))
    try {
      val c = new EsHttpClient(EsHttpConfig(Seq(es.url),
        discoverNodesOnStart = false, retryBackoffBaseMs = 1))
      val e = intercept[IllegalStateException](c.bulk("x\n".getBytes(UTF_8)))
      assert(e.getMessage == "unauthorized")
      assert(es.bulkCount.get() == 1)
    } finally es.stop()
  }

  test("node discovery: pool swaps to published addresses and round-robins bulks") {
    val es2 = new StubEs()
    val es1 = new StubEs()
    try {
      es1.nodesOf = s =>
        s"""{"nodes":{
           |"n1":{"http":{"publish_address":"127.0.0.1:${es1.port}"}},
           |"n2":{"http":{"publish_address":"127.0.0.1:${es2.port}"}}}}""".stripMargin
      val c = new EsHttpClient(EsHttpConfig(Seq(es1.url),
        discoverNodesOnStart = true, retryBackoffBaseMs = 1))
      assert(c.nodes.toSet ==
        Set(s"http://127.0.0.1:${es1.port}", s"http://127.0.0.1:${es2.port}"))
      for (_ <- 1 to 4) c.bulk("x\n".getBytes(UTF_8))
      assert(es1.bulkCount.get() > 0 && es2.bulkCount.get() > 0,
        s"round-robin must touch both nodes: ${es1.bulkCount.get()}/${es2.bulkCount.get()}")
    } finally { es1.stop(); es2.stop() }
  }

  test("discovery failure keeps the seed pool (never takes the client down)") {
    val c = new EsHttpClient(EsHttpConfig(Seq("http://127.0.0.1:1"),
      discoverNodesOnStart = true, maxRetries = 0, retryBackoffBaseMs = 0))
    assert(c.nodes == Seq("http://127.0.0.1:1"))
  }

  test("periodic re-discovery: a rolled cluster's new node list is picked up after the interval") {
    // ≙ discoverNodesInterval (config.go:54-57): the cluster 'rolls' —
    // _nodes starts answering a NEW address mid-run — and bulks after
    // the deadline reach the new node without a client rebuild
    val esNew = new StubEs()
    val esOld = new StubEs()
    try {
      // start: the old node publishes only itself
      esOld.nodesOf = s =>
        s"""{"nodes":{"n1":{"http":{"publish_address":"127.0.0.1:${esOld.port}"}}}}"""
      val c = new EsHttpClient(EsHttpConfig(Seq(esOld.url),
        discoverNodesOnStart = true, discoverNodesIntervalMs = 150,
        retryBackoffBaseMs = 1))
      assert(c.nodes == Seq(s"http://127.0.0.1:${esOld.port}"))
      // roll: the cluster now publishes the replacement node
      esOld.nodesOf = s =>
        s"""{"nodes":{"nX":{"http":{"publish_address":"127.0.0.1:${esNew.port}"}}}}"""
      // inside the interval: pool unchanged, bulks still hit the old node
      c.bulk("a\n".getBytes(UTF_8))
      assert(c.nodes == Seq(s"http://127.0.0.1:${esOld.port}"),
        "re-discovery fired before its interval")
      assert(esNew.bulkCount.get() == 0)
      Thread.sleep(200)
      // past the deadline: the SAME bulk call re-discovers first, so the
      // request already lands on the rolled cluster's new node
      c.bulk("b\n".getBytes(UTF_8))
      assert(c.nodes == Seq(s"http://127.0.0.1:${esNew.port}"),
        "pool did not refresh after the discovery interval")
      assert(esNew.bulkCount.get() == 1)
    } finally { esOld.stop(); esNew.stop() }
  }

  test("periodic re-discovery failure keeps the working pool; next probe waits a full interval") {
    val es = new StubEs()
    try {
      var discoveries = 0
      es.nodesOf = s => {
        discoveries += 1
        s"""{"nodes":{"n1":{"http":{"publish_address":"127.0.0.1:${es.port}"}}}}"""
      }
      val c = new EsHttpClient(EsHttpConfig(Seq(es.url),
        discoverNodesOnStart = true, discoverNodesIntervalMs = 150,
        retryBackoffBaseMs = 1))
      assert(discoveries == 1)
      // the cluster's discovery endpoint starts answering garbage
      es.nodesOf = s => """{"nodes":{}}"""
      Thread.sleep(200)
      c.bulk("a\n".getBytes(UTF_8)) // triggers the failed re-discovery
      assert(c.nodes == Seq(s"http://127.0.0.1:${es.port}"),
        "a failed discovery must never shrink a working pool")
      // deadline advanced even though discovery failed: immediate further
      // traffic must NOT re-probe per request
      val before = es.bulkCount.get()
      c.bulk("b\n".getBytes(UTF_8))
      c.bulk("c\n".getBytes(UTF_8))
      assert(es.bulkCount.get() == before + 2, "bulks still flow")
    } finally es.stop()
  }

  test("end-to-end runHttp: version auto-detect gates _type; real item error dead-letters exactly its action") {
    // stub a 6.x cluster that rejects doc 2 at item level
    val es = new StubEs(version = "6.8.23", bulkResponder = (body, _) => {
      val items = body.linesIterator.filter(_.contains("\"_id\"")).map { meta =>
        val id = meta.split("\"_id\":\"")(1).split("\"")(0)
        val idx = meta.split("\"_index\":\"")(1).split("\"")(0)
        if (id == "2")
          s"""{"index":{"_id":"$id","_index":"$idx","status":400,"error":{"type":"mapper_parsing_exception"}}}"""
        else
          s"""{"index":{"_id":"$id","_index":"$idx","status":201}}"""
      }.mkString(",")
      (200, s"""{"took":3,"errors":true,"items":[$items]}""")
    })
    val eventsDir = tmp("http-events")
    val dlq = tmp("http-dlq")
    try {
      Seq(
        (1L, 1706000000000000001L, 1L, "signup", 1.0, "{}"),
        (2L, 1706000000000000002L, 2L, "signup", 2.0, "{}"),
        (3L, 1706000000000000003L, 3L, "signup", 3.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode(SaveMode.Append).parquet(eventsDir)
      val cfg = graft.conf.GraftConfig(es = graft.conf.EsSinkConfig(
        tableIndexMapping = graft.ops.CdcOps.tableIndexMapping,
        version = "")) // "" → auto-detect over the live Info API
      val q = Pipeline.run(spark, cfg,
        Connector.Io(eventsDir, tmp("http-bulk"), dlq, tmp("http-ckpt")),
        trigger = Some(Trigger.AvailableNow()),
        http = Some(EsHttpConfig(Seq(es.url), retryBackoffBaseMs = 1)))
      awaitDone(q)
      // version detected as 6.x → meta lines must carry _type
      val posted = es.received.peek()
      assert(posted.contains("\"_type\""),
        s"6.x auto-detect must emit _type, got: $posted")
      // the real response demux: doc 2 (and only doc 2) dead-letters,
      // with the server's error text attached
      val dead = spark.read.parquet(dlq)
      val ids = dead.select("doc_id").as[String].collect().toSeq
      assert(ids == Seq("2"), s"exactly doc 2 must dead-letter: $ids")
      assert(dead.select("_bulk_error").as[String].head()
        .contains("mapper_parsing_exception"))
    } finally es.stop()
  }

  test("Connector over HTTP: typed handler and initial snapshot post _bulk, no payload files") {
    import scala.jdk.CollectionConverters._
    import graft.conf.{EsSinkConfig, GraftConfig, InitialMode, SnapshotConfig}
    val es = new StubEs()
    val eventsDir = tmp("http-conn-events")
    val bulkDir = tmp("http-conn-bulk")
    try {
      Seq(
        (1L, 1706000000000000001L, 1L, "signup", 1.0, "{}"),
        (2L, 1706000000000000002L, 2L, "signup", 2.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode(SaveMode.Append).parquet(eventsDir)
      // the reference's simple handler, tagged so the posted ids prove the
      // typed path (not the column handler) produced the CDC actions
      val tagged: Handlers.Handler = msg =>
        Handlers.simpleHandler(msg).map(a => a.copy(docId = s"t${a.docId}"))
      val c = Connector.newConnector(spark,
        GraftConfig(EsSinkConfig(graft.ops.CdcOps.tableIndexMapping),
          snapshot = SnapshotConfig(enabled = true, mode = InitialMode)),
        Connector.Io(eventsDir, bulkDir, tmp("http-conn-dlq"), tmp("http-conn-ckpt"),
          snapshotTable = Some((
            Seq((100L, "u100"), (101L, "u101")).toDF("id", "name"),
            "public", "users", "id"))),
        handler = Some(tagged),
        trigger = Some(Trigger.AvailableNow()),
        http = Some(EsHttpConfig(Seq(es.url), retryBackoffBaseMs = 1)))
      c.start()
      c.drainAndClose()
      val metas = es.received.asScala.toSeq.flatMap(_.linesIterator)
        .filter(_.contains("\"_id\""))
      val ids = metas.map(l => l.split("\"_id\":\"")(1).split("\"")(0))
      assert(ids.sorted == Seq("100", "101", "t1", "t2"),
        s"snapshot rows and typed-handler actions must all post: $ids")
      assert(metas.forall(_.contains("\"_index\":\"users_idx\"")), metas)
      assert(new java.io.File(bulkDir).list().isEmpty,
        "the HTTP route must not write payload files")
    } finally es.stop()
  }

  test("discovery parses the publish_host 'hostname/ip:port' form to a dialable URL") {
    val es = new StubEs()
    try {
      es.nodesOf = s =>
        s"""{"nodes":{"n1":{"http":{"publish_address":"esnode1/127.0.0.1:${es.port}"}}}}"""
      val c = new EsHttpClient(EsHttpConfig(Seq(es.url),
        discoverNodesOnStart = true, retryBackoffBaseMs = 1))
      assert(c.nodes == Seq(s"http://127.0.0.1:${es.port}"),
        s"host/ip:port must resolve to the ip:port half, got ${c.nodes}")
      val (status, _) = c.bulk("x\n".getBytes(UTF_8))
      assert(status == 200, "the discovered URL must actually be dialable")
    } finally es.stop()
  }

  test("routed SIBLING failures attribute positionally: only the failed routing dead-letters") {
    import graft.stream.{EsHttpSink, ResponseHandler}
    // two live actions share _id:_index but differ in routing (the
    // delete-old-routing + index-new-routing CDC pattern); the stub fails
    // the routing=ra item. A real response does NOT echo routing, so only
    // positional attribution can tell the siblings apart.
    val es = new StubEs(bulkResponder = (body, _) => {
      val items = body.linesIterator.filter(_.contains("\"_id\"")).map { meta =>
        if (meta.contains("\"routing\":\"ra\""))
          s"""{"index":{"_id":"1","_index":"idx","status":400,"error":{"type":"routed_boom"}}}"""
        else
          s"""{"index":{"_id":"1","_index":"idx","status":201}}"""
      }.mkString(",")
      (200, s"""{"took":1,"errors":true,"items":[$items]}""")
    })
    try {
      val actions = Seq(
        (1L, "1", "idx", "index", "ra", "{\"a\":1}"),
        (2L, "1", "idx", "index", "rb", "{\"a\":2}"))
        .toDF("event_id", "doc_id", "index_name", "action_type", "routing", "source")
      val bad = new ConcurrentLinkedQueue[Long]()
      val good = new ConcurrentLinkedQueue[Long]()
      val rh = new ResponseHandler {
        override def onError(a: org.apache.spark.sql.DataFrame, b: Long): Unit =
          a.select("event_id").collect().foreach(r => bad.add(r.getLong(0)))
        override def onSuccess(a: org.apache.spark.sql.DataFrame, b: Long): Unit =
          a.select("event_id").collect().foreach(r => good.add(r.getLong(0)))
      }
      EsHttpSink.postBatch(actions, 0L, EsHttpConfig(Seq(es.url),
        discoverNodesOnStart = false, retryBackoffBaseMs = 1),
        rh, concurrentRequest = 1)
      import scala.jdk.CollectionConverters._
      assert(bad.asScala.toSet == Set(1L),
        s"exactly the routing=ra sibling must fail, got ${bad.asScala}")
      assert(good.asScala.toSet == Set(2L),
        s"the routing=rb sibling must succeed, got ${good.asScala}")
    } finally es.stop()
  }

  test("in-flight _bulk requests stay within concurrentRequest even when flush limits widen the split") {
    import graft.stream.{EsHttpSink, ResponseHandler}
    val inFlight = new AtomicInteger(0)
    val maxInFlight = new AtomicInteger(0)
    val es = new StubEs(bulkResponder = (_, _) => {
      val cur = inFlight.incrementAndGet()
      maxInFlight.getAndUpdate(m => math.max(m, cur))
      Thread.sleep(150)
      inFlight.decrementAndGet()
      (200, """{"took":1,"errors":false,"items":[]}""")
    })
    try {
      val actions = (1 to 12).map(i =>
        (i.toLong, i.toString, "idx", "index", s"""{"v":$i}"""))
        .toDF("event_id", "doc_id", "index_name", "action_type", "source")
      // batchSizeLimit=2 over 12 actions → 6 requests; cap at 2 slots
      EsHttpSink.postBatch(actions, 0L, EsHttpConfig(Seq(es.url),
        discoverNodesOnStart = false, retryBackoffBaseMs = 1),
        new ResponseHandler {
          override def onError(a: org.apache.spark.sql.DataFrame, b: Long): Unit = ()
        }, concurrentRequest = 2,
        batchSizeLimit = 2)
      assert(es.bulkCount.get() == 6,
        s"flush split must hold: ${es.bulkCount.get()} requests")
      assert(maxInFlight.get() <= 2,
        s"in-flight exceeded the slot count: ${maxInFlight.get()}")
    } finally es.stop()
  }

  test("EsBulkResponse.itemErrors parses mixed action kinds, skips successes") {
    val body =
      """{"errors":true,"items":[
        |{"index":{"_id":"a","_index":"i1","status":201}},
        |{"delete":{"_id":"b","_index":"i2","status":404,"error":{"type":"not_found"}}},
        |{"update":{"_id":"c","_index":"i3","status":429,"error":{"type":"rejected"}}}]}""".stripMargin
    val errs = EsBulkResponse.itemErrors(body)
    assert(errs.keySet == Set("b:i2", "c:i3"))
    assert(errs("b:i2").contains("not_found"))
    assert(EsBulkResponse.itemErrors("""{"errors":false,"items":[]}""").isEmpty)
  }

  test("maxIdleConnDuration: idle gap drops the pooled client, requests keep working") {
    val es = new StubEs()
    try {
      // ≙ MaxIdleConnDuration (config/config.go:15): idle-conn eviction
      val c = new EsHttpClient(EsHttpConfig(Seq(es.url),
        discoverNodesOnStart = false, maxIdleConnDurationMs = 5))
      assert(c.bulk("{\"index\":{}}\n{}\n".getBytes(UTF_8))._1 == 200)
      Thread.sleep(25)
      assert(c.bulk("{\"index\":{}}\n{}\n".getBytes(UTF_8))._1 == 200)
      assert(c.idleEvictions >= 1,
        "an idle gap past the limit must rebuild the pooled client")
      assert(es.bulkCount.get() == 2)
      // unset (0): same traffic pattern, no eviction
      val c2 = new EsHttpClient(EsHttpConfig(Seq(es.url),
        discoverNodesOnStart = false))
      c2.bulk("{\"index\":{}}\n{}\n".getBytes(UTF_8))
      Thread.sleep(25)
      c2.bulk("{\"index\":{}}\n{}\n".getBytes(UTF_8))
      assert(c2.idleEvictions == 0)
    } finally es.stop()
  }

  test("disableDiscoverNodesOnStart suppresses only start-time discovery; the interval ticker still runs") {
    val discovered = new AtomicInteger(0)
    val es = new StubEs()
    es.nodesOf = s => {
      discovered.incrementAndGet()
      s"""{"nodes":{"n1":{"http":{"publish_address":"127.0.0.1:${s.port}"}}}}"""
    }
    try {
      // start-time discovery OFF (≙ DisableDiscoverNodesOnStart,
      // config/config.go:24), periodic interval tiny (≙
      // DiscoverNodesInterval, config/config.go:16) — the two knobs are
      // independent in the reference
      val c = new EsHttpClient(EsHttpConfig(Seq(es.url),
        discoverNodesOnStart = false, discoverNodesIntervalMs = 5))
      assert(discovered.get() == 0, "construction must not discover")
      Thread.sleep(25)
      c.ping() // past the deadline → the request path rediscovers
      assert(discovered.get() >= 1,
        "the interval ticker must rediscover even with on-start disabled")
    } finally es.stop()
  }
}
