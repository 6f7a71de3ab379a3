package graft.stream

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.Duration
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}

import scala.jdk.CollectionConverters._

/** The real Elasticsearch HTTP transport — the piece the file-based
  * [[EsBulkSink]] stands in for under the zero-egress harness, now
  * implemented against the JDK's pooled `java.net.http.HttpClient` and
  * exercised in tests against an in-process loopback stub server (the
  * [[MetricsEndpoint]] precedent: loopback HTTP is inside the sandbox).
  *
  * Reference semantics carried over (client.go:12-49,
  * fasthttp_transport.go:23-59, config/config.go:9-26):
  *   - a NODE POOL seeded from `urls`, requests round-robin across it;
  *   - node discovery (`GET /_nodes/http`, publish_address) on start
  *     unless disabled — discovery failure keeps the seed list (the
  *     go-elasticsearch client's behavior), it never kills the client;
  *   - `maxRetries = 5` (client.go:16): connection errors and
  *     429/502/503/504 retry with exponential backoff, rotating to the
  *     next node each attempt; other statuses return to the caller
  *     (a `_bulk` 200-with-item-errors is NOT a transport failure —
  *     [[EsBulkResponse.itemErrors]] demuxes it);
  *   - optional gzip request compression (CompressRequestBody ≙
  *     `compressionEnabled`) with `Content-Encoding: gzip`;
  *   - basic auth from username/password;
  *   - `ping()` at construction time is the caller's choice
  *     ([[graft.stream.Connector]]); a 401 anywhere raises the
  *     reference's "unauthorized" (client.go:33-35).
  *
  * Instances are cheap enough to build per task ([[EsHttpSink]] builds
  * one per partition) — the JDK client pools connections per instance,
  * which matches the reference's per-process fasthttp pool when the
  * sink keeps partition counts at `concurrentRequest`.
  */
final case class EsHttpConfig(
    urls: Seq[String],
    username: String = "",
    password: String = "",
    maxRetries: Int = 5,
    compressionEnabled: Boolean = false,
    discoverNodesOnStart: Boolean = true,
    // ≙ !DisableDiscoverNodesOnStart (config/config.go:24). START-time
    // only — the periodic rediscovery below is governed by its own
    // interval, as in the reference where the two knobs are independent.
    discoverNodesIntervalMs: Long = 300000L,
    // ≙ DiscoverNodesInterval (config/config.go:16,54-57); <= 0 disables
    // periodic rediscovery.
    maxIdleConnDurationMs: Long = 0L,
    // ≙ MaxIdleConnDuration (config/config.go:15 — fasthttp's idle-conn
    // eviction): when the client has been idle longer than this, the next
    // request runs on a REBUILT JDK client, dropping every pooled
    // keep-alive connection — the same protection fasthttp's eviction
    // gives against riding a stale keep-alive through a dead NAT/LB
    // mapping. 0 = keep the JDK pool's own policy.
    connectTimeoutMs: Long = 5000L,
    requestTimeoutMs: Long = 30000L,
    retryBackoffBaseMs: Long = 50L)

final class EsHttpClient(cfg: EsHttpConfig) extends AutoCloseable {
  require(cfg.urls.nonEmpty, "at least one Elasticsearch URL is required")

  private def newHttp(): HttpClient = HttpClient.newBuilder()
    .connectTimeout(Duration.ofMillis(cfg.connectTimeoutMs))
    .build()

  /** Swappable so idle eviction can drop the pool (see
    * [[EsHttpConfig.maxIdleConnDurationMs]]).
    */
  private val httpRef = new AtomicReference[HttpClient](newHttp())
  private val lastRequestMs =
    new java.util.concurrent.atomic.AtomicLong(System.currentTimeMillis())
  private val idleEvictionCount = new AtomicInteger(0)

  /** Times the pool was dropped by idle eviction (test observability). */
  private[graft] def idleEvictions: Int = idleEvictionCount.get()

  /** Release a displaced/retired JDK client (review round-11): on
    * JDK 21+ `HttpClient` implements `AutoCloseable` and `close()`
    * gracefully releases the selector thread and pooled keep-alive
    * sockets; on 17 no shutdown API exists — the last reference is
    * dropped and reclamation is GC's (the documented JDK-17 behavior
    * for abandoned clients). Matching on the interface keeps one build
    * working on both runtimes.
    */
  private def shutdown(c: HttpClient): Unit = c match {
    case ac: AutoCloseable => try ac.close() catch { case _: Exception => () }
    case _ => ()
  }

  private def http: HttpClient = {
    val now = System.currentTimeMillis()
    val last = lastRequestMs.getAndSet(now)
    if (cfg.maxIdleConnDurationMs > 0 && now - last >= cfg.maxIdleConnDurationMs) {
      // getAndSet so repeated evictions never leak the displaced pool:
      // it shuts down (JDK 21+) or unreferences (17) exactly once
      shutdown(httpRef.getAndSet(newHttp()))
      idleEvictionCount.incrementAndGet()
      ()
    }
    httpRef.get()
  }

  private def normalize(u: String): String = u.stripSuffix("/")

  private val pool = new AtomicReference[Vector[String]](
    cfg.urls.map(normalize).toVector)
  private val cursor = new AtomicInteger(0)

  /** Periodic re-discovery state — ≙ the reference's
    * `discoverNodesInterval` ticker (default 5 min; config/config.go:54-57,
    * wired at elasticsearch/client/client.go:21). A long-lived sink
    * against a cluster that rolls its nodes would otherwise rot its pool
    * down to the seed list. Deadline-checked on the REQUEST path instead
    * of a background thread: a Spark-executor client must not leak a
    * daemon thread per partition task, and a sink with no traffic needs
    * no fresh nodes — while traffic flows the cadence is the ticker's.
    * Discovery failure keeps the current pool (the on-start contract:
    * discovery never takes a working client down, never shrinks to
    * nothing), and the deadline still advances so a flapping discovery
    * endpoint is probed once per interval, not once per request.
    */
  private val lastDiscoveryMs =
    new java.util.concurrent.atomic.AtomicLong(System.currentTimeMillis())
  private val discovering =
    new java.util.concurrent.atomic.AtomicBoolean(false)

  private def maybeRediscover(): Unit = {
    // governed by the interval ALONE: the reference's
    // DisableDiscoverNodesOnStart suppresses only the construction-time
    // discovery, never the ticker (config/config.go:16,24 are
    // independent knobs)
    val iv = cfg.discoverNodesIntervalMs
    if (iv > 0 &&
        System.currentTimeMillis() - lastDiscoveryMs.get() >= iv &&
        discovering.compareAndSet(false, true))
      try discoverNodes() // sets lastDiscoveryMs; nested requests skip (flag)
      finally discovering.set(false)
  }

  if (cfg.discoverNodesOnStart) discoverNodes()

  /** Current node list (seeds, or the last successful discovery). */
  def nodes: Seq[String] = pool.get()

  private def nextNode(): String = {
    val ns = pool.get()
    ns(math.floorMod(cursor.getAndIncrement(), ns.size))
  }

  private def authHeader: Option[String] =
    if (cfg.username.isEmpty) None
    else Some("Basic " + java.util.Base64.getEncoder.encodeToString(
      s"${cfg.username}:${cfg.password}".getBytes(UTF_8)))

  private def gzip(bytes: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(bytes); gz.close()
    bos.toByteArray
  }

  /** One attempt against one node; the caller loops. */
  private def attempt(node: String, method: String, path: String,
      body: Option[Array[Byte]], contentType: String): HttpResponse[String] = {
    val b = HttpRequest.newBuilder(URI.create(node + path))
      .timeout(Duration.ofMillis(cfg.requestTimeoutMs))
    authHeader.foreach(b.header("Authorization", _))
    body match {
      case Some(raw) =>
        val payload = if (cfg.compressionEnabled) gzip(raw) else raw
        b.header("Content-Type", contentType)
        if (cfg.compressionEnabled) b.header("Content-Encoding", "gzip")
        b.method(method, HttpRequest.BodyPublishers.ofByteArray(payload))
      case None => b.method(method, HttpRequest.BodyPublishers.noBody())
    }
    http.send(b.build(), HttpResponse.BodyHandlers.ofString())
  }

  /** 429 (ES backpressure) and the gateway trio retry; everything else is
    * the caller's to interpret.
    */
  private def retryable(status: Int): Boolean =
    status == 429 || status == 502 || status == 503 || status == 504

  /** Request with the reference's retry loop: up to `maxRetries` retries
    * after the first attempt, exponential backoff, next node each try.
    * A 401 raises "unauthorized" immediately (client.go:33-35).
    */
  private def request(method: String, path: String,
      body: Option[Array[Byte]] = None,
      contentType: String = "application/json"): HttpResponse[String] = {
    maybeRediscover()
    var lastErr: Throwable = null
    var lastResp: HttpResponse[String] = null
    var i = 0
    while (i <= cfg.maxRetries) {
      val node = nextNode()
      try {
        val r = attempt(node, method, path, body, contentType)
        if (r.statusCode() == 401)
          throw new IllegalStateException("unauthorized")
        if (!retryable(r.statusCode())) return r
        lastResp = r
        lastErr = null
      } catch {
        case e: IllegalStateException => throw e
        case e: java.io.IOException => lastErr = e
      }
      if (i < cfg.maxRetries && cfg.retryBackoffBaseMs > 0)
        Thread.sleep(cfg.retryBackoffBaseMs << math.min(i, 6))
      i += 1
    }
    if (lastResp != null) return lastResp
    throw new java.io.IOException(
      s"$method $path failed after ${cfg.maxRetries + 1} attempts " +
        s"across ${pool.get().size} node(s)", lastErr)
  }

  /** GET / — the Info API; body feeds [[graft.conf.parseInfoVersion]]
    * (pass `() => client.info()` as `newConnector`'s `infoProbe`).
    */
  def info(): String = {
    val r = request("GET", "/")
    if (r.statusCode() >= 300)
      throw new java.io.IOException(s"info failed: HTTP ${r.statusCode()}")
    r.body()
  }

  /** Ping ≙ client.Ping at construction (client.go:28-35). */
  def ping(): Int = request("HEAD", "/").statusCode()

  /** `GET /_nodes/http` → publish addresses; SWAPS the pool on success,
    * keeps the seed list on any failure (discovery must never take a
    * working client down).
    */
  def discoverNodes(): Seq[String] =
    try {
      lastDiscoveryMs.set(System.currentTimeMillis())
      val r = request("GET", "/_nodes/http")
      if (r.statusCode() >= 300) pool.get()
      else {
        val root = new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(r.body())
        val found = root.path("nodes").properties().asScala.toSeq
          .map(_.getValue.path("http").path("publish_address").asText(""))
          .filter(_.nonEmpty)
          .map {
            // publish_host clusters report "hostname/ip:port" — the part
            // after '/' is the dialable address (go-elasticsearch parses
            // this form explicitly); treating it as a URL path would
            // replace a WORKING seed pool with broken node URLs
            case a if a.contains("://") => normalize(a)
            case a if a.contains("/") =>
              s"http://${a.substring(a.lastIndexOf('/') + 1)}"
            case a => s"http://$a"
          }
        if (found.nonEmpty) pool.set(found.toVector)
        pool.get()
      }
    } catch { case scala.util.control.NonFatal(_) => pool.get() }

  /** POST /_bulk. Returns (status, body); a 2xx body may still carry
    * item-level errors — [[EsBulkResponse.itemErrors]] extracts them for
    * [[EsBulkSink.handleResponse]].
    */
  def bulk(ndjson: Array[Byte]): (Int, String) = {
    val r = request("POST", "/_bulk", Some(ndjson), "application/x-ndjson")
    (r.statusCode(), r.body())
  }

  // graceful on JDK 21+ (AutoCloseable HttpClient); no-op shutdown on 17
  override def close(): Unit = shutdown(httpRef.get())
}

/** `_bulk` response-body parsing — the reference's joinErrors
  * (bulk.go:321-378): item entries with status ≥ 300 yield
  * (`_id:_index`, error JSON) pairs, the exact map
  * [[EsBulkSink.handleResponse]] demuxes on.
  */
object EsBulkResponse {

  /** Positional item errors: (0-based position in the request, error
    * JSON) for every item with status ≥ 300. `_bulk` guarantees items
    * arrive in request order, so position identifies the exact action —
    * including between routed siblings that share `_id:_index` (the
    * response does not echo routing, so key-based attribution cannot).
    */
  def itemErrorsByPosition(body: String): Seq[(Int, String)] = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(body)
    if (!root.path("errors").asBoolean(false)) Seq.empty
    else root.path("items").asScala.toSeq.zipWithIndex.flatMap {
      case (item, pos) =>
        item.properties().asScala.toSeq.flatMap { e =>
          val a = e.getValue
          if (a.path("status").asInt(200) < 300) None
          else Some(pos -> a.path("error").toString)
        }
    }
  }

  def itemErrors(body: String): Map[String, String] = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(body)
    if (!root.path("errors").asBoolean(false)) Map.empty
    else root.path("items").asScala.toSeq.flatMap { item =>
      // each item is {"index": {...}} / {"delete": {...}} / {"update": {...}} / {"create": {...}}
      item.properties().asScala.toSeq.flatMap { e =>
        val a = e.getValue
        val status = a.path("status").asInt(200)
        if (status < 300) None
        else Some(s"${a.path("_id").asText("")}:${a.path("_index").asText("")}"
          -> a.path("error").toString)
      }
    }.toMap
  }
}
