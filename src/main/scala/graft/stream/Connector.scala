package graft.stream

import java.util.concurrent.TimeoutException

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.conf.{GraftConfig, InitialMode, SnapshotOnlyMode}

/** Lifecycle parity with the reference connector (SURVEY.md §3.3):
  *
  * {{{
  * val c = Connector.newConnector(spark, cfg, io)        // ≙ NewConnector(ctx, cfg, handler)  connector.go:43-80
  * c.start()                                             // ≙ connector.Start(ctx)             connector.go:82-109
  * c.waitUntilReady(30000)                               // ≙ WaitUntilReady                   connector.go:111-118
  * …
  * c.close()                                             // ≙ Close (final flush)              connector.go:120-127
  * }}}
  *
  * `start` honors the snapshot config: `snapshot_only` runs the chunked
  * table snapshot through the sink and returns (connector.go:84-96);
  * `initial` snapshots then streams; disabled streams only. `close`
  * stops the streaming query gracefully — Spark completes the in-flight
  * micro-batch first, which is exactly the reference's final
  * `bulk.Close()` flush (bulk.go:247-251).
  */
object Connector {

  /** I/O locations (the zero-egress analogs of Postgres/ES endpoints).
    * `format` is the replay source's file shape (parquet, json, csv, or
    * the `wal` segment source — see [[Pipeline.changeStream]]).
    */
  case class Io(
      eventsDir: String,
      bulkOutDir: String,
      deadLetterDir: String,
      checkpointDir: String,
      snapshotTable: Option[(DataFrame, String, String, String)] = None, // (df, ns, table, pk)
      format: String = "parquet"
  )

  /** ≙ NewConnector (connector.go:43-80). `infoProbe` is the Info-API
    * call for ES version auto-detect when `cfg.es.version` is empty —
    * detection failure falls back to "7.0.0" exactly like client.go:37-46
    * (see [[graft.conf.resolveVersion]]); with `http` and no explicit
    * probe, the HTTP client's Info API is the probe. `responseHandler` ≙
    * WithResponseHandler (option.go:19-23); its `onInit` fires HERE, at
    * construction with the resolved config — the reference invokes OnInit
    * when the option is installed (bulk/option.go:19-27), before Start.
    * `http` sends the snapshot and the stream to live Elasticsearch
    * instead of payload files.
    */
  def newConnector(spark: SparkSession, cfg: GraftConfig, io: Io,
      handler: Option[Handlers.Handler] = None,
      trigger: Option[Trigger] = None,
      infoProbe: Option[() => String] = None,
      responseHandler: Option[ResponseHandler] = None,
      http: Option[EsHttpConfig] = None): Connector = {
    val (resolved, rh, httpForTasks) =
      Pipeline.prepare(spark, cfg, io, responseHandler, http, infoProbe)
    new Connector(spark, resolved, io, handler, trigger, rh, httpForTasks)
  }
}

final class Connector private[stream] (
    spark: SparkSession,
    cfg: GraftConfig,
    io: Connector.Io,
    handler: Option[Handlers.Handler],
    triggerOverride: Option[Trigger],
    responseHandler: ResponseHandler,
    http: Option[EsHttpConfig]) {

  @volatile private var query: Option[StreamingQuery] = None
  @volatile private var metricsEndpoint: Option[MetricsEndpoint] = None

  /** This connector's streaming query name (also its metrics identity). */
  val queryName: String = QueryNames.cdcPipeline(io.checkpointDir)

  /** The table snapshot as flush `-1`, through the same sink, transport
    * and response handler as the CDC batches.
    */
  private def snapshot(): Unit = io.snapshotTable.foreach {
    case (df, ns, table, pk) =>
      Pipeline.flushBatch(cfg, io, responseHandler, http)(
        Pipeline.snapshotActions(df, ns, table, pk, cfg.snapshot.chunkSize,
          cfg.es.tableIndexMapping), -1L)
  }

  /** Snapshot-completion marker inside the checkpoint dir: InitialMode
    * must snapshot ONCE per checkpoint lineage (≙ the reference records
    * snapshot completion and resumes CDC directly) — without it every
    * crash-restart re-scans and re-writes the whole table through the
    * sink before CDC resumes, duplicating snapshot output and delaying
    * resume by the full table scan. The marker lives WITH the checkpoint
    * because that is the unit of restart identity: a fresh checkpoint
    * (new slot) legitimately snapshots again.
    */
  private def snapshotMarker = new org.apache.hadoop.fs.Path(
    io.checkpointDir, "graft-snapshot-complete")

  /** Snapshot-then-marker is NOT atomic: a crash after the snapshot's
    * bulk output but before marker creation re-runs the snapshot on the
    * next start. That stays within at-least-once — and the re-run
    * CLOBBERS rather than appends: the snapshot is flush `-1`, whose
    * fixed overwrite dir (`batch_-1`) — or, over HTTP, index-by-id
    * writes — make the replay idempotent like any CDC batch, so the only
    * cost is the repeated scan, not duplicate rows.
    */
  private def snapshotOnce(): Unit = {
    val fs = snapshotMarker.getFileSystem(
      spark.sessionState.newHadoopConf())
    if (!fs.exists(snapshotMarker)) {
      snapshot()
      fs.create(snapshotMarker, true).close()
    }
  }

  /** ≙ connector.Start: API listener, snapshot per mode, then the CDC
    * stream. The metrics endpoint (when configured) starts FIRST and
    * stays up for the connector's lifetime, like the reference's API
    * server — a scraper sees the snapshot phase too.
    */
  def start(): Unit = {
    cfg.metricsPort.foreach { p =>
      if (metricsEndpoint.isEmpty)
        metricsEndpoint = Some(MetricsEndpoint.start(p, cfg.metricsHost))
    }
    if (cfg.snapshot.enabled) {
      cfg.snapshot.mode match {
        case SnapshotOnlyMode => snapshot(); return
        case InitialMode => snapshotOnce()
      }
    }
    // launch, not Pipeline.run: the version is resolved and onInit fired
    // at construction already — run would prepare (and init) again
    query = Some(Pipeline.launch(spark, cfg, io, handler, triggerOverride,
      responseHandler, http))
  }

  /** ≙ WaitUntilReady: blocks until the stream is active (or snapshot-only
    * work finished). Throws [[TimeoutException]] like the reference's
    * ctx-deadline path — but a TERMINATED query is not "not yet ready":
    * a failed start surfaces its actual exception immediately (not a
    * generic timeout 30 s later), and a bounded query (AvailableNow) that
    * already drained and stopped cleanly counts as ready.
    */
  def waitUntilReady(timeoutMs: Long): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    query match {
      case None => () // snapshot-only: start() returned ⇒ ready
      case Some(q) =>
        var done = false
        while (!done) {
          q.exception.foreach(e => throw e)
          if (q.isActive) done = true
          else if (!spark.streams.active.exists(_.id == q.id)) {
            // terminated without exception: a bounded run already
            // completed — that IS ready (it was active and finished)
            done = true
          } else if (System.currentTimeMillis() > deadline)
            throw new TimeoutException("connector not ready")
          else Thread.sleep(10)
        }
    }
  }

  /** Drains everything currently available (test/AvailableNow helper). */
  def processAllAvailable(): Unit = query.foreach(_.processAllAvailable())

  def isActive: Boolean = query.exists(_.isActive)

  /** This connector's metrics view: shared per-index counters plus ITS
    * latency gauges (keyed internally by [[queryName]] so two connectors
    * in one session never overwrite each other — metric.go defines the
    * gauges per-connector).
    */
  def metrics: Map[String, Long] = Metrics.snapshotFor(queryName)

  /** Bound metrics port when the endpoint is running (ephemeral-port aware). */
  def metricsPort: Option[Int] = metricsEndpoint.map(_.port)

  /** Drain-then-stop: processes everything currently available before
    * terminating. Suitable for quiescent shutdown (tests, end-of-backfill);
    * under a CONTINUOUS producer `processAllAvailable` may never return —
    * use [[close]] there (its unflushed tail replays on restart).
    */
  def drainAndClose(): Unit = {
    query.foreach(_.processAllAvailable())
    close()
  }

  /** ≙ Close: stop the query. An in-flight micro-batch is interrupted and
    * its offsets do NOT commit — nothing is lost (at-least-once: those
    * events replay on the next start from the same checkpoint), but unlike
    * the reference's Close no final flush happens; call [[drainAndClose]]
    * for flush-then-stop semantics.
    */
  def close(): Unit = {
    query.foreach(_.stop())
    query = None
    metricsEndpoint.foreach(_.stop())
    metricsEndpoint = None
  }
}
