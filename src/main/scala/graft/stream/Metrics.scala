package graft.stream

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** R3 — metrics parity with the reference's Prometheus surface
  * (elasticsearch/bulk/metric.go:13-112):
  *
  *   - `index_total{index}` / `delete_total{index}`: per-index action
  *     counters, lazily registered per index name (metric.go:56-96) —
  *     here a concurrent counter map fed from each flush's census once
  *     its ship returns;
  *   - `dead_letter_total{index}`: key-less actions routed to OnError,
  *     from the same census (label `""` when the index is null too);
  *   - `process_latency_current` (event-time → ack lag) and
  *     `bulk_request_process_latency_current` (flush RTT) gauges
  *     (metric.go:35-54, set at bulk.go:168-170,312) — here fed from
  *     Structured Streaming's own query progress (triggerExecution /
  *     addBatch durations), via a [[StreamingQueryListener]].
  *
  * The gauges are keyed by STREAMING QUERY NAME: the reference defines
  * them per-connector (metric.go), and two connectors in one session
  * (distinct [[QueryNames]] suffixes) must not overwrite each other's
  * latencies. [[Connector.metrics]] reads its own query's gauges;
  * [[snapshot]] exposes all of them with a `{query=…}` label. The
  * counters stay keyed by index name — that IS the reference's label
  * (each connector writes its configured indexes).
  *
  * `stage_ms_total{stage=…}` is the cumulative wall of each
  * [[graft.obs.Stages]] stage: where a batch's time goes, same scrape.
  * Every non-CDC leg ([[Leg.start]]) times its micro-batch as
  * `leg.<stem>.batch` (e.g. `leg.cms-stream.batch`), so the legs show
  * here although [[Listener]] keeps only the CDC queries' gauges.
  * It lives for the whole process: [[reset]] does not clear it, and
  * [[Connector.metrics]] ([[snapshotFor]]) leaves it out. One batch's
  * walls are the difference of two scrapes around it.
  *
  * Scrape transport: [[MetricsEndpoint]] serves [[snapshot]] in
  * Prometheus text format when a port is configured (≙ the reference's
  * `/metrics` listener, README.md:247-274).
  */
object Metrics {

  // (family, index) → count
  private val counters = new ConcurrentHashMap[(String, String), LongAdder]()
  private val processLatency = new ConcurrentHashMap[String, java.lang.Long]()
  private val bulkLatency = new ConcurrentHashMap[String, java.lang.Long]()
  // live query id → name, so termination (whose event carries no name)
  // can prune that query's gauges
  private val queryIds = new ConcurrentHashMap[java.util.UUID, String]()

  private[stream] def record(indexName: String, actionType: String, n: Long): Unit =
    count(if (actionType == "delete") "delete_total" else "index_total", indexName, n)

  private[stream] def recordDeadLetter(indexName: String, n: Long): Unit =
    count("dead_letter_total", Option(indexName).getOrElse(""), n)

  private def count(family: String, indexName: String, n: Long): Unit =
    counters.computeIfAbsent((family, indexName), _ => new LongAdder).add(n)

  private def putCounters(m: scala.collection.mutable.Map[String, Long]): Unit =
    counters.forEach((k, v) => m(s"${k._1}{index=${k._2}}") = v.sum())

  /** Listener entry, factored out for unit tests. */
  private[graft] def recordProgress(queryName: String,
      triggerMs: Option[Long], addBatchMs: Option[Long]): Unit = {
    triggerMs.foreach(d => processLatency.put(queryName, d))
    addBatchMs.foreach(d => bulkLatency.put(queryName, d))
  }

  /** Drop a terminated query's gauges: a scrape must not keep reporting
    * a dead connector's last latency forever, and a session that cycles
    * connectors (fresh checkpoint dir each run — the test-suite pattern)
    * must not grow the gauge maps without bound. Counters stay: totals
    * are cumulative by definition.
    */
  private[graft] def removeQuery(queryName: String): Unit = {
    processLatency.remove(queryName)
    bulkLatency.remove(queryName)
    ()
  }

  def processLatencyMs(queryName: String): Long =
    Option(processLatency.get(queryName)).map(_.longValue).getOrElse(0L)
  def bulkRequestLatencyMs(queryName: String): Long =
    Option(bulkLatency.get(queryName)).map(_.longValue).getOrElse(0L)

  /** ≙ scraping /metrics: counter/gauge name → value, gauges labeled by
    * connector query name, stage walls by stage name.
    */
  def snapshot(): Map[String, Long] = {
    val m = scala.collection.mutable.Map[String, Long]()
    putCounters(m)
    processLatency.forEach { (q, v) =>
      m(s"process_latency_current_ms{query=$q}") = v.longValue
    }
    bulkLatency.forEach { (q, v) =>
      m(s"bulk_request_process_latency_current_ms{query=$q}") = v.longValue
    }
    graft.obs.Stages.snapshot().foreach { case (stage, t) =>
      m(s"stage_ms_total{stage=$stage}") = t.wallMs.toLong
    }
    m.toMap
  }

  /** One connector's view: the shared counters plus ITS gauges under the
    * stable unlabeled names (what a per-connector dashboard reads).
    */
  def snapshotFor(queryName: String): Map[String, Long] = {
    val m = scala.collection.mutable.Map[String, Long]()
    putCounters(m)
    m("process_latency_current_ms") = processLatencyMs(queryName)
    m("bulk_request_process_latency_current_ms") = bulkRequestLatencyMs(queryName)
    m.toMap
  }

  def reset(): Unit = {
    counters.clear()
    processLatency.clear()
    bulkLatency.clear()
    queryIds.clear()
  }

  /** Streaming listener feeding the latency gauges from query progress.
    * Filtered to the CDC pipeline's queries by name prefix: the listener
    * is session-wide, so without the filter ANY other streaming query in
    * the session (a DedupStream, a user's own query) would pollute the
    * gauge map with non-CDC trigger durations. Within the prefix each
    * query keeps its OWN gauge (keyed by full name) — two live connectors
    * never overwrite each other.
    */
  final class Listener extends StreamingQueryListener {
    override def onQueryStarted(event: QueryStartedEvent): Unit =
      if (event.name != null && event.name.startsWith("graft-cdc-pipeline")) {
        queryIds.put(event.id, event.name)
        ()
      }
    override def onQueryTerminated(event: QueryTerminatedEvent): Unit = {
      val name = queryIds.remove(event.id)
      if (name != null) removeQuery(name)
    }
    override def onQueryProgress(event: QueryProgressEvent): Unit = {
      val p = event.progress
      if (p.name != null && p.name.startsWith("graft-cdc-pipeline")) {
        recordProgress(p.name,
          Option(p.durationMs.get("triggerExecution")).map(_.longValue),
          Option(p.durationMs.get("addBatch")).map(_.longValue))
      }
    }
  }
}
