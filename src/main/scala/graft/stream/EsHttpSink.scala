package graft.stream

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.CdcOps

/** The REAL flush (bulk.go:253-315): one micro-batch → LWW dedup →
  * NDJSON encode → split into per-request payloads → POST `/_bulk` over
  * [[EsHttpClient]] — with the response demux running on the ACTUAL
  * `_bulk` response bodies ([[EsBulkResponse.itemErrors]] →
  * [[EsBulkSink.handleResponse]]), which is the part the file sink can
  * only fault-inject.
  *
  * Concurrency model: every action gets a request id — a cheap hash
  * split when no flush limit binds (the hot default: no extra jobs), or
  * EXACT ordinal-derived ids when a byte/count limit must bound each
  * request (widened exactly like [[EsBulkSink.writeBatch]]); the rows
  * then shuffle on the request id into at most `concurrentRequest`
  * tasks, each posting its complete request groups sequentially —
  * in-flight requests = tasks = the reference's concurrentRequest
  * goroutine slots, REGARDLESS of how far the flush limits widened the
  * split. Item failures attribute POSITIONALLY (response order = request
  * order) to exact event ids — unambiguous even between routed siblings
  * — and only failures collect to the driver for the demux broadcast.
  *
  * Failure contract: an item error fails only its item (OnError).
  * A TRANSPORT failure (non-2xx after the client's retry loop, or an
  * exhausted connection retry) throws from the task → the batch fails →
  * Structured Streaming replays it from the checkpoint: at-least-once
  * delivery, replay-collapsed by the LWW dedup and ES's idempotent
  * index-by-id semantics.
  */
object EsHttpSink {

  /** One flush over HTTP: the shared [[EsBulkSink.flush]] skeleton with
    * a `_bulk` POST as its ship step.
    */
  def postBatch(batch: DataFrame, batchId: Long, http: EsHttpConfig,
      responseHandler: ResponseHandler, concurrentRequest: Int,
      esMajor: Int = 8, typeName: String = "_doc",
      batchByteSizeLimit: Long = 0L, batchSizeLimit: Int = 0): Unit =
    EsBulkSink.flush(batch, batchId, responseHandler, esMajor, typeName) {
        (payload, nActions, nBytes) =>
      val spark = payload.sparkSession
      import spark.implicits._
      // Request assembly vs concurrency are SEPARATE dials: the byte/count
      // flush limits can widen the request count far past the concurrency
      // slots (10k actions / batchSizeLimit=100 → 100 requests), and a
      // one-request-per-partition post would put min(cores, nRequests)
      // simultaneous _bulk calls on the cluster — the very overload the
      // slot count exists to prevent. Every row gets a REQUEST id `_rid`:
      //   - limits unset (the hot default): an event-id hash modulo
      //     concurrentRequest — no bound to enforce per request, so no
      //     ordinal machinery;
      //   - a limit set: exact ids via the two-pass global ordinals
      //     (round-robin repartition is only APPROXIMATELY even and AQE
      //     may coalesce it — either breaks the per-request bound).
      // The rows then hash-shuffle on `_rid` into at most
      // `concurrentRequest` tasks (several COMPLETE rid groups per task)
      // and sort by (_rid, event_id); each task posts one `_bulk` per
      // contiguous rid run, sequentially — in-flight = tasks = the
      // reference's goroutine slots regardless of the split width.
      val cap = math.max(1, concurrentRequest)
      val ridded = EsBulkSink.limitSplit(nActions, nBytes, concurrentRequest,
          batchByteSizeLimit, batchSizeLimit) match {
        case None =>
          payload.withColumn("_rid",
            pmod(xxhash64(col("event_id")), lit(cap.toLong)))
        case Some(nRequests) =>
          val perReq = math.max(1L,
            math.ceil(nActions.toDouble / math.max(1, nRequests)).toLong)
          val (stamped, _) = CdcOps.globalOrdinals(payload, Seq.empty, "event_id")
          stamped.withColumn("_rid", expr(s"_ord DIV $perReq"))
      }
      // Item failures are attributed POSITIONALLY: `_bulk` items arrive
      // in request order, and each task knows its lines' event ids in
      // that order — exact attribution even between routed siblings
      // sharing _id:_index (which the response cannot distinguish).
      // Only failures return to the driver.
      ridded
        .repartition(cap, col("_rid"))
        .sortWithinPartitions("_rid", "event_id")
        .select(col("_rid"), col("event_id"), col("value"))
        .as[(Long, Long, String)]
        .mapPartitions { it =>
          if (it.isEmpty) Iterator.empty
          else {
            // discovery already ran on the driver; `http` carries seeds ∪
            // discovered pool (Pipeline.prepare) so tasks spread over the
            // cluster while keeping the stable seed addresses as fallback
            val client = new EsHttpClient(http.copy(discoverNodesOnStart = false))
            val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
            try {
              val buf = it.buffered
              while (buf.hasNext) {
                val rid = buf.head._1
                val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
                val sb = new StringBuilder
                while (buf.hasNext && buf.head._1 == rid) {
                  val (_, eid, v) = buf.next()
                  ids += eid
                  sb.append(v).append('\n') // bulk bodies end in a newline
                }
                val (status, respBody) = client.bulk(sb.toString.getBytes(UTF_8))
                if (status >= 300)
                  throw new java.io.IOException(
                    s"_bulk HTTP $status after retries: ${respBody.take(500)}")
                EsBulkResponse.itemErrorsByPosition(respBody).foreach {
                  case (p, err) => out += ((ids(p), err))
                }
              }
            } finally client.close()
            out.iterator
          }
        }
        .collect().toMap
    }
}
