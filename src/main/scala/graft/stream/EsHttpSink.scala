package graft.stream

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftext.Slices

/** The REAL flush (bulk.go:253-315): one micro-batch → LWW dedup →
  * NDJSON encode → split into per-request payloads → POST `/_bulk` over
  * [[EsHttpClient]] — with the response demux running on the ACTUAL
  * `_bulk` response bodies ([[EsBulkResponse.itemErrorsByPosition]] →
  * [[EsBulkSink.handleResponseByEventId]]), which is the part the file
  * sink can only fault-inject.
  *
  * Concurrency model: the keyed actions are cut into `nRequests` exact
  * ntile slices ([[Slices.ntile]], no shuffle) — `concurrentRequest` of
  * them, or more when a byte/count flush limit binds (widened exactly
  * like [[EsBulkSink.writeBatch]]). `min(concurrentRequest, nRequests)`
  * tasks each hold a contiguous run of whole requests and post them
  * sequentially — in-flight requests = tasks = the reference's
  * concurrentRequest goroutine slots, REGARDLESS of how far the flush
  * limits widened the split. Item failures attribute POSITIONALLY
  * (response order = request order) to exact event ids — unambiguous
  * even between routed siblings — and only failures collect to the
  * driver for the demux broadcast.
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
    EsBulkSink.flush(batch, batchId, responseHandler, esMajor, typeName) { payload =>
      // Request assembly vs concurrency are SEPARATE dials: the byte/count
      // flush limits can widen the request count far past the concurrency
      // slots (10k actions / batchSizeLimit=100 → 100 requests), and a
      // one-request-per-task post would put min(cores, nRequests)
      // simultaneous _bulk calls on the cluster — the very overload the
      // slot count exists to prevent.
      val cap = math.max(1, concurrentRequest)
      val nRequests = EsBulkSink.limitSplit(payload.actions, payload.bytes,
        concurrentRequest, batchByteSizeLimit, batchSizeLimit).getOrElse(cap)
      Slices.ntile(payload.lines, payload.counts, nRequests, tasks = cap)
        .mapPartitions { slices =>
          val requests = slices.filter(_._2.hasNext)
          if (!requests.hasNext) Iterator.empty
          else {
            // discovery already ran on the driver; `http` carries seeds ∪
            // discovered pool (Pipeline.prepare) so tasks spread over the
            // cluster while keeping the stable seed addresses as fallback
            val client = new EsHttpClient(http.copy(discoverNodesOnStart = false))
            val out = ArrayBuffer.empty[(Long, String)]
            try requests.foreach { case (_, rows) =>
              val ids = ArrayBuffer.empty[Long]
              val body = new java.io.ByteArrayOutputStream
              rows.foreach { case (eid, v) =>
                ids += eid
                v.writeTo(body)
                body.write('\n') // bulk bodies end in a newline
              }
              val (status, respBody) = client.bulk(body.toByteArray)
              if (status >= 300)
                throw new java.io.IOException(
                  s"_bulk HTTP $status after retries: ${respBody.take(500)}")
              EsBulkResponse.itemErrorsByPosition(respBody).foreach {
                case (p, err) => out += ((ids(p), err))
              }
            } finally client.close()
            out.iterator
          }
        }
        .collect().toMap
    }
}
