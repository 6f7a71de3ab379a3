package graft.stream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftext.Scratch
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.obs.Stages

/** The one streaming-leg skeleton: Structured Streaming's file source
  * feeding a `foreachBatch` micro-batch. Every leg under `graft.stream`
  * outside the CDC path reads through [[files]] and runs its batch body
  * through [[start]]. The file-sink legs ([[DedupStream.run]],
  * [[IndexStream]]) and [[PgCaptureStream]] (whose sink times its own
  * `pgcapture.*` stages) use [[files]] only; [[Pipeline]] has its own
  * replay sources. Cross-batch state lives in [[VersionedState]]
  * (`fold` / `latest`).
  */
object Leg {

  /** The (doc_id, text, source) document schema most legs read. */
  val Docs: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("source", StringType)))

  /** The one file source: parquet files under `dir`, one file per
    * micro-batch, so arrival order is file order and a replay re-reads
    * exactly one file's rows.
    */
  def files(spark: SparkSession, schema: StructType, dir: String): DataFrame =
    spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(dir)

  /** The one sink: start `source` as query `graft-<stem>-<suffix>`
    * ([[QueryNames.suffix]] of the checkpoint, so the name is stable
    * across restarts) and run `body(batch, batchId)` per micro-batch
    * inside one [[Scratch.scope]] — the batch's scratch caches drop when
    * it ends — timed as stage `leg.<stem>.batch` on `/metrics`.
    */
  def start(source: DataFrame, stem: String, checkpointDir: String,
      trigger: Trigger)(body: (DataFrame, Long) => Unit): StreamingQuery = {
    val stage = s"leg.$stem.batch"
    source.writeStream
      .queryName(s"graft-$stem-${QueryNames.suffix(checkpointDir)}")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        Stages.time(stage)(Scratch.scope(body(batch, batchId)))
      }
      .start()
  }
}
