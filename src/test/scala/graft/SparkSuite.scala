package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.scalatest.funsuite.AnyFunSuite

import graft.conf.{EsSinkConfig, GraftConfig}
import graft.stream.{Connector, Pipeline}

/** One shared local SparkSession for the whole test JVM (suites reuse it;
  * sbt forks a single test JVM).
  */
object SparkSuite {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[8]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSuite.spark
  val sf: String = "/root/testdata/sf0.001"

  /** A pipeline config with the default table→index mapping and no flush
    * limits — exactly `concurrentRequest` bulk files per batch.
    */
  def plainConfig(concurrentRequest: Int = 2): GraftConfig =
    GraftConfig(EsSinkConfig(graft.ops.CdcOps.tableIndexMapping,
      batchSizeLimit = 0, batchByteSizeLimit = "0b",
      concurrentRequest = concurrentRequest))

  /** The file-sink CDC pipeline under [[plainConfig]], drained with
    * AvailableNow unless `trigger` says otherwise.
    */
  def runPipeline(eventsDir: String, bulkDir: String, dlqDir: String,
      ckpt: String, concurrentRequest: Int = 2,
      trigger: Trigger = Trigger.AvailableNow(),
      format: String = "parquet"): StreamingQuery =
    Pipeline.run(spark, plainConfig(concurrentRequest),
      Connector.Io(eventsDir, bulkDir, dlqDir, ckpt, format = format),
      trigger = Some(trigger))

  /** Await a bounded (AvailableNow) query's termination LOUDLY, stopping
    * it on timeout: `awaitTermination(ms)` returns false with the query
    * still ACTIVE — in the shared test JVM a leftover query poisons every
    * later test that reuses its query name ("query with that name is
    * already active"), turning one slow run under full-suite load into a
    * multi-test cascade. Fail at the slow test, not three tests later.
    */
  def awaitDone(q: StreamingQuery,
      ms: Long = 180000): Unit =
    try {
      val done = q.awaitTermination(ms)
      assert(done, s"stream did not terminate within ${ms}ms")
    } finally { if (q.isActive) q.stop() }
}
