package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftext.CheckpointBlocks

import graft.ops.CdcOps
import graft.stream.{EsBulkSink, Metrics, ResponseHandler}

/** The sink's one-pass flush ([[EsBulkSink.writeBatch]]) against the
  * reference composition it replaces: B1 `dedupLastWriteWins` over the
  * keyed rows → version-gated NDJSON encode, key-less rows to OnError,
  * R3 counters per (index, action), B2 request split. Plus a guard on
  * the number of Spark jobs one flush launches.
  */
class OnePassFlushSpec extends SparkSuite {
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private val nul: String = null

  /** Duplicate keys, key-less rows sharing an index (two from ONE event),
    * a key-less row with no index either, routed siblings, a handler's
    * `action_ord` tie, deletes, a scripted update and an id to escape.
    */
  private val batch: DataFrame = Seq(
    (1L, "index", "a", "eqv_a", """{"v":1}""", nul, 0),
    (5L, "index", "a", "eqv_a", """{"v":5}""", nul, 0),
    (2L, "delete", "b", "eqv_a", nul, nul, 0),
    (3L, "index", "b", "eqv_b", """{"v":3}""", nul, 0),
    (10L, "index", nul, "eqv_a", """{"k":10}""", nul, 0),
    (10L, "index", nul, "eqv_a", """{"k":"10b"}""", nul, 1),
    (11L, "index", nul, "eqv_a", """{"k":11}""", nul, 0),
    (12L, "delete", nul, "eqv_a", nul, nul, 0),
    (13L, "index", "z", nul, """{"k":13}""", nul, 0),
    (19L, "index", "r", "eqv_a", """{"r":19}""", "s2", 0),
    (20L, "delete", "r", "eqv_a", nul, "s1", 0),
    (21L, "index", "r", "eqv_a", """{"r":21}""", "s2", 0),
    (30L, "delete", "t", "eqv_b", nul, nul, 0),
    (30L, "index", "t", "eqv_b", """{"t":30}""", nul, 1),
    (31L, "update", "u", "eqv_b", """{"params":{"n":1},"source":"x"}""", nul, 0),
    (40L, "index", "q\"1", "eqv_b", """{"q":1}""", nul, 0)
  ).toDF("event_id", "action_type", "doc_id", "index_name", "source",
    "routing", "action_ord")

  private val keyed = col("doc_id").isNotNull && col("index_name").isNotNull

  /** The reference composition's payload, one value per action. */
  private def referenceValues(esMajor: Int): Seq[String] = {
    val deduped = CdcOps.dedupLastWriteWins(batch.filter(keyed))
    val enc =
      if (esMajor < 8) CdcOps.versionGatedMeta(deduped, lit(esMajor), "_doc")
      else CdcOps.ndjsonEncode(deduped)
    enc.select(concat_ws("\n", col("meta"), col("source"))).as[String]
      .collect().toSeq
  }

  private def partFiles(dir: String): Seq[java.io.File] =
    new java.io.File(dir).listFiles().toSeq
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".txt"))

  private def lines(f: java.io.File): List[String] = {
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.getLines().toList finally src.close()
  }

  private val Meta = """\{"(index|delete|update|create)":\{.*""".r

  /** Every file left in `dir` is a `part-<r>.txt` data file or a `.`/`_`
    * sidecar (checksums), and no temp file survives the write.
    */
  private def assertOnlyParts(dir: String, clue: String): Unit =
    new java.io.File(dir).listFiles().map(_.getName).foreach { n =>
      assert(n.matches("""part-\d{5}\.txt""") ||
        ((n.startsWith(".") || n.startsWith("_")) && !n.contains(".tmp")),
        s"unexpected file $n in $dir ($clue)")
    }

  private def counterDelta(before: Map[String, Long]): Map[String, Long] =
    Metrics.snapshot().collect {
      case (k, v) if k.contains("{index=eqv_") || k.startsWith("dead_letter_total{index=}") =>
        k -> (v - before.getOrElse(k, 0L))
    }.filter(_._2 != 0L)

  test("one-pass flush ≡ dedupLastWriteWins(keyed) → encode, at ES 8 and 7, with and without flush limits") {
    val survivors = CdcOps.dedupLastWriteWins(batch.filter(keyed)).count()
    assert(survivors == 8)
    for (esMajor <- Seq(8, 7)) {
      val values = referenceValues(esMajor)
      val expected = values.flatMap(_.split("\n"))
      val valueBytes = values.map(_.getBytes("UTF-8").length.toLong).sum
      // (concurrentRequest, batchByteSizeLimit, batchSizeLimit)
      val limits = Seq((2, 0L, 0), (1, 0L, 3), (2, 0L, 100),
        (1, valueBytes / 2 + 1, 0))
      for ((cr, byteLimit, sizeLimit) <- limits) {
        val dead = scala.collection.mutable.ArrayBuffer.empty[Long]
        val ok = scala.collection.mutable.ArrayBuffer.empty[Long]
        val handler = new ResponseHandler {
          override def onSuccess(actions: DataFrame, batchId: Long): Unit =
            ok ++= actions.select("event_id").as[Long].collect()
          override def onError(actions: DataFrame, batchId: Long): Unit = {
            assert(actions.columns.toSeq == batch.columns.toSeq,
              "OnError sees the batch's own columns")
            dead ++= actions.select("event_id").as[Long].collect()
          }
        }
        val bulkDir = tmp("graft-eqv-bulk")
        val before = Metrics.snapshot()
        EsBulkSink.writeBatch(batch, 0L, bulkDir, handler, cr, esMajor, "_doc",
          byteLimit, sizeLimit)
        val cfg = s"esMajor=$esMajor cr=$cr bytes=$byteLimit size=$sizeLimit"
        val parts = partFiles(s"$bulkDir/batch_0")
        val got = parts.flatMap(lines)
        assert(got.sorted == expected.sorted, cfg)
        assertOnlyParts(s"$bulkDir/batch_0", cfg)
        // exact ntile: per-request action counts differ by at most 1
        val perFile = parts.map(f => lines(f).count(Meta.matches))
        assert(perFile.max - perFile.min <= 1, s"$cfg: $perFile")
        assert(dead.sorted.toSeq == Seq(10L, 10L, 11L, 12L, 13L),
          s"every key-less row reaches OnError, none collapsed ($cfg)")
        assert(ok.sorted.toSeq == Seq(2L, 3L, 5L, 20L, 21L, 30L, 31L, 40L), cfg)
        assert(counterDelta(before) == Map(
          "index_total{index=eqv_a}" -> 2L, "delete_total{index=eqv_a}" -> 2L,
          "index_total{index=eqv_b}" -> 4L,
          "dead_letter_total{index=eqv_a}" -> 4L,
          "dead_letter_total{index=}" -> 1L), cfg)
        val byCount =
          if (sizeLimit > 0) math.ceil(survivors.toDouble / sizeLimit).toInt else 1
        val byBytes =
          if (byteLimit > 0) math.ceil(valueBytes.toDouble / byteLimit).toInt else 1
        assert(parts.size == math.max(cr, math.max(byCount, byBytes)), cfg)
      }
    }
  }

  test("one flush launches three Spark jobs, the limit split included") {
    val sc = spark.sparkContext
    val group = "one-pass-flush-guard"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    val actions = (1 to 40).map(i =>
      (i.toLong, "index", s"d${i % 25}", "users_idx", s"""{"n":$i}"""))
      .toDF("event_id", "action_type", "doc_id", "index_name", "source")
    CheckpointBlocks.flushListeners(spark)
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "one flush")
    try {
      EsBulkSink.writeBatch(actions, 0L, tmp("graft-jobs-bulk"),
        ResponseHandler.deadLetter(tmp("graft-jobs-dlq")), 1, batchSizeLimit = 10)
      CheckpointBlocks.flushListeners(spark)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    assert(jobs.get == 3, s"jobs per flush: ${jobs.get}")
  }
}
