package graft

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import graft.obs.Stages
import graft.ops.PretrainOps
import graft.stream.{CleanStream, PackStream}

/** Streaming sequence packing: the per-source tail-cursor state makes
  * the streamed pack table row-identical to the batch operator over
  * everything ingested (doc_id-ordered arrival), across a restart; fill
  * accounting agrees through the shared manifest aggregation; and
  * CleanStream survivors compose into the packer — the ingest pipeline's
  * clean→pack spine.
  */
class PackStreamSpec extends SparkSuite {
  import spark.implicits._

  private def tmp(p: String) = Files.createTempDirectory(p).toString

  /** Append one batch file and PIN its mtime (the CleanStreamSpec
    * discipline): packing is ORDER-dependent, so arrival order must be
    * the write order, not an mtime coin-flip.
    */
  private val mtimeSeen = scala.collection.mutable.Set.empty[String]
  private def appendPinned(dir: String, df: DataFrame, order: Int): Unit = {
    df.coalesce(1).write.mode(SaveMode.Append).parquet(dir)
    new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .filterNot(f => mtimeSeen(f.getAbsolutePath))
      .foreach { f =>
        assert(f.setLastModified(1700000000000L + order * 60000L))
        mtimeSeen += f.getAbsolutePath
      }
  }

  private def rows(df: DataFrame): Seq[String] = {
    val cols = df.columns.sorted.toIndexedSeq
    df.select(cols.map(col): _*).collect().map(_.toString).sorted.toSeq
  }

  test("streamed packing ≡ batch pack_sequences across a restart; manifests agree") {
    val docsDir = tmp("pk-docs")
    val outDir = tmp("pk-out")
    val ckpt = tmp("pk-ckpt")
    val fixture = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text", "source")
    val f1 = fixture.filter(col("doc_id") < 150)
    val f2 = fixture.filter(col("doc_id") >= 150 && col("doc_id") < 300)
    val f3 = fixture.filter(col("doc_id") >= 300)

    appendPinned(docsDir, f1, 1)
    appendPinned(docsDir, f2, 2)
    val stagesBefore = Stages.snapshot()
    awaitDone(PackStream.run(spark, docsDir, outDir, ckpt))
    val ingested = f1.unionByName(f2)
    assert(rows(PackStream.packedTable(spark, outDir)) ==
      rows(PretrainOps.packSequences(ingested)),
      "streamed pack table must equal the batch operator")

    // restart with more data: the per-source cursors carry the tail
    appendPinned(docsDir, f3, 3)
    awaitDone(PackStream.run(spark, docsDir, outDir, ckpt))
    val streamed = PackStream.packedTable(spark, outDir)
    assert(rows(streamed) == rows(PretrainOps.packSequences(fixture)),
      "post-restart pack table must cover everything ever ingested")
    // one timed leg batch per file across both runs (2, then 1)
    assert(Stages.since(stagesBefore).get("leg.pack-stream.batch").map(_.calls)
      === Some(3L))

    // fill accounting: the shared manifest aggregation over the streamed
    // table equals the batch sequence_manifest
    assert(rows(PretrainOps.sequenceManifestFrom(streamed)) ==
      rows(PretrainOps.sequenceManifest(fixture)))
  }

  test("CleanStream survivors compose into the packer (clean → pack spine)") {
    val docsDir = tmp("pkc-docs")
    val cleanOut = tmp("pkc-clean")
    val cleanCkpt = tmp("pkc-cckpt")
    val packIn = tmp("pkc-packin")
    val packOut = tmp("pkc-pout")
    val packCkpt = tmp("pkc-pckpt")
    val fixture = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text")
    appendPinned(docsDir, fixture.filter(col("doc_id") < 250), 1)
    appendPinned(docsDir, fixture.filter(col("doc_id") >= 250), 2)
    awaitDone(CleanStream.run(spark, docsDir, cleanOut, cleanCkpt))
    // survivors flow onward batch-by-batch, keeping arrival order
    val batchDirs = new java.io.File(cleanOut).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch_"))
      .sortBy(_.getName.drop(6).toLong)
    batchDirs.zipWithIndex.foreach { case (d, i) =>
      appendPinned(packIn,
        spark.read.parquet(d.getAbsolutePath)
          .select(col("doc_id"), col("text"), lit("clean").as("source")),
        i + 1)
    }
    awaitDone(PackStream.run(spark, packIn, packOut, packCkpt))
    val survivors = spark.read.parquet(s"$cleanOut/batch_*")
      .select(col("doc_id"), col("text"), lit("clean").as("source"))
    assert(survivors.count() > 0)
    assert(rows(PackStream.packedTable(spark, packOut)) ==
      rows(PretrainOps.packSequences(survivors)),
      "packed survivors must equal batch packing of the cleaned corpus")
  }
}
