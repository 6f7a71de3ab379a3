package graft

import java.nio.file.Files

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.graftext.Scratch
import graft.ops.SuffixOps

class SaStreamSpec extends SparkSuite {
  import spark.implicits._

  private def tmp(p: String) = Files.createTempDirectory(p).toString

  private def saRows(path: String): Seq[(Long, Long, Long)] =
    spark.read.parquet(path)
      .select("sa_rank", "doc_id", "pos")
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq

  private def directRows(docs: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long)] =
    Scratch.scope(SuffixOps.suffixArray(docs)
      .select("sa_rank", "doc_id", "pos")
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq)

  test("streamed merged array == direct build on the union; cross-batch repeat visible; restart continues from compacted state") {
    val docsDir = tmp("sastream-in")
    val outDir = tmp("sastream-out")
    val ckpt = tmp("sastream-ckpt")
    // a 30-char span repeated ACROSS batches — invisible to any
    // per-batch build, the reason the merge exists
    val shared = "the quick brown fox jumps over the lazy dog"
    val b1 = Seq(
      (1L, s"alpha beta $shared gamma"),
      (2L, "completely unrelated content here"))
    val b2 = Seq(
      (3L, s"delta $shared epsilon zeta"),
      (4L, "more filler text with no repeats"))
    b1.toDF("doc_id", "text").coalesce(1)
      .write.mode(SaveMode.Append).parquet(docsDir)
    b2.toDF("doc_id", "text").coalesce(1)
      .write.mode(SaveMode.Append).parquet(docsDir)
    val footprint0 = cacheFootprint
    awaitDone(graft.stream.SaStream.run(spark, docsDir, outDir, ckpt))
    val published = graft.stream.SaStream.latestArray(spark, outDir)
    assert(published.isDefined, "no array published")
    val streamed = saRows(published.get)
    val direct = directRows((b1 ++ b2).toDF("doc_id", "text"))
    assert(streamed == direct,
      s"streamed merged array must BE the union's suffix array (${streamed.length} vs ${direct.length} rows)")

    // restart on the same checkpoint with a third batch: the new shard
    // merges with the COMPACTED state, not a rebuild from raw batches
    val b3 = Seq((5L, s"eta $shared theta"))
    b3.toDF("doc_id", "text").coalesce(1)
      .write.mode(SaveMode.Append).parquet(docsDir)
    awaitDone(graft.stream.SaStream.run(spark, docsDir, outDir, ckpt))
    val streamed2 = saRows(graft.stream.SaStream.latestArray(spark, outDir).get)
    val direct2 = directRows((b1 ++ b2 ++ b3).toDF("doc_id", "text"))
    assert(streamed2 == direct2, "post-restart array must track the union")
    assert(cacheFootprint === footprint0,
      "each batch's shard build and merge release with the batch scope")
  }
}
