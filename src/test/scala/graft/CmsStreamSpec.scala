package graft

import java.nio.file.Files
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import graft.ops.PretrainOps
import graft.obs.Stages
import graft.stream.{CmsStream, Metrics, MetricsEndpoint, VersionedState}

/** Cross-batch CMS accumulation: the streamed compacted counters equal
  * the batch sketch over everything ingested, across restarts; the
  * estimate face never undercounts and matches the batch point query.
  */
class CmsStreamSpec extends SparkSuite {
  import spark.implicits._

  private def tmp(p: String) = Files.createTempDirectory(p).toString

  private def counterMap(df: org.apache.spark.sql.DataFrame) =
    df.select("r", "b", "c").collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap

  private def latestCounters(outDir: String) = {
    val root = s"$outDir/_counters"
    spark.read.parquet(
      VersionedState.latestBefore(spark, root, Long.MaxValue).get)
  }

  test("streamed compacted counters ≡ batch sketch over all ingested docs") {
    val docsDir = tmp("cms-docs")
    val outDir = tmp("cms-out")
    val ckpt = tmp("cms-ckpt")
    val fixture = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text", "source")
    val f1 = fixture.filter(col("doc_id") < 150)
    val f2 = fixture.filter(col("doc_id") >= 150 && col("doc_id") < 300)
    val f3 = fixture.filter(col("doc_id") >= 300)

    f1.coalesce(1).write.mode(SaveMode.Append).parquet(docsDir)
    f2.coalesce(1).write.mode(SaveMode.Append).parquet(docsDir)
    val stagesBefore = Stages.snapshot()
    awaitDone(CmsStream.run(spark, docsDir, outDir, ckpt))
    assert(counterMap(latestCounters(outDir)) ==
      counterMap(PretrainOps.cmsCounters(f1.unionByName(f2))),
      "streamed running counters must equal the batch sketch")

    // restart with more data: the compacted state carries the history
    f3.coalesce(1).write.mode(SaveMode.Append).parquet(docsDir)
    awaitDone(CmsStream.run(spark, docsDir, outDir, ckpt))
    assert(counterMap(latestCounters(outDir)) ==
      counterMap(PretrainOps.cmsCounters(fixture)),
      "post-restart counters must cover everything ever ingested")

    // the leg is on /metrics: one timed batch per file (2, then 1)
    assert(Stages.since(stagesBefore).get("leg.cms-stream.batch").map(_.calls)
      === Some(3L))
    val scrape = MetricsEndpoint.render(Metrics.snapshot())
    assert(scrape.contains("""graft_stage_ms_total{stage="leg.cms-stream.batch"}"""),
      scrape)

    // the estimate face: never undercounts, and agrees with the batch
    // self-evaluation on the corpus top-K
    val topk = PretrainOps.tokenFreqCms(fixture).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val est = CmsStream.estimate(spark, outDir, topk.map(_._1).toSeq)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    topk.foreach { case (tok, nExact, cmsEst) =>
      assert(est(tok) == cmsEst, s"streamed estimate differs for $tok")
      assert(est(tok) >= nExact, s"CMS undercounted $tok")
    }
  }

  test("replay cannot move the state: re-deriving a version from prior state + its input is byte-stable") {
    // the versioning argument in miniature: b_<id> is a pure function of
    // (state < id, batch input) — a replayed batch recomputes and
    // overwrites the identical counters even though SUM is not idempotent
    val d1 = Seq((1L, "alpha beta beta", "s")).toDF("doc_id", "text", "source")
    val d2 = Seq((2L, "beta gamma", "s")).toDF("doc_id", "text", "source")
    val s0 = PretrainOps.cmsCounters(d1)
    def derive(prev: org.apache.spark.sql.DataFrame,
        batch: org.apache.spark.sql.DataFrame) =
      counterMap(PretrainOps.cmsCounters(batch).unionByName(prev)
        .groupBy("r", "b").agg(sum("c").as("c")))
    val once = derive(s0, d2)
    val replayed = derive(s0, d2)
    assert(once == replayed)
    // and the merged state equals the batch sketch of the union
    assert(once == counterMap(PretrainOps.cmsCounters(d1.unionByName(d2))))
  }
}
