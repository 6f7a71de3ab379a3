package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import ProbeStages.stage

/** Dev-loop probe: per-stage walls of the three incremental-clean oracle
  * keys at a chosen SF (default sf0.1), each followed by the `patch.*`
  * stages it ran (from [[graft.obs.Stages]]) — the first question about
  * any slow patch is WHICH probe paid.
  * Usage: Test/runMain graft.PatchStageProbe [small|inc|decontam ...]
  */
object PatchStageProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    val which = if (args.nonEmpty) args.toSet else Set("small", "inc", "decontam")
    // warm the JVM/page cache once
    noop(docs.select(count(lit(1))))

    if (which("small")) {
      println("== corpus_clean_incremental_small ==")
      val v2 = docs.filter(col("doc_id") % 97 =!= 0)
        .withColumn("text", when(col("doc_id") % 89 === 0,
          upper(col("text"))).otherwise(col("text")))
      val st = stage("cleanState(v1)")(graft.ops.CorpusOps.cleanState(docs))
      val bands = graft.ops.DedupOps.bandRows(st.sigs)
      val diff = graft.ops.CorpusOps.corpusDiff(docs, v2)
      val out = stage("patch_build(InSet)")(
        graft.ops.CorpusOps.cleanCorpusIncrementalInSet(
          spark, v2, st, bands, diff)._1)
      stage("clean_noop")(noop(out))
      graft.ops.CorpusOps.releasePatchScratch()
    }
    if (which("inc")) {
      println("== corpus_clean_incremental ==")
      val v1 = docs.filter(col("doc_id") % 7 =!= 0)
      val v2 = docs.filter(col("doc_id") % 5 =!= 0)
        .withColumn("text", when(col("doc_id") % 11 === 0,
          upper(col("text"))).otherwise(col("text")))
      val st = stage("cleanState(v1)")(graft.ops.CorpusOps.cleanState(v1))
      val out = stage("patch_build(generic)")(
        graft.ops.CorpusOps.cleanCorpusIncremental(
          v2, st, graft.ops.CorpusOps.corpusDiff(v1, v2))._1)
      stage("clean_noop")(noop(out))
      graft.ops.CorpusOps.releasePatchScratch()
    }
    if (which("decontam")) {
      println("== corpus_clean_incremental_decontam ==")
      val isBench = col("source") === graft.ops.PretrainOps.BenchmarkSource
      val v1 = docs.filter(col("doc_id") % 7 =!= 0 || isBench)
      val v2 = docs.filter(col("doc_id") % 5 =!= 0 || isBench)
        .withColumn("text", when(col("doc_id") % 11 === 0 && !isBench,
          upper(col("text"))).otherwise(col("text")))
      val st = stage("cleanStateDecontam(v1)")(
        graft.ops.CorpusOps.cleanStateDecontam(v1))
      val out = stage("patch_build(decontam)")(
        graft.ops.CorpusOps.cleanCorpusIncrementalDecontam(
          v2, st, graft.ops.CorpusOps.corpusDiff(v1, v2))._1)
      stage("clean_noop")(noop(out))
      graft.ops.CorpusOps.releasePatchScratch()
    }
    spark.stop()
  }
}
