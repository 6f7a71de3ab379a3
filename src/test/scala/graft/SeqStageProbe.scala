package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import ProbeStages.stage

/** Dev-loop probe: stage walls + process-CPU of the corpus_to_sequences
  * family (verdict r14 item 3 — "audit the INTERNAL composition for
  * re-evaluated stages"). Usage: Test/runMain graft.SeqStageProbe
  * [seq|bpe|pref ...] (SPARK_GRAFT_SF_DIR overrides the default sf0.1).
  */
object SeqStageProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    noop(docs.select(count(lit(1)))) // warm
    val which = if (args.nonEmpty) args.toSet else Set("seq", "bpe", "pref")

    if (which("seq")) {
      println("== corpus_to_sequences ==")
      val cleanIds = stage("cleanCorpusDecontam ids")(
        graft.ops.CorpusOps.cleanCorpusDecontam(docs).select("doc_id").cache())
      stage("ids count")(cleanIds.count())
      val survivors = docs.join(cleanIds, "doc_id")
      val trimmed = graft.ops.PretrainOps.dedupSubstringTrim(survivors)
        .filter(col("surviving_tokens") >= 1)
        .select(col("doc_id"), col("surviving_tokens").as("n_tokens"))
      stage("substring_trim over survivors")(noop(trimmed))
      stage("pack (full query re-run)")(noop(
        graft.ops.CorpusOps.corpusToSequences(docs)))
    }
    if (which("bpe")) {
      println("== corpus_to_sequences_bpe ==")
      val cleanIds = stage("clean ids (cached?)")(
        graft.ops.CorpusOps.cleanCorpusDecontam(docs).select("doc_id").cache())
      stage("ids count")(cleanIds.count())
      val survivors = docs.join(cleanIds, "doc_id")
      val merges = stage("bpeTrain")(
        graft.ops.TokenizerOps.bpeTrain(survivors, graft.ops.TokenizerOps.NumMerges))
      stage("packSequencesBpe")(noop(
        graft.ops.TokenizerOps.packSequencesBpe(survivors, merges)))
      stage("full query re-run")(noop(
        graft.ops.CorpusOps.corpusToSequencesBpe(docs)))
    }
    if (which("so")) {
      println("== source_overlap ==")
      stage("full query")(noop(
        graft.ops.PretrainOps.sourceOverlap(docs)))
      stage("full query run2")(noop(
        graft.ops.PretrainOps.sourceOverlap(docs)))
    }
    if (which("lsh")) {
      println("== dedup_lsh_recall ==")
      stage("dedupMinhashLsh alone")(noop(
        graft.ops.DedupOps.dedupMinhashLsh(docs)))
      stage("full recall (lsh warm-ish)")(noop(
        graft.ops.DedupOps.dedupLshRecall(docs)))
      org.apache.spark.sql.graftext.CheckpointBlocks.resetForMeasurement(spark, Nil)
      stage("full recall cold")(noop(
        graft.ops.DedupOps.dedupLshRecall(docs)))
      stage("full recall warm2")(noop(
        graft.ops.DedupOps.dedupLshRecall(docs)))
    }
    if (which("pref")) {
      println("== corpus_to_preferences ==")
      stage("full query")(noop(
        SparkEntry.queries("corpus_to_preferences")(spark, sfDir)))
      stage("full query run2")(noop(
        SparkEntry.queries("corpus_to_preferences")(spark, sfDir)))
    }
    spark.stop()
  }
}
