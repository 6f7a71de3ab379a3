package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftext.Scratch

import ProbeStages.stage

/** Dev-loop probe for the x-scale incremental-clean cells (SCALING.md
  * method, round 15: the x512 listing terms). Fixed-absolute churn =
  * the r13/r14 key set: edit doc_id % 101 == 0, delete % 103 == 0, both
  * restricted to ids < 640000 (the x128 span), benchmark docs untouched.
  *
  * Usage:
  *   XSCALE_OUT=<outDir> Test/runMain graft.XScaleProbe fixture <srcSfDir> <copies>
  *   Test/runMain graft.XScaleProbe build <scaledDir> <stateDir>
  *   Test/runMain graft.XScaleProbe patch <scaledDir> <stateDir>
  * `fixture` writes `<copies>` shifted copies of `<srcSfDir>/documents.parquet`
  * to `<outDir>/documents.parquet` (the documents-only ScaleData
  * layout; pass `<outDir>` as the `<scaledDir>` of the other modes).
  * Fresh JVM per cell (the published method). SPARK_DRIVER_MEM=16g for
  * x512. `patch` prints the total compute wall (`STAGE PATCH_COMPUTE`,
  * with the `patch.*` graft.obs.Stages counters it moved indented below,
  * through [[ProbeStages]]), the output row count and
  * an order-insensitive checksum (layout-change identity evidence), and
  * per-face file counts.
  * Wrong arguments print this usage and exit with status 2.
  */
object XScaleProbe {
  private val Usage =
    """usage: XSCALE_OUT=<outDir> XScaleProbe fixture <srcSfDir> <copies>
      |       XScaleProbe build|patch <scaledDir> <stateDir>""".stripMargin

  def main(args: Array[String]): Unit = {
    val (mode, dir, stateDir) = args match {
      case Array(m @ ("build" | "patch"), d, s) => (m, d, s)
      case Array("fixture", d, n)
          if n.toIntOption.exists(_ > 0) && sys.env.contains("XSCALE_OUT") =>
        ("fixture", d, n)
      case _ => System.err.println(Usage); sys.exit(2)
    }
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$stateDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.conf.set(graft.ops.DedupOps.CheckpointDirConf, s"$stateDir/ckpt")
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val isBench = col("source") === graft.ops.PretrainOps.BenchmarkSource
    val edit = col("doc_id") % 101 === 0 && col("doc_id") < 640000L && !isBench
    val del = col("doc_id") % 103 === 0 && col("doc_id") < 640000L && !isBench
    val v1 = docs
    val v2 = docs.filter(!del)
      .withColumn("text", when(edit, upper(col("text"))).otherwise(col("text")))

    def faceFiles(): Unit =
      for (f <- Seq("gated", "sigs", "cands", "verdicts", "bands")) {
        val n = new java.io.File(s"$stateDir/$f")
          .listFiles().count(x => x.getName.startsWith("part-"))
        println(s"FACE $f files=$n")
      }

    mode match {
      case "fixture" =>
        // documents-only ScaleData (these cells read nothing else):
        // same id-shift + letter-rotation + copy-suffix construction
        val copies = stateDir.toInt // 3rd arg = copies; 2nd = src sf dir
        val src = spark.read.parquet(s"$dir/documents.parquet")
        val letters = "aeiounrst"
        def rot(i: Int) = { val k = i % letters.length; letters.drop(k) + letters.take(k) }
        val docShift = src.agg(max(col("doc_id"))).head().getLong(0) + 1
        val out = sys.env("XSCALE_OUT")
        (0 until copies).map(i => src.select(
            (col("doc_id") + i * docShift).as("doc_id"),
            translate(col("text"), letters, rot(i)).as("text"),
            col("lang"),
            (if (i == 0) col("source")
             else concat(col("source"), lit(s"_c$i"))).as("source"),
            col("n_chars")))
          .reduce(_ union _)
          .repartition(32).write.mode("overwrite")
          .parquet(s"$out/documents.parquet")
        println(s"FIXTURE x$copies -> $out")
      case "build" =>
        stage("BUILD+WRITE") {
          val st = graft.ops.CorpusOps.cleanStateDecontam(v1)
          graft.ops.CorpusOps.writeDecontamState(st, "xs", stateDir)
        }
        faceFiles()
      case "patch" => Scratch.scope {
        graft.ops.CorpusOps.registerCleanState(spark, "xs", stateDir)
        faceFiles()
        val diff = graft.ops.CorpusOps.corpusDiff(v1, v2).cache()
        val nDiff = stage("DIFF")(diff.count())
        println(s"DIFF $nDiff keys")
        val out = stage("PATCH_COMPUTE") {
          val (o, _) = graft.ops.CorpusOps.cleanCorpusIncrementalDecontamPruned(
            spark, v2, "xs", stateDir, diff)
          noop(o)
          o
        }
        val chk = out.agg(count(lit(1)).as("n"),
          bit_xor(xxhash64(col("doc_id"), col("n_tokens"), col("quality"),
            col("detected_lang"))).as("h")).collect()(0)
        println(s"OUT n=${chk.getLong(0)} checksum=${chk.getLong(1)}")
      }
    }
    spark.stop()
  }
}
