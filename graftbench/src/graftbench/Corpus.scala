package graftbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry

/** `corpus_curation`: nine training-data curation keys run once each, in a
  * fixed order, on a cold session over a seeded re-layout of the bundled
  * corpus (`data/documents.parquet`, the sf0.01 `documents` table). Each
  * key's result is forced by a `noop` write whose plan also carries an
  * observed row count and order-independent digest; both must equal the
  * values in `data/corpus_expected.tsv`.
  */
object Corpus {

  /** (key, module that implements it), in run order. */
  val Keys: Seq[(String, String)] = Seq(
    "corpus_to_sequences_bpe" -> "CorpusOps",
    "tokenize_unigram_bytefb" -> "TokenizerOps",
    "dedup_minhash_lsh" -> "DedupOps",
    "dedup_winnow" -> "DedupOps",
    "bm25_topk" -> "TextOps",
    "quality_trigram_fluency" -> "PretrainOps",
    "dsir_weight" -> "PretrainOps",
    "corpus_clean" -> "CorpusOps",
    "decontaminate_bloom" -> "PretrainOps")

  /** Row count and digest of a result: the sum, as an exact decimal, of
    * xxhash64 over each row rendered as JSON with columns in name order.
    */
  def digestCols(df: DataFrame) = {
    val row = to_json(struct(df.columns.sorted.toSeq.map(c => col(s"`$c`")): _*))
    Seq(count(lit(1)).as("rows"),
      sum(xxhash64(row).cast("decimal(38,0)")).cast("string").as("digest"))
  }

  def expected(benchDir: Path): Map[String, (Long, String)] =
    Files.readAllLines(benchDir.resolve("data/corpus_expected.tsv")).asScala
      .filterNot(l => l.isEmpty || l.startsWith("#"))
      .map { l => val f = l.split("\t"); f(0) -> (f(1).toLong, f(2)) }.toMap

  /** Set-ups per run; `setup_s` is their median. */
  val SetupRuns = 9

  /** Files of the re-laid corpus. Fixed: the file count sets the scan's
    * parallelism, so a seed-dependent count would make the seeds time
    * different jobs.
    */
  val FileCount = 4

  /** Seeded re-layout of the fixture: same rows in `FileCount` files,
    * with a seed-dependent row order and row-to-file assignment — the
    * keys must not depend on either.
    */
  def layout(spark: SparkSession, benchDir: Path, seed: Long, dir: Path): Unit = {
    val docs = spark.read.parquet(benchDir.resolve("data/documents.parquet").toString)
    docs.repartition(FileCount, xxhash64(lit(seed), col("doc_id")))
      .sortWithinPartitions(xxhash64(lit(seed + 1), col("doc_id")))
      .write.mode("overwrite").parquet(dir.resolve("documents.parquet").toString)
  }

  final case class KeyRun(key: String, module: String, usage: Usage,
      rows: Long, digest: String, fromMs: Long, toMs: Long)

  def runKey(spark: SparkSession, key: String, dir: Path): (Long, String) = {
    val df = SparkEntry.queries(key)(spark, dir.toString)
    val obs = Observation(s"digest_$key")
    df.observe(obs, digestCols(df).head, digestCols(df).tail: _*)
      .write.format("noop").mode("overwrite").save()
    val r = obs.get
    (r("rows").asInstanceOf[Long], r("digest").asInstanceOf[String])
  }

  def run(ctx: Ctx): Unit = {
    import ctx._
    val expect = expected(benchDir)
    val dirs = (0 until SetupRuns).map(i => work.resolve(s"corpus_$i"))
    val setups = dirs.zipWithIndex.map { case (d, i) =>
      Usage.of(tracer.span("setup", tag = s"rep=$i")(_ => layout(spark, benchDir, seed, d)))._2
    }
    report.put("setup_s", Stats.median(setups.map(_.wallS)), "s")
    phases("setup") = Usage(setups.map(_.wallS).sum, setups.map(_.cpuS).sum,
      setups.map(_.gcS).sum)

    liveCheckpoint()
    val flat0 = Flatness.read(spark, Nil)
    val m0 = System.currentTimeMillis()
    // cold session: fresh session state, and no SparkEntry model or table
    // cache exists yet for this corpus directory
    val s = spark.newSession()
    listeners.foreach(l => s.listenerManager.register(l.actions))
    val runs = scala.collection.mutable.ArrayBuffer[KeyRun]()
    val (_, job) = Usage.of(tracer.span("corpus.job") { root =>
      Keys.foreach { case (key, module) =>
        val t0 = System.currentTimeMillis()
        val ((rows, dg), ku) = Usage.of(tracer.span(s"$module.$key", root)(_ => runKey(s, key, dirs.head)))
        runs += KeyRun(key, module, ku, rows, dg, t0, System.currentTimeMillis())
      }
    })
    val m1 = System.currentTimeMillis()
    phases("measure") = job
    liveCheckpoint()

    // correctness: every key against the recorded values
    runs.foreach { k =>
      val ok = expect.get(k.key).contains((k.rows, k.digest))
      report.check(ok, s"${k.key}: rows=${k.rows} digest=${k.digest}, expected ${expect.get(k.key)}")
      report.count(1, if (ok) 0 else 1)
    }

    // wall_s and cpu_s are this workload's own metrics. The others read
    // other parts of the run, so that none is a multiple of another: the
    // cold session's first key, then the eight warm keys after it
    val docs = expect("dsir_weight")._1.toDouble
    val warm = runs.tail.toSeq
    report.put("events_per_s", docs / runs.head.usage.wallS, "1/s")
    report.put("cpu_s_per_mevent", warm.map(_.usage.cpuS).sum / (docs * warm.size) * 1e6, "s")
    // when each warm key's output is complete, from the first output
    val done = warm.scanLeft(0.0)(_ + _.usage.wallS).tail
    report.put("freshness_p50_s", Stats.quantile(done, 0.5), "s")
    report.put("freshness_p90_s", Stats.quantile(done, 0.9), "s")
    report.put("wall_s", job.wallS, "s")
    report.put("cpu_s", job.cpuS, "s")

    if (tracer.on) {
      listeners.foreach(_.settle())
      runs.foreach { k =>
        val p = s"${k.module}.${k.key}"
        perLayer(s"$p.wall_s") = (k.usage.wallS, "s")
        perLayer(s"$p.cpu_s") = (k.usage.cpuS, "s")
        listeners.foreach { l =>
          val w = l.scheduler.window(k.fromMs, k.toMs)
          perLayer(s"$p.shuffle_mb") = (w.shuffleWriteMb, "MB")
          perLayer(s"$p.spill_mb") = (w.spillMb, "MB")
        }
      }
      measureWindow = (m0, m1)
      batchesInWindow = Keys.size.toLong
      flatStart = Some(flat0)
      flatEnd = Some(Flatness.read(spark, Nil))
    }
  }
}
