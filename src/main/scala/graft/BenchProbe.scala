package graft
import org.apache.spark.sql.SparkSession

/** Dev-loop timing probe: run named SparkEntry queries (or all, given no
  * args) at a chosen SF with the same noop-write + best-of-2 method as
  * graft.Bench. Usage: runMain graft.BenchProbe [query ...]
  * (SPARK_GRAFT_SF_DIR overrides the default sf0.1).
  */
object BenchProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def exec(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    exec(SparkEntry.queries("message_typing")(spark, sfDir)) // warm
    // same shared-cache discipline as graft.Bench: materialize the
    // corpus-level shared tables once, keep them across queries
    try SparkEntry.warmShared(spark, sfDir)
    catch { case e: Throwable => println(s"PROBE warmShared failed: ${e.getMessage}") }
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    for (q <- names) {
      try {
        val (t, c) = (1 to 2).map { _ =>
          // same per-RUN hygiene as graft.Bench.timeOnce: scratch caches
          // cleared behind the keep-set before EVERY timed run, so run 2
          // cannot ride run 1's intermediates (it did before round 12 —
          // probe numbers under-read the sweep for scratch-heavy keys)
          org.apache.spark.sql.graftext.CheckpointBlocks.resetForMeasurement(
            spark, SparkEntry.sharedCaches(spark, sfDir))
          val (_, d) = graft.obs.Stages.measure(
            exec(SparkEntry.queries(q)(spark, sfDir)))
          (d.wallSec, d.cpuSec)
        }.minBy(_._1)
        println(f"PROBE $q%-24s $t%.2f s  cpu $c%.2f s")
      } catch {
        // one broken query must not kill the sweep (Bench does the same)
        case e: Throwable => println(s"PROBE $q FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
