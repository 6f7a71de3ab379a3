package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftext.Scratch
import com.fasterxml.jackson.databind.ObjectMapper
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional trailing names: verify only those queries (local iteration;
    // the driver always passes exactly two args → full run)
    val only = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(q => only.isEmpty || only(q._1))
        .foreach { case (name, fn) =>
      // one scope per key: its scratch frees once the write has read it
      try Scratch.scope(fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name"))
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      oracleJson(SparkEntry.oracleSql))
    spark.stop()
  }

  private val json = new ObjectMapper()

  /** `oracle_sql.json`: key → DuckDB SQL, written by Jackson so every
    * control char, quote and backslash in the SQL is escaped for
    * `json.load`. */
  def oracleJson(sql: Map[String, String]): String = {
    val node = json.createObjectNode()
    sql.foreach { case (k, v) => node.put(k, v) }
    json.writeValueAsString(node)
  }
}
