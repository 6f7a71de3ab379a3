package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Reads back what the file bulk sink wrote — `batch_<id>/part-*.txt`
  * NDJSON, one meta line per action followed by the document line for
  * index actions — and compares its end state with a generator-known one.
  */
object BulkCheck {

  final case class Output(
      finalState: Map[(String, String), (String, String)], // (index, id) → (action, source)
      actions: Long,
      bytes: Long,
      requests: Long,
      batches: Long,
      duplicateKeysInBatch: Long,
      malformedLines: Long)

  private def field(meta: String, name: String): String = {
    val k = "\"" + name + "\":\""
    val i = meta.indexOf(k)
    if (i < 0) null
    else {
      val s = i + k.length
      meta.substring(s, meta.indexOf('"', s))
    }
  }

  def read(bulkDir: Path): Output = {
    val batches = Fs.list(bulkDir)
      .filter(_.getFileName.toString.startsWith("batch_"))
      .map(p => (p.getFileName.toString.stripPrefix("batch_").toLong, p))
      .sortBy(_._1)
    val state = mutable.HashMap[(String, String), (String, String)]()
    var actions, bytes, requests, dups, malformed = 0L
    batches.foreach { case (_, dir) =>
      val seen = mutable.HashSet[(String, String)]()
      Fs.dataFiles(dir, ".txt").foreach { f =>
        requests += 1
        bytes += Files.size(f)
        val it = Files.readAllLines(f, StandardCharsets.UTF_8).iterator().asScala.buffered
        while (it.hasNext) {
          val meta = it.next()
          val action = if (meta.startsWith("{\"")) meta.substring(2, meta.indexOf('"', 2)) else null
          val key = (field(meta, "_index"), field(meta, "_id"))
          if (action == null || key._1 == null || key._2 == null) malformed += 1
          else {
            actions += 1
            if (!seen.add(key)) dups += 1
            val source =
              if (action == "delete") null
              else if (it.hasNext) it.next()
              else { malformed += 1; null }
            state(key) = (action, source)
          }
        }
      }
    }
    Output(state.toMap, actions, bytes, requests, batches.size.toLong, dups, malformed)
  }

  /** Keys whose written end state differs from `expected` (columns
    * index, id, action, source), including keys present on one side only.
    */
  def mismatches(out: Output, expected: DataFrame): (Long, Seq[String]) = {
    val exp = expected.collect().map { r =>
      (r.getString(0), r.getString(1)) -> (r.getString(2), r.getString(3))
    }.toMap
    val bad = (exp.keySet ++ out.finalState.keySet).toSeq.filter { k =>
      exp.get(k) != out.finalState.get(k)
    }
    val samples = bad.take(3).map(k => s"$k expected=${exp.get(k)} written=${out.finalState.get(k)}")
    (bad.size.toLong, samples)
  }

  /** Rows in the parquet files under `dir` except those `skip` names (0
    * when there are none). Files are read by name, so dead-letter layouts
    * of different shapes under one directory do not clash.
    */
  def parquetRows(spark: SparkSession, dir: Path, skip: Path => Boolean = _ => false): Long = {
    val files = Fs.dataFiles(dir, ".parquet").filterNot(skip)
    if (files.isEmpty) 0L else spark.read.parquet(files.map(_.toString): _*).count()
  }

  /** Sum of the connector's per-index action counters. */
  def actionCounters(): Long =
    graft.stream.Metrics.snapshot().collect {
      case (k, v) if k.startsWith("index_total{") || k.startsWith("delete_total{") => v
    }.sum
}
